"""Persisted bigram language model: train once, score forever.

The serve-side twin of ``operators/corpus.py::bigram_lm_perplexity`` —
the same split the repo already gives ANN search (`operators/pq_index`)
and near-dup detection (`operators/dedup_index`): the expensive
corpus-scale pass happens ONCE and lands as parquet artifacts; every
subsequent consumer (batch scoring, dedup-at-ingest-style quality
gating of new arrivals) reads the vocab-sized model and never touches
the training corpus again. This is exactly how CCNet deploys its LM
(Wenzek et al. 2020 train KenLM offline, then score each CommonCrawl
shard against the frozen model).

Artifacts under ``{path}``:

    gen-{fingerprint}/c12   bigram counts  (w1, w2, n12)  — vocab² bound
    gen-{fingerprint}/c1    context counts (w1, n1)       — vocab bound
    _COMPLETE               marker: V (train vocab), the train-corpus
                            fingerprint, and the current generation name

Crash/staleness/concurrency contract (the ADVICE-r4 lessons plus one
more, applied from birth): artifacts are IMMUTABLE generation dirs
published by an atomic staging-dir rename, and the marker flips to the
new generation last — so a crash mid-rebuild leaves the old generation
fully serving, mixed-generation state is unrepresentable, and two
consumers cold-building the same cache concurrently cannot corrupt each
other (the rename loser discards its identical staging copy). The
fingerprint in the marker detects a regenerated-in-place training
corpus (``lm_model_is_current``).

Scoring semantics for NEW text (tokens the frozen model never saw):
add-one smoothing already assigns every unseen bigram the mass
``1 / (c1(w1) + V)`` — and a fully-unseen context word degrades to
``1 / V`` (``c1 = 0``). No retrain-on-score, pinned by the half-train
oracle in ``queries.py::lm_perplexity_served``.

Scale: the model tables are vocab-bound (c1) and vocab²-bound (c12);
the join strategy is left to the planner — AQE broadcasts them while
they fit and shuffle-joins when a real vocabulary makes c12 too big to
ship, which a forced broadcast hint would turn into an OOM. Scoring N
new docs is one map-side-combined (doc, bigram) aggregate plus the
model join; nothing corpus-sized shuffles at serve time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dbsync_spark.functions.text import tokens
from kafka_dbsync_spark.operators.corpus import doc_bigrams
from kafka_dbsync_spark.operators.epoch_log import (
    _COMPLETE,
    gate_foreach_batch,
    gen_name,
    generation_check,
    generation_dir,
    live_generation,
    publish_generation,
    read_marker,
)


def corpus_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """Cheap train-set identity: count + max/sum of ids PLUS a content
    term — the id terms alone (the pq_index/dedup_index shape) are blind
    to a corpus whose text was regenerated in place under the same ids,
    which for a LANGUAGE model is exactly the change that matters. The
    content term hashes (id, text) TOGETHER (crc32 of the pair, summed)
    so moving a text between ids or NULLing a different doc's text also
    changes it; NULL text hashes as a sentinel rather than vanishing
    from the sum."""
    pair = F.concat(
        F.col(id_col).cast("string"),
        F.lit(":"),
        F.coalesce(F.col(text_col).cast("string"), F.lit("\x00<null>")),
    )
    r = docs.agg(
        F.count("*").alias("n"),
        F.max(id_col).alias("mx"),
        F.sum(id_col).alias("sm"),
        F.sum(F.crc32(pair)).alias("ck"),
    ).collect()[0]
    if r["n"] == 0:
        raise ValueError("empty training corpus: nothing to fingerprint/train on")
    return {
        "n": r["n"],
        "max_id": int(r["mx"]),
        "sum_id": int(r["sm"]),
        "content": int(r["ck"]),
    }


def build_lm_model(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: dict | None = None,
    src_path: str | None = None,
) -> None:
    """One corpus pass -> persisted add-one bigram model.

    Publish protocol (concurrent-builder safe, unlike a rebuild-in-place
    — two consumers cold-building the same cache must not corrupt each
    other): artifacts land in an IMMUTABLE generation dir named by the
    train-set fingerprint. The build writes into a pid-suffixed staging
    dir and publishes with one atomic ``os.rename``; a loser whose
    rename finds the generation already present just discards its
    staging copy (the contents are deterministic, so the winner's copy
    is identical). The marker flips to the new generation LAST
    (atomic ``os.replace``), so readers only ever see complete
    generations — the same staging-dir-rename primitive as the
    versioned lake sink's put-if-absent commit."""
    from kafka_dbsync_spark.operators.cache_validation import files_signature

    # the caller may pass the fingerprint it just computed for the
    # staleness check — recomputing would re-scan the whole text column
    fp = fingerprint or corpus_fingerprint(docs, id_col, text_col)
    gen = gen_name(fp)

    def write_stage(stage: str) -> None:
        # r14 opt (VERDICT r13 #6): the two writes are separate jobs, so
        # the gram stream used to tokenize the corpus twice. Persist the
        # vocab-sized c12 table and FOLD c1 from it (n1(w1) = Σ_w2
        # n12(w1, w2) — identical integers), then drop the cache.
        from pyspark import StorageLevel

        grams = doc_bigrams(docs, id_col, text_col)
        c12 = (
            grams.groupBy("w1", "w2")
            .agg(F.count("*").alias("n12"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            c12.write.mode("overwrite").parquet(f"{stage}/c12")
            c12.groupBy("w1").agg(F.sum("n12").alias("n1")).write.mode(
                "overwrite"
            ).parquet(f"{stage}/c1")
        finally:
            c12.unpersist()

    vocab = docs.select(F.explode(tokens(text_col)).alias("tok")).agg(
        F.countDistinct("tok").alias("V")
    ).collect()[0]["V"]
    rec: dict = {"fingerprint": fp, "V": int(vocab)}
    if src_path is not None:
        # metadata signature of the TRAINING SOURCE directory: serves
        # validate from a file listing instead of re-scanning the
        # corpus text on every call (VERDICT r5 #1)
        rec["src_sig"] = files_signature(src_path)
    publish_generation(path, gen, write_stage, rec)


def lm_model_is_current(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: dict | None = None,
    src_path: str | None = None,
    force_exact: bool = False,
) -> bool:
    """True iff the persisted model is servable AND trained on the
    current corpus. With ``src_path`` the check is METADATA-ONLY on the
    happy path (session memo / marker-recorded file-listing signature —
    operators/cache_validation.py); the exact corpus fingerprint (a
    full text scan) runs only when both metadata tiers miss, at most
    once per marker/dataset state per session (VERDICT r5 #1). Without
    ``src_path`` the behavior is the original exact comparison.
    ``force_exact=True`` skips the metadata tiers every call — the
    coarse-mtime-store escape hatch (cache_validation docstring)."""
    from kafka_dbsync_spark.operators.cache_validation import (
        validate_cached_artifact,
    )

    def _exact(meta: dict) -> bool:
        fp = fingerprint or corpus_fingerprint(docs, id_col, text_col)
        return meta.get("fingerprint") == fp

    # a marker without a generation (or whose generation dir is gone) is
    # not servable — report stale so the caller rebuilds. The metadata
    # tiers can't see a vanished generation dir, so this stat runs first.
    meta = read_marker(os.path.join(path, _COMPLETE))
    if generation_dir(path, meta) is None:
        return False
    if src_path is None:
        return _exact(meta)
    return validate_cached_artifact(
        path, src_path, _exact, force_exact=force_exact
    )


def lm_score(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score new documents against the FROZEN persisted model.

    Returns (id_col, n_bigrams, ppl) with the same determinism contract
    as the in-lineage operator: exact integer ratios -> 6-dp DECIMAL log
    terms -> order-independent sums -> one rounded double."""
    meta, gen_dir = live_generation(path, "LM model", "build_lm_model")
    v = int(meta["V"])
    c12 = spark.read.parquet(f"{gen_dir}/c12")
    c1 = spark.read.parquet(f"{gen_dir}/c1")
    doc_grams = (
        doc_bigrams(new_docs, id_col, text_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("k"))
    )
    scored = (
        doc_grams.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .na.fill({"n12": 0, "n1": 0})
        .select(
            id_col,
            "k",
            F.round(
                F.log(
                    (F.col("n12") + 1).cast("double")
                    / (F.col("n1") + F.lit(v)).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("k").alias("n_bigrams"),
        F.sum(F.col("logp") * F.col("k")).alias("sum_logp"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.round(
            F.exp(
                -(F.col("sum_logp").cast("double")) / F.col("n_bigrams").cast("double")
            ),
            4,
        ).alias("ppl"),
    )


def lm_gate_foreach_batch(
    model_path: str,
    accepted_dir: str,
    rejected_dir: str,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    scorer=None,
):
    """Quality gating at ingest: a ``foreachBatch`` function that scores
    each micro-batch against the FROZEN persisted model and routes docs
    to ``accepted_dir`` (ppl <= max_ppl) or ``rejected_dir`` (ppl >
    max_ppl, with the score attached for audit) — the CCNet head/tail
    split applied as a streaming admission filter, and the quality twin
    of ``dedup_index.dedup_ingest_foreach_batch``.

    ``scorer`` is any frozen-model scoring function with the
    ``lm_score`` signature returning (id_col, <count>, ppl) — pass
    ``trigram_score`` to gate on the persisted order-3 model instead
    (the gate reads only the ppl column, so scorers are drop-in).

    Replay: the stateless-gate protocol of ``operators/epoch_log.py``.
    Docs with < 2 tokens score NULL ppl and are rejected with reason
    'too_short'.
    """
    score_fn = scorer or lm_score

    def score(batch_df: DataFrame):
        # persisted by the gate: the scoring lineage (batch scan +
        # doc-n-gram agg + model join) feeds BOTH writes — without it
        # every epoch pays the whole pipeline twice (the dedup-index
        # ingest learned this the hard way; see README's 17.9s note)
        scored = batch_df.join(
            score_fn(
                batch_df.sparkSession, model_path, batch_df, id_col, text_col
            ).select(id_col, "ppl"),
            id_col,
            "left",
        ).drop("n_bigrams")
        return (scored, *_ppl_gate(max_ppl))

    return gate_foreach_batch(accepted_dir, rejected_dir, score)


def _ppl_gate(max_ppl: float):
    """``(accept, reason)`` of a perplexity gate: admit ``ppl <=
    max_ppl``; reject NULL ppl as 'too_short', the rest as
    'high_perplexity'."""
    return F.col("ppl") <= max_ppl, F.when(
        F.col("ppl").isNull(), F.lit("too_short")
    ).otherwise(F.lit("high_perplexity"))


def build_trigram_model(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
    fingerprint: dict | None = None,
    src_path: str | None = None,
) -> None:
    """One corpus pass -> persisted stupid-backoff trigram model
    (operators/corpus.py::trigram_backoff_perplexity, frozen): the
    order-3 serve twin, with the SAME publish protocol as
    ``build_lm_model`` (immutable generation dir, staging rename,
    marker-flips-last, loser-discards) and the same metadata-only
    staleness via ``lm_model_is_current`` — the marker shape (gen +
    fingerprint + src_sig) is model-agnostic, so the bigram checker
    validates this cache unchanged.

    Artifacts under ``gen-*/``: c123 (w1,w2,w3,n123), cb (w1,w2,n —
    both the trigram context and the backoff bigram read this one
    table), cu (w,n). N and V fold from the VOCAB-sized cu parquet
    after publish (never a second corpus pass) and land in the marker
    with ``alpha`` so the scorer is self-describing."""
    from kafka_dbsync_spark.operators.cache_validation import files_signature

    fp = fingerprint or corpus_fingerprint(docs, id_col, text_col)
    gen = gen_name(fp)

    def write_stage(stage: str) -> None:
        # r14 opt (VERDICT r13 #6): three model writes are three jobs,
        # so the corpus used to tokenize THREE times. Persist the token
        # arrays once, derive all three gram streams from the cache
        # (the same window expressions doc_trigrams/doc_bigrams build —
        # ids dropped, the model counts never used them), drop it after.
        from pyspark import StorageLevel

        toks = docs.select(tokens(text_col).alias("toks")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            tri = (
                toks.filter(F.size("toks") >= 3)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(toks) - 2), "
                            "i -> struct(element_at(toks, i) AS w1, "
                            "element_at(toks, i + 1) AS w2, "
                            "element_at(toks, i + 2) AS w3))"
                        )
                    ).alias("g")
                )
                .select("g.w1", "g.w2", "g.w3")
            )
            tri.groupBy("w1", "w2", "w3").agg(
                F.count("*").alias("n123")
            ).write.mode("overwrite").parquet(f"{stage}/c123")
            big = (
                toks.filter(F.size("toks") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(toks) - 1), "
                            "i -> struct(element_at(toks, i) AS w1, "
                            "element_at(toks, i + 1) AS w2))"
                        )
                    ).alias("g")
                )
                .select("g.w1", "g.w2")
            )
            big.groupBy("w1", "w2").agg(F.count("*").alias("n")).write.mode(
                "overwrite"
            ).parquet(f"{stage}/cb")
            toks.select(F.explode("toks").alias("w")).groupBy("w").agg(
                F.count("*").alias("n")
            ).write.mode("overwrite").parquet(f"{stage}/cu")
        finally:
            toks.unpersist()

    def marker_rec(final_dir: str) -> dict:
        r = (
            spark.read.parquet(f"{final_dir}/cu")
            .agg(F.sum("n").alias("N"), F.count("*").alias("V"))
            .collect()[0]
        )
        rec: dict = {
            "fingerprint": fp,
            "N": int(r["N"]),
            "V": int(r["V"]),
            "alpha": float(alpha),
        }
        if src_path is not None:
            rec["src_sig"] = files_signature(src_path)
        return rec

    publish_generation(path, gen, write_stage, marker_rec)


def trigram_score(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score new documents against the FROZEN persisted trigram model:
    identical arithmetic to the in-lineage operator (trigram relative
    frequency, else alpha * bigram, else alpha^2 * add-one unigram),
    with the model read from vocab-sized parquet and N/V/alpha from the
    marker — nothing corpus-sized shuffles at serve time. Returns
    (id_col, n_trigrams, ppl)."""
    from kafka_dbsync_spark.operators.corpus import (
        _decimal_log_sum,
        doc_trigrams,
    )

    meta, gen_dir = live_generation(
        path, "trigram model", "build_trigram_model"
    )
    alpha = float(meta["alpha"])
    nv = int(meta["N"]) + int(meta["V"])
    c123 = spark.read.parquet(f"{gen_dir}/c123")
    cb = spark.read.parquet(f"{gen_dir}/cb")
    cu = spark.read.parquet(f"{gen_dir}/cu")
    dg = (
        doc_trigrams(new_docs, id_col, text_col)
        .groupBy(id_col, "w1", "w2", "w3")
        .agg(F.count("*").alias("k"))
    )
    ctx = cb.select("w1", "w2", F.col("n").alias("n12"))
    b23 = cb.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("n").alias("n23")
    )
    u2 = cu.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    u3 = cu.select(F.col("w").alias("w3"), F.col("n").alias("n3"))
    joined = (
        dg.join(c123, ["w1", "w2", "w3"], "left")
        .join(ctx, ["w1", "w2"], "left")
        .join(b23, ["w2", "w3"], "left")
        .join(u2, "w2", "left")
        .join(u3, "w3", "left")
    )
    p = (
        F.when(
            F.col("n123").isNotNull(),
            F.col("n123").cast("double") / F.col("n12").cast("double"),
        )
        .when(
            F.col("n23").isNotNull(),
            F.lit(alpha) * F.col("n23").cast("double") / F.col("n2").cast("double"),
        )
        .otherwise(
            F.lit(alpha)
            * F.lit(alpha)
            * (F.coalesce(F.col("n3"), F.lit(0)) + 1).cast("double")
            / F.lit(nv).cast("double")
        )
    )
    scored = joined.select(id_col, "k", _decimal_log_sum(p).alias("logp"))
    per_doc = scored.groupBy(id_col).agg(
        F.sum("k").alias("n_trigrams"),
        F.sum(F.col("logp") * F.col("k")).alias("sum_logp"),
    )
    return per_doc.select(
        id_col,
        "n_trigrams",
        F.round(
            F.exp(
                -(F.col("sum_logp").cast("double"))
                / F.col("n_trigrams").cast("double")
            ),
            4,
        ).alias("ppl"),
    )


def moore_lewis_score_served(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Moore-Lewis cross-entropy difference against TWO frozen persisted
    bigram models (operators/corpus.py::moore_lewis_scores is the fused
    twin): ced = H_in - H_out from the in-domain model at ``in_path``
    and the general model at ``out_path``, arithmetic-identical to the
    in-lineage operator (add-one integer ratios, 6-dp DECIMAL logs,
    4-dp final double). This is how the selection DEPLOYS: both models
    train once offline; every new crawl shard pays one doc-bigram agg
    plus two vocab-sized model joins, never a corpus pass.

    Returns (id_col, n_bigrams, ced) — ascending ced = most in-domain.
    """

    def read_model(path: str, tag: str):
        meta, gen_dir = live_generation(path, "LM model", "build_lm_model")
        c12 = spark.read.parquet(f"{gen_dir}/c12").select(
            "w1", "w2", F.col("n12").alias(f"n12_{tag}")
        )
        c1 = spark.read.parquet(f"{gen_dir}/c1").select(
            "w1", F.col("n1").alias(f"n1_{tag}")
        )
        return c12, c1, int(meta["V"])

    c12_in, c1_in, v_in = read_model(in_path, "in")
    c12_out, c1_out, v_out = read_model(out_path, "out")
    dg = (
        doc_bigrams(new_docs, id_col, text_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("k"))
    )
    joined = (
        dg.join(c12_in, ["w1", "w2"], "left")
        .join(c1_in, "w1", "left")
        .join(c12_out, ["w1", "w2"], "left")
        .join(c1_out, "w1", "left")
    )

    def logp(tag: str, v: int):
        return (
            F.round(
                F.log(
                    (F.coalesce(F.col(f"n12_{tag}"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col(f"n1_{tag}"), F.lit(0)) + F.lit(v)).cast(
                        "double"
                    )
                ),
                6,
            )
            .cast("decimal(18,6)")
        )

    scored = joined.select(
        id_col,
        "k",
        logp("in", v_in).alias("lp_in"),
        logp("out", v_out).alias("lp_out"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("k").alias("n_bigrams"),
        F.sum(F.col("lp_in") * F.col("k")).alias("s_in"),
        F.sum(F.col("lp_out") * F.col("k")).alias("s_out"),
    )
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.round(
            (F.col("s_out") - F.col("s_in")).cast("double")
            / F.col("n_bigrams").cast("double"),
            4,
        ).alias("ced"),
    )


def lm_index_check(
    spark: SparkSession, path: str, full: bool = True
) -> DataFrame:
    """``CheckIndex`` for the LM model family — ONE checker for both
    orders, because the marker is self-describing (a trigram marker
    carries ``alpha``/``N``; a bigram marker only ``V``): a ``(check,
    artifact, status, detail)`` report, PASS / WARN (legacy, still
    servable) / FAIL (marker and artifacts disagree — rebuild before
    trusting scores).

    Metadata level (``full=False``): :func:`generation_check` with the
    order's artifact set (bigram ``c12``/``c1``; trigram ``c123``/
    ``cb``/``cu``) — zero data IO.

    Full level, exact recounts (every scalar the scorer trusts):

    - bigram: ``c1(w1) == Σ_w2 c12(w1, w2)`` — both tables fold from
      the SAME doc_bigrams rows, so any inequality is corruption; and
      marker ``V >= distinct(w1 ∪ w2)`` (V counts all corpus tokens,
      bigram members are a subset).
    - trigram: marker ``N == Σ cu.n`` and ``V == count(cu)`` (the
      published scalars fold from cu — the exact derivation
      ``build_trigram_model`` ran at publish); ``cb(w1,w2) >=
      Σ_w3 c123`` with every c123 context PRESENT in cb (the last
      bigram of each doc has no trigram continuation, so >= — a
      missing context or a deficit is corruption)."""
    rec0 = read_marker(os.path.join(path, _COMPLETE)) or {}
    trigram = "alpha" in rec0 or "N" in rec0
    subdirs = ("c123", "cb", "cu") if trigram else ("c12", "c1")
    rows, rec = generation_check(path, subdirs, what="LM model")
    gen_dir = generation_dir(path, rec, subdirs)
    if not full or gen_dir is None:
        return rows.frame(spark)  # a missing artifact already FAILed
    add = rows.add

    if trigram:
        cu = spark.read.parquet(f"{gen_dir}/cu")
        st = cu.agg(
            F.sum("n").alias("N"), F.count(F.lit(1)).alias("V")
        ).head()
        ok = int(st["N"] or 0) == int(rec.get("N", -1)) and int(
            st["V"]
        ) == int(rec.get("V", -1))
        add(
            "marker_scalars_match_cu",
            "cu",
            ok or "FAIL",
            f"cu N={st['N']}/V={st['V']} vs marker "
            f"N={rec.get('N')}/V={rec.get('V')} — the scorer's "
            "denominators",
        )
        re12 = (
            spark.read.parquet(f"{gen_dir}/c123")
            .groupBy("w1", "w2")
            .agg(F.sum("n123").alias("__n"))
        )
        bad = (
            spark.read.parquet(f"{gen_dir}/cb")
            .join(re12, ["w1", "w2"], "full")
            .filter(
                F.col("__n").isNotNull()
                & (F.col("n").isNull() | (F.col("n") < F.col("__n")))
            )
            .count()
        )
        add(
            "cb_covers_c123",
            "",
            bad == 0 or "FAIL",
            f"{bad} (w1,w2) contexts whose trigram mass exceeds (or "
            "misses) the stored bigram count — the backoff ratio "
            "would exceed 1",
        )
    else:
        c12 = spark.read.parquet(f"{gen_dir}/c12")
        re1 = c12.groupBy("w1").agg(F.sum("n12").alias("__n"))
        bad = (
            spark.read.parquet(f"{gen_dir}/c1")
            .join(re1, "w1", "full")
            .filter(
                F.col("n1").isNull()
                | F.col("__n").isNull()
                | (F.col("n1") != F.col("__n"))
            )
            .count()
        )
        add(
            "c1_matches_c12_recount",
            "",
            bad == 0 or "FAIL",
            f"{bad} contexts whose stored n1 disagrees with the c12 "
            "recount — both fold from the same bigram rows",
        )
        vocab_obs = (
            c12.select(F.col("w1").alias("w"))
            .unionByName(c12.select(F.col("w2").alias("w")))
            .agg(F.countDistinct("w").alias("v"))
            .head()["v"]
        )
        add(
            "marker_V_covers_bigram_vocab",
            "",
            int(rec.get("V", -1)) >= int(vocab_obs) or "FAIL",
            f"marker V={rec.get('V')} vs {vocab_obs} distinct bigram "
            "members — V below the observed vocabulary understates "
            "every unseen-mass denominator",
        )
    return rows.frame(spark)
