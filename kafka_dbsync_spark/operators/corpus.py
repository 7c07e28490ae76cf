"""Corpus-level text operators for training-data pipelines.

Three operators a pretraining data pipeline runs at full-corpus scale:

- ``tfidf_top_terms`` — distinctive terms per document. IDF uses the
  *rational* form ``(N + 1) / (df + 1)`` instead of its logarithm: the
  ranking it induces per document is identical (log is monotone) while
  every arithmetic op stays IEEE-correctly-rounded (+,*,/ only), so
  scores are bit-identical across engines — a transcendental ``ln`` is
  not (JVM StrictMath vs libm can differ in the last ulp).
- ``contaminated_docs`` — benchmark decontamination: flag corpus
  documents sharing any word-k-gram shingle with a (small) benchmark
  set. The benchmark side is broadcast — the real-world shape: eval
  suites are MBs while the corpus is TBs, so the join is map-side with
  zero shuffle of the corpus.
- ``pack_sequences`` — GPT-style concat-and-split packing plan: document
  token spans laid head-to-tail in id order within hash buckets, split
  into fixed context windows. Pure integer window arithmetic (exact on
  any engine); buckets bound the window partition so no global sort
  exists at any scale.

Scale notes: tfidf shuffles on (doc, term) then term then doc — all
uniform keys with map-side partial aggregation; decontamination shuffles
nothing on the corpus side; packing shuffles once on the bucket key.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_dbsync_spark.functions.text import normalize_text, token_count, tokens
from kafka_dbsync_spark.operators.dedup import with_shingles
from kafka_dbsync_spark.utils import ensure_parallelism


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` terms per document by tf·(N+1)/(df+1), ties broken by
    term. The score is emitted as ``score_ppm`` — the EXACT integer
    floor of the ratio scaled by 10^6 (engine-portable; see the inline
    comment). Output: (id, rank, term, tf, df, score_ppm)."""
    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = F.broadcast(docs.agg(F.count(F.lit(1)).alias("__n")))
    # score in EXACT integer parts-per-million: floor(tf*(N+1)*1e6/(df+1))
    # via BIGINT division. The previous round(double, 6) form had a
    # guaranteed cross-engine flip whenever the quotient terminated
    # exactly on a 7th-decimal 5 (df+1 a power of two, odd numerator):
    # Spark rounds half-up, DuckDB half-even. Integer floor has no
    # boundary, and the ranking it induces is the same monotone order.
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(n)
        .withColumn(
            "score_ppm",
            F.expr("(tf * (__n + 1) * 1000000) div (df + 1)").cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score_ppm").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score_ppm")
    )


def _tf_batches_fn(id_col: str, units: list):
    """mapInArrow body shared by :func:`bm25_topk` and
    :func:`bm25_phrase_topk` (r13 opt, guide §4.2): per batch, one
    numpy pass codes the token stream (hash-based ``pd.factorize`` —
    no object sort) and counts each query unit — a term (string) or an
    adjacent bigram phrase ((w1, w2) tuple) — per document, replacing
    the per-unit interpreted HOF ``filter`` lambdas (CodegenFallback:
    each ran per element × per unit). Exact-integer outputs
    (dl, tf0..tf{m-1}); empty/NULL text rows emit dl = 0 and zero tfs,
    matching the coalesced-token JVM expression. Overlapping phrase
    occurrences count, exactly as the positional filter counted
    them."""

    def _batches(it):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        for batch in it:
            id_arr = batch.column(id_col)
            texts = batch.column("__bm25_norm").to_pylist()
            nrows = len(texts)
            toks_per_doc = [t.split(" ") if t else () for t in texts]
            sizes = np.fromiter(
                (len(t) for t in toks_per_doc), dtype=np.int64, count=nrows
            )
            tfs = np.zeros((len(units), nrows), dtype=np.int32)
            total = int(sizes.sum())
            if total:
                flat = np.empty(total, dtype=object)
                o = 0
                for t in toks_per_doc:
                    if t:
                        flat[o : o + len(t)] = t
                        o += len(t)
                doc_idx = np.repeat(np.arange(nrows), sizes)
                codes, uniq = pd.factorize(pd.Series(flat), sort=False)
                codes = codes.astype(np.int64)
                idx = pd.Index(uniq)

                def _code(w):
                    return int(idx.get_indexer([w])[0])

                for j, u in enumerate(units):
                    if isinstance(u, str):
                        c = _code(u)
                        if c < 0:
                            continue
                        mask = codes == c
                        np.add.at(tfs[j], doc_idx[mask], 1)
                    else:
                        c1, c2 = _code(u[0]), _code(u[1])
                        if c1 < 0 or c2 < 0 or total < 2:
                            continue
                        mask = (
                            (codes[:-1] == c1)
                            & (codes[1:] == c2)
                            & (doc_idx[:-1] == doc_idx[1:])
                        )
                        np.add.at(tfs[j], doc_idx[:-1][mask], 1)
            cols = [id_arr, pa.array(sizes.astype(np.int32), type=pa.int32())]
            names = [id_col, "dl"]
            for j in range(len(units)):
                cols.append(pa.array(tfs[j], type=pa.int32()))
                names.append(f"__tf{j}")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return _batches


def _tf_per_doc(docs: DataFrame, id_col: str, text_col: str, units: list) -> DataFrame:
    """(id, dl, __tf0..__tf{m-1}) via :func:`_tf_batches_fn` — the
    normalized text is produced by the SAME JVM expression as the HOF
    lineage it replaces (the ``bm25_index._postings_batches_fn``
    tokenization-parity contract: the normalized alphabet is
    single-spaced and trimmed, so ``str.split(" ")`` equals
    ``F.split(norm, " ")`` element-for-element), and every output is an
    exact integer, so the shared Okapi tail computes bit-identical
    scores. ``ensure_parallelism`` keeps the CPU-bound pass off 1-2
    cores on small/few-file scans (no-op on large multi-split
    inputs)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    fields = {f.name: f for f in docs.schema.fields}
    norm = normalize_text(text_col)
    out_schema = StructType(
        [fields[id_col], StructField("dl", IntegerType())]
        + [StructField(f"__tf{j}", IntegerType()) for j in range(len(units))]
    )
    sel = ensure_parallelism(
        docs.select(F.col(id_col), norm.alias("__bm25_norm"))
    )
    return sel.mapInArrow(_tf_batches_fn(id_col, list(units)), out_schema)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` documents for a fixed bag of query terms.

    Scale shape — NO corpus-wide shuffle: the query terms are plan
    literals, so per-document term frequencies come from array filters
    inside one narrow projection (not an explode + groupBy over every
    token); the only wide operations are one scalar aggregate for corpus
    stats (N, Σdl, per-term df — broadcast back) and the final
    TakeOrdered top-k. Ranking a 100 TB corpus costs one scan.

    Scores are rounded to 4 decimals (``score_r``) with doc-id
    tie-breaks, making the ranking reproducible across engines; docs
    matching no query term never surface. Output: (rank, id, score_r).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # r13 opt (guide §4.2): dl and the per-term tfs come from ONE Arrow
    # pass (_tf_per_doc) instead of m interpreted HOF ``filter`` lambdas
    # per row; NULL/empty text emits dl = 0 and zero tfs, exactly as the
    # coalesced-token JVM expression did.
    per_doc = _tf_per_doc(docs, id_col, text_col, list(query_terms))
    return _okapi_topk(per_doc, len(query_terms), id_col, k, k1, b)


def _okapi_topk(
    per_doc: DataFrame,
    m: int,
    id_col: str,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """The shared Okapi tail for term AND phrase queries: ``per_doc``
    carries (id, dl, __tf0..__tf{m-1}); one scalar corpus-stats
    aggregate broadcasts back, the score is the exact left-assoc
    expression tree (evaluation order is part of the result under IEEE
    doubles — the oracle embeds the same order), top-k via
    TakeOrdered. ``per_doc`` is persisted with spill (r13 opt as a
    lazy localCheckpoint; r14 per VERDICT r13 #5): the stats aggregate
    and the scoring scan both read it, and without the shared
    materialization each branch re-runs the whole per-doc tf
    computation. ``persist`` instead of ``localCheckpoint`` keeps the
    lineage REPLAYABLE — an executor loss at 100 TB recomputes the
    lost partitions instead of failing the query — and the blocks
    spill to disk instead of pinning executor memory."""
    per_doc = per_doc.persist(StorageLevel.MEMORY_AND_DISK)
    stats = per_doc.agg(
        F.count("*").alias("__n"),
        F.sum("dl").alias("__sumdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(m)
        ],
    )
    scored = per_doc.join(F.broadcast(stats))
    # literal folding happens in Python so the oracle can embed the same
    # IEEE doubles: k1+1, 1-b are exact for the default 1.2/0.75
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    score = None
    for i in range(m):
        tf = F.col(f"__tf{i}").cast("double")
        dfc = F.col(f"__df{i}").cast("double")
        idf = F.log(
            (F.col("__n").cast("double") - dfc + F.lit(0.5))
            / (dfc + F.lit(0.5))
            + F.lit(1.0)
        )
        term_score = (
            idf
            * (tf * F.lit(k1p1))
            / (
                tf
                + F.lit(k1)
                * (
                    F.lit(one_minus_b)
                    + F.lit(b) * (F.col("dl").cast("double") / avgdl)
                )
            )
        )
        score = term_score if score is None else score + term_score
    any_match = sum(
        (F.col(f"__tf{i}") for i in range(1, m)),
        start=F.col("__tf0"),
    )
    top = (
        scored.filter(any_match > 0)
        .select(F.col(id_col), F.round(score, 4).alias("score_r"))
        .orderBy(F.col("score_r").desc(), F.col(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.col("score_r").desc(), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", id_col, "score_r"
    )


def bm25_phrase_topk(
    docs: DataFrame,
    phrases: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` for a bag of exact BIGRAM PHRASES — Lucene's
    PhraseQuery with slop 0, scored like terms: a phrase's tf is the
    count of ADJACENT (w1, w2) occurrences, its df the number of docs
    with tf > 0, and the Okapi tail (:func:`_okapi_topk`) is shared
    with the term query bit-for-bit.

    Scale shape matches ``bm25_topk``: phrase tfs are narrow
    positional array math over plan-literal words (one filtered
    sequence per phrase — no explode, no token shuffle), corpus stats
    are one scalar aggregate broadcast back, top-k is TakeOrdered. One
    scan ranks any corpus size.
    """
    if not phrases:
        raise ValueError("phrases must be non-empty")
    for p in phrases:
        if len(p) != 2:
            raise ValueError(f"only bigram phrases are supported (got {p!r})")
    # r13 opt (guide §4.2): a phrase's tf is the count of in-document
    # ADJACENT (w1, w2) code pairs in the same Arrow pass the term
    # query uses (_tf_per_doc) — the previous shape materialized a
    # bigram-string array per row and ran one interpreted HOF filter
    # per phrase over it (its own history of rejected formulations is
    # preserved in git). Overlapping occurrences count, exactly as the
    # positional filter counted them.
    per_doc = _tf_per_doc(docs, id_col, text_col, [tuple(p) for p in phrases])
    return _okapi_topk(per_doc, len(phrases), id_col, k, k1, b)


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Corpus documents sharing ≥1 word-``k``-gram shingle with any
    benchmark document. Output: (id, n_shared) — the count of distinct
    shared shingles, the standard n-gram-overlap decontamination test.

    ``benchmark`` rows present in ``docs`` (same id) are not flagged
    against themselves — exclude them upstream if ids overlap."""
    corpus_sh = with_shingles(docs, text_col, k=k).select(
        F.col(id_col), F.explode(F.array_distinct("shingles")).alias("__g")
    )
    bench_sh = (
        with_shingles(benchmark, text_col, k=k)
        .select(F.explode(F.array_distinct("shingles")).alias("__g"))
        .distinct()
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ctx_len: int = 256,
    buckets: int = 8,
) -> DataFrame:
    """Concat-and-split packing plan: docs ordered by id within
    ``hash bucket = id % buckets``, token spans packed head-to-tail and
    cut into ``ctx_len``-token windows. Output per doc: its bucket, token
    count, start offset in the bucket stream, and the first/last context
    window (bin) it lands in — a doc may straddle bins (spill), which is
    exactly how packed pretraining batches are assembled."""
    d = docs.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(buckets)).alias("bucket"),
        token_count(text_col).alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    d = d.withColumn("__cum", F.sum("n_tokens").over(w))
    start = F.col("__cum") - F.col("n_tokens")
    return d.select(
        id_col,
        "bucket",
        "n_tokens",
        start.alias("start_off"),
        F.expr(f"CAST((__cum - n_tokens) div {ctx_len} AS BIGINT)").alias(
            "start_bin"
        ),
        F.expr(
            f"CAST(greatest(__cum - 1, __cum - n_tokens) div {ctx_len} AS BIGINT)"
        ).alias("end_bin"),
    )


def bloom_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    num_hashes: int = 3,
    bits: int = 65536,
) -> DataFrame:
    """Bloom-filter decontamination: like ``contaminated_docs`` but the
    benchmark shingle set is compressed into a ``bits``-wide Bloom
    filter that BROADCASTS as one row — at 100 TB the exact shingle set
    of a large benchmark suite is gigabytes (too big to broadcast, so
    the exact test shuffles the corpus), while the filter is a few KB
    regardless of benchmark size and the corpus side stays a narrow
    map-only scan. The price is deterministic false positives
    (~(1-e^{-kn/m})^k); the output counts FLAGGED shingles, a superset
    of truly-shared ones — callers re-verify flagged docs exactly.

    Hashes are engine-portable: position j of shingle g = the first 4
    hex chars of md5(f"{j}:{g}") (16 bits ⇒ ``bits``=65536, no modulo),
    so an oracle reproduces the exact same false positives. The filter
    is built driver-side from the distinct positions (bounded by
    ``bits`` — index metadata, like IVF centroids) and ships as a
    single boolean-array row."""
    if bits != 65536:
        raise ValueError("bits is fixed at 65536 (positions are 4 hex chars)")

    def positions(g):
        return [
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), g)), 1, 4), 16, 10
            ).cast("long")
            for j in range(num_hashes)
        ]

    bench_pos = (
        with_shingles(benchmark, text_col, k=k)
        .select(F.explode(F.array_distinct("shingles")).alias("__g"))
        .select(F.explode(F.array(*positions(F.col("__g")))).alias("__p"))
        .distinct()
    )
    filt = [False] * bits
    for r in bench_pos.collect():
        filt[int(r["__p"])] = True
    spark = docs.sparkSession
    filt_row = F.broadcast(
        spark.createDataFrame([(filt,)], "__bloom array<boolean>")
    )

    corpus_sh = with_shingles(docs, text_col, k=k).select(
        F.col(id_col), F.explode(F.array_distinct("shingles")).alias("__g")
    )
    withf = corpus_sh.crossJoin(filt_row)
    hit = None
    for p in positions(F.col("__g")):
        term = F.element_at(F.col("__bloom"), (p + 1).cast("int"))
        hit = term if hit is None else (hit & term)
    return (
        withf.filter(hit)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


def _merge_pair_expr(syms_col, a: str, b: str):
    """Replace every greedy-left non-overlapping adjacent (a, b) in a
    symbol array with the merged token ``a+b`` — one BPE merge applied
    to one word, as a single JVM-side fold (no Python, no explode).

    The accumulator carries (out, prev): ``prev`` is the last symbol not
    yet committed; seeing ``b`` while ``prev == a`` commits the merged
    token and clears ``prev`` (so "aaa" under (a,a) → [aa, a] — the
    standard leftmost-first BPE scan). The DuckDB oracle runs the
    identical fold via list_reduce."""
    merged = F.lit(a + b)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc, cur):
        hit = (
            acc["prev"].isNotNull()
            & (acc["prev"] == F.lit(a))
            & (cur == F.lit(b))
        )
        flushed = F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(
            F.struct(flushed.alias("out"), cur.alias("prev"))
        )

    def finish(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(syms_col, init, step, finish)


def bpe_merges(
    docs: DataFrame,
    k: int = 5,
    max_word_len: int = 40,
    text_col: str = "text",
) -> DataFrame:
    """Iterative BPE training (Sennrich et al. 2016), ``k`` merge
    rounds: the real tokenizer-training inner loop, extending the
    single-round statistics of ``bpe_merge_step``.

    Spark shape: training runs on the DISTINCT word VOCABULARY with
    frequencies (one corpus-scale shuffle up front — after that every
    round touches only the vocab table, which is orders of magnitude
    smaller than the corpus at any scale). Each round is (1) a weighted
    adjacent-pair count over the symbol arrays (zip_with + explode, one
    uniform-key agg), (2) a driver collect of the SINGLE argmax row —
    bounded metadata, the same pattern as the k-means/IVF driver loops —
    and (3) a map-only fold applying the merge to every word
    (``_merge_pair_expr``). The vocab is persisted per round so round
    t+1 doesn't recompute rounds 1..t.

    Output: one row per round, (step, left, right, merged, n) — n the
    corpus-weighted count of the pair at merge time. Ties break by
    (left, right) so the trace is engine-portable."""
    spark = docs.sparkSession
    merges, _ = _bpe_train(docs, k, max_word_len, text_col)
    return spark.createDataFrame(
        merges, "step long, left string, right string, merged string, n long"
    )


def bpe_token_counts(
    docs: DataFrame,
    k: int = 5,
    top: int = 30,
    max_word_len: int = 40,
    text_col: str = "text",
) -> DataFrame:
    """The APPLY half of the tokenizer loop: train ``k`` merges
    (``bpe_merges``), tokenize the vocabulary with them, and return the
    corpus-weighted top-``top`` token counts — the segmentation a
    k-merge BPE tokenizer would actually produce. Output:
    (token, n_occ), ties by token."""
    _, final_vocab = _bpe_train(docs, k, max_word_len, text_col)
    return (
        final_vocab.select(F.explode("syms").alias("token"), "n")
        .groupBy("token")
        .agg(F.sum("n").cast("long").alias("n_occ"))
        .orderBy(F.col("n_occ").desc(), "token")
        .limit(top)
    )


def _bpe_train(
    docs: DataFrame, k: int, max_word_len: int, text_col: str
) -> tuple[list[tuple], DataFrame]:
    """Shared trainer: returns (merge trace, final merged vocab DF
    (syms, n)). The final vocab is left unpersisted (callers consume it
    once)."""
    norm = normalize_text(F.col(text_col))
    words = (
        docs.filter(norm != "")
        .select(F.explode(F.split(norm, " ")).alias("w0"))
        .filter(F.col("w0") != "")
        .select(F.substring("w0", 1, max_word_len).alias("w"))
    )
    vocab = words.groupBy("w").agg(F.count("*").alias("n"))
    cur = vocab.select(
        F.filter(F.split("w", ""), lambda x: x != "").alias("syms"), "n"
    ).persist()
    persisted = [cur]
    merges: list[tuple] = []
    try:
        for step_no in range(1, k + 1):
            pairs = cur.select(
                F.explode(
                    F.zip_with(
                        F.slice(
                            F.col("syms"), 1,
                            F.greatest(F.size("syms") - 1, F.lit(0)),
                        ),
                        F.slice(
                            F.col("syms"), 2,
                            F.greatest(F.size("syms") - 1, F.lit(0)),
                        ),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
                "n",
            )
            top = (
                pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            merges.append((step_no, a, b, a + b, cnt))
            cur = cur.select(
                _merge_pair_expr(F.col("syms"), a, b).alias("syms"), "n"
            ).persist()
            persisted.append(cur)
    finally:
        # the final vocab stays computable from lineage after unpersist;
        # intermediate rounds were materialized by each round's collect
        for p in persisted:
            p.unpersist()
    return merges, cur.select("syms", "n")


# ---------------------------------------------------------------------------
# LM-based quality scoring (CCNet) and importance resampling (DSIR)
# ---------------------------------------------------------------------------
def _shared(df: DataFrame) -> DataFrame:
    """Mark a projection that several differently-pruned consumers read
    as SHARED: persist with spill (guide §5.4, r14 opt — VERDICT r13
    #6). Catalyst's ReusedExchange only fires when consumer subtrees
    are byte-identical; different column pruning per consumer defeats
    it, so before this each extra consumer re-ran the whole
    tokenize+explode+shuffle lineage (measured r13: the LM family paid
    3 redundant tokenizing scans). Unlike ``localCheckpoint`` the
    lineage stays REPLAYABLE — an executor loss at 100 TB recomputes
    the partition instead of failing the query — and blocks spill to
    disk instead of pinning executor memory."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _decimal_log_sum(col, scale: int = 6):
    """round(ln(x), scale) cast to an exact DECIMAL so the per-document
    SUM is order-independent (bit-identical on any engine).  The only
    cross-engine hazard left is a last-ulp `ln` difference landing
    exactly on a rounding boundary — probability ~1e-10 per distinct
    integer ratio, and the inputs are exact integer ratios shared by
    construction."""
    return F.round(F.log(col), scale).cast("decimal(18,6)")


def doc_bigrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *extra, w1, w2) bigram stream of the normalized-token
    documents — the SINGLE definition shared by the in-lineage scorer
    below and the persisted model in operators/lm_index.py (they must
    tokenize identically or their scores drift apart). ``extra_cols``
    ride along unchanged (e.g. a language column for per-group
    models)."""
    toks = docs.select(id_col, *extra_cols, tokens(text_col).alias("toks")).filter(
        F.size("toks") >= 2
    )
    return toks.select(
        id_col,
        *extra_cols,
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
            )
        ).alias("g"),
    ).select(id_col, *extra_cols, "g.w1", "g.w2")


def bigram_lm_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document by its perplexity under an n-gram LM,
    so downstream filtering can keep the low-perplexity (fluent) head.
    CCNet uses a pretrained KenLM; with no model artifacts in the
    container the LM here is an add-one-smoothed bigram model trained on
    the corpus itself — the same scoring shape (the model is an input, a
    swap-in at deployment).

    Determinism contract: p(w2|w1) = (c12 + 1) / (c1 + V) is an exact
    integer ratio; ln(p) is rounded to 6 decimals and summed as DECIMAL
    (order-independent), and only the final exp(-sum/n) is a rounded
    double.

    Scale: the model is VOCAB-sized (unigram + bigram count tables), not
    corpus-sized; the corpus-side cost is one map-side-combined shuffle
    of per-doc bigram counts joined against the model — the model tables
    broadcast when small, shuffle-join when not. No Python UDFs.

    ``group_col`` trains a SEPARATE model per group (CCNet's actual
    per-language design — Wenzek et al. train one KenLM per language):
    every model key gains the group column (counts, vocab, smoothing
    all per group), at the same vocab-sized cost summed over groups.
    Documents are assumed to belong to one group (the column rides the
    doc rows).

    Returns (id_col, n_bigrams, ppl) — plus ``group_col`` when given.
    """
    gcols = [group_col] if group_col else []
    grams = doc_bigrams(docs, id_col, text_col, extra_cols=tuple(gcols))
    # per-doc bigram multiplicity first: compresses repeats before joins.
    # c12 folds doc_grams' k (its exchange is REUSED — ReusedExchange in
    # the static plan); c1 aggregates the gram stream directly, because
    # deriving it from c12 breaks exchange reuse (different column
    # pruning) and re-runs both upstream shuffles in that branch.
    # r14 note (VERDICT r13 #6): a persisted doc_grams with both
    # marginals folded from it was built, measured and REVERTED — the
    # standalone query was mixed (sf1 best 2.90 → 2.35 s, sf0.1 median
    # worse), but the two heaviest suite riders lost ~1 s each
    # (curation_pipeline_v4 3.95 → 5.00 s, ccnet_pipeline 4.52 → 5.33 s
    # median, attributed by single-operator patching in the interleaved
    # harness): the pipelines already materialize the scores lineage,
    # so the extra cache fill is pure cost there.
    doc_grams = grams.groupBy(id_col, *gcols, "w1", "w2").agg(
        F.count("*").alias("k")
    )
    c12 = doc_grams.groupBy(*gcols, "w1", "w2").agg(F.sum("k").alias("n12"))
    c1 = grams.groupBy(*gcols, "w1").agg(F.count("*").alias("n1"))
    if group_col:
        vocab = (
            docs.select(group_col, F.explode(tokens(text_col)).alias("tok"))
            .groupBy(group_col)
            .agg(F.countDistinct("tok").alias("V"))
        )
        with_model = (
            doc_grams.join(c12, [*gcols, "w1", "w2"])
            .join(c1, [*gcols, "w1"])
            .join(F.broadcast(vocab), group_col)
        )
    else:
        vocab = (
            docs.select(F.explode(tokens(text_col)).alias("tok"))
            .agg(F.countDistinct("tok").alias("V"))
        )
        with_model = (
            doc_grams.join(c12, ["w1", "w2"])
            .join(c1, "w1")
            .crossJoin(F.broadcast(vocab))
        )
    scored = with_model.select(
        id_col,
        *gcols,
        "k",
        _decimal_log_sum(
            (F.col("n12") + 1).cast("double") / (F.col("n1") + F.col("V")).cast("double")
        ).alias("logp"),
    )
    per_doc = scored.groupBy(id_col, *gcols).agg(
        F.sum("k").alias("n_bigrams"),
        F.sum(F.col("logp") * F.col("k")).alias("sum_logp"),
    )
    ppl = F.round(
        F.exp(-(F.col("sum_logp").cast("double")) / F.col("n_bigrams").cast("double")), 4
    )
    return per_doc.select(id_col, *gcols, "n_bigrams", ppl.alias("ppl"))


def doc_trigrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, w1, w2, w3) trigram stream of the normalized-token documents
    (docs with >= 3 tokens) — same tokenization as ``doc_bigrams`` so the
    bigram and trigram models of one corpus agree on vocabulary."""
    toks = docs.select(id_col, tokens(text_col).alias("toks")).filter(
        F.size("toks") >= 3
    )
    return toks.select(
        id_col,
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2, "
                "element_at(toks, i + 2) AS w3))"
            )
        ).alias("g"),
    ).select(id_col, "g.w1", "g.w2", "g.w3")


def trigram_backoff_perplexity(
    train_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the backoff designed FOR
    distributed count-table LMs: no discounting pass, just relative
    frequencies and a fixed backoff factor, which is why it MapReduces
    and why it Sparks). Score of a trigram under the model trained on
    ``train_docs``:

        s(w3 | w1 w2) = n123 / n12                     if n123 > 0
                      = alpha * n23 / n2               elif n23 > 0
                      = alpha^2 * (n3 + 1) / (N + V)   otherwise

    (the last line is an add-one unigram floor so out-of-vocabulary
    tokens score finitely). Per-doc score is the perplexity-style
    exp(-mean log s) over the doc's trigrams, so low = fluent-under-
    the-model, same polarity as ``bigram_lm_perplexity``.

    Train/score are SEPARATE inputs — the frozen-model deployment shape
    (train on yesterday's corpus, score today's): unseen trigrams
    actually back off, which never happens when a model scores its own
    training set.

    Determinism contract: all counts are exact integers; each CASE arm
    is a fixed left-associated chain of IEEE-correctly-rounded * and /
    (alpha enters as the same literal on both engines), ln is rounded
    to 6 decimals and summed as DECIMAL per doc — order-independent,
    bit-identical across engines.

    Scale: the model is three vocab-sized count tables (trigram, bigram,
    unigram) + one 1-row total; the score-side cost is one map-side-
    combined per-doc trigram aggregate and five model joins that the
    planner broadcasts while the tables fit (shuffle-hash beyond).
    Nothing corpus-sized joins corpus-sized; no Python UDFs.

    Returns (id_col, n_trigrams, ppl).
    """
    # r14 note (VERDICT r13 #6): a shared persisted token-array
    # projection across the three model tables was BUILT, measured and
    # REVERTED — caching corpus-sized string arrays lost to the three
    # map-side-combined explode aggregates it replaced (interleaved A/B
    # at sf1: old median 2.95 s vs new 4.93 s for lm_trigram_backoff;
    # flat-to-worse at sf0.1). The columnar cache write/read of the
    # token arrays costs more than two extra tokenize scans at every
    # scale the bench can see — the same verdict as r13's map-only gram
    # kernel experiment.
    tri = doc_trigrams(train_docs, id_col, text_col)
    c123 = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("n123"))
    big = doc_bigrams(train_docs, id_col, text_col)
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    uni = train_docs.select(F.explode(tokens(text_col)).alias("w"))
    cu = uni.groupBy("w").agg(F.count("*").alias("n"))
    # N and V fold from the vocab-sized count table, not the corpus-sized
    # token stream — one fewer full-corpus pass in the model lineage
    tot = cu.agg(F.sum("n").alias("N"), F.count("*").alias("V"))

    dg = (
        doc_trigrams(score_docs, id_col, text_col)
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
        .crossJoin(F.broadcast(tot))
    )
    # n123 non-null implies n12 non-null (a train trigram at position i
    # contributes its context bigram at i), and n23 non-null implies n2
    # non-null — the CASE arms never divide by NULL.
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
            / (F.col("N") + F.col("V")).cast("double")
        )
    )
    scored = joined.select(
        id_col, "k", _decimal_log_sum(p).alias("logp")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("k").alias("n_trigrams"),
        F.sum(F.col("logp") * F.col("k")).alias("sum_logp"),
    )
    ppl = F.round(
        F.exp(
            -(F.col("sum_logp").cast("double")) / F.col("n_trigrams").cast("double")
        ),
        4,
    )
    return per_doc.select(id_col, "n_trigrams", ppl.alias("ppl"))


def dsir_importance_weights(
    docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): log p_target(x) -
    log p_raw(x) under bag-of-words unigram models, so resampling the
    raw corpus by weight shifts it toward the target domain.  Both
    models are add-one-smoothed over the SHARED raw-corpus vocabulary
    (tokens outside it contribute the same smoothed mass to both sides).

    Same determinism contract as ``bigram_lm_perplexity``: exact integer
    ratios -> 6-decimal DECIMAL log terms -> exact weighted sum; the
    returned ``dsir_weight`` is that exact decimal sum cast to double at
    its native 6-dp scale (never re-rounded — see the inline comment).

    Scale: the two unigram tables are vocab-sized and broadcastable; the
    raw corpus is touched by exactly one map-side-combined (doc, token)
    count + one join against the model — the DSIR paper's hashed-ngram
    variant replaces the vocab join with a fixed-width modulo bucket,
    which this layout degrades to by substituting the token key.
    """
    # r14 note (VERDICT r13 #6): persisting doc_toks (it feeds the raw
    # model AND the final weighting join) was built, measured and
    # REVERTED — single-operator attribution in the interleaved harness
    # put the persisted shape at 1.75 s median vs 1.21 s for this exact
    # lineage at sf0.1, and it cost curation_pipeline_v4 ~0.5-1 s on
    # top: the cache fill + barrier outweigh the one tokenize scan it
    # saves at every scale the bench can see.
    doc_toks = (
        docs.select(id_col, F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("k"))
    )
    raw_counts = doc_toks.groupBy("tok").agg(F.sum("k").alias("cr"))
    tgt_counts = (
        target_docs.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("ct"))
    )
    totals = raw_counts.agg(
        F.sum("cr").alias("Nr"), F.count("*").alias("V")
    ).crossJoin(
        tgt_counts.agg(F.sum("ct").alias("Nt"))
    )
    model = (
        raw_counts.join(tgt_counts, "tok", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            (
                _decimal_log_sum((F.col("ct") + 1).cast("double") / (F.col("Nt") + F.col("V")).cast("double"))
                - _decimal_log_sum((F.col("cr") + 1).cast("double") / (F.col("Nr") + F.col("V")).cast("double"))
            ).alias("log_ratio"),
        )
    )
    # the weight is emitted at the sum's NATIVE 6-dp decimal scale, cast
    # to double with no re-rounding: the sum is exact on any engine, and
    # re-rounding it would reintroduce half-boundary divergence (Spark
    # rounds half-up, DuckDB half-even — a weight landing exactly on
    # x.xxxx5 flips between them; observed in the wild at sf0.01)
    weighted = doc_toks.join(model, "tok").groupBy(id_col).agg(
        F.sum("k").alias("n_tokens"),
        F.sum(F.col("log_ratio") * F.col("k")).cast("double").alias("dsir_weight"),
    )
    return weighted


def score_bin(score_col, bin_decimals: int = 2):
    """Fixed-width histogram bin of a rounded score: floor of the score
    scaled to an integer at ``bin_decimals`` places, via a DECIMAL hop
    so Spark and DuckDB bin identically (double->long truncation vs
    rounding differs between the engines; double->DECIMAL(18,4) agrees,
    and DECIMAL arithmetic from there is exact)."""
    return F.floor(
        F.col(score_col).cast("decimal(18,4)") * (10 ** bin_decimals)
    ).cast("long")


def histogram_cut_values(
    scores: DataFrame,
    score_col: str,
    cuts: tuple[tuple[int, int], ...] = ((1, 3), (2, 3)),
    bin_decimals: int = 2,
    max_bins: int = 1_000_000,
) -> tuple[list[int | None], int]:
    """Corpus split cut points from a deterministic fixed-width
    histogram — the scale-safe replacement for a global rank (VERDICT
    r5 #2). CCNet's head/middle/tail split needs only the score VALUES
    at the fraction boundaries, and those come from cumulative
    histogram counts: ONE map-side-combined groupBy over the score
    bins is the only corpus-sized work; the histogram itself is
    value-range-bounded metadata (~10^4 rows for a 2-decimal bin over
    a realistic perplexity range), so it is collected and the running
    totals + argmin run driver-side in exact integer arithmetic —
    linear in the bin count (VERDICT r6 advice: the previous
    triangular self-join was O(B^2) and unbounded scores could blow it
    up; a linear driver-side cumsum has no such cliff). No window, no
    single-partition exchange, no global sort; assignment downstream
    is a per-row comparison against literal cut values.

    ``cuts`` are exact integer fractions (numerator, denominator);
    cut_i is the smallest bin whose cumulative count reaches num/den
    of the total — integer arithmetic end to end, so a DuckDB oracle
    reproduces it bit-for-bit. Runs ONE Spark action (the histogram
    collect). Callers that also assign buckets should localCheckpoint
    the scores lineage first so it materializes exactly once.

    Returns ``([cut_0, ..., cut_{len(cuts)-1}], n)``; each cut is
    None when the input is empty.

    ``max_bins`` bounds the driver-side collect: scores are unbounded
    above (unseen-token-heavy docs can push perplexity — and hence the
    bin count — arbitrarily high), and silently collecting a
    pathological histogram would trade the old O(B^2) cliff for a
    driver-memory one. Exceeding the bound raises with guidance
    (coarsen ``bin_decimals``) instead of degrading quietly."""
    # one action: fetch at most max_bins+1 aggregated rows — when the
    # cap holds that IS the whole histogram, when it doesn't we raise
    # without ever materializing the pathological remainder
    hist = (
        scores.select(score_bin(score_col, bin_decimals).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("c"))
        .limit(max_bins + 1)
        .collect()
    )
    if len(hist) > max_bins:
        raise ValueError(
            f"score histogram exceeds max_bins={max_bins} distinct "
            f"{bin_decimals}-decimal bins; coarsen bin_decimals (each "
            "step divides the bin count by 10) or raise max_bins"
        )
    if any(r["bin"] is None for r in hist):
        raise ValueError(
            "NULL score bin in histogram (a NULL score column value, "
            "e.g. from a NULL-text document); filter or score NULLs "
            "upstream — a fraction cut over NULL bins is undefined"
        )
    pairs = sorted((r["bin"], r["c"]) for r in hist)
    n = sum(c for _, c in pairs)
    out: list[int | None] = []
    for num, den in cuts:
        cut = None
        seen = 0
        for b, c in pairs:
            seen += c
            if seen * den >= n * num:
                cut = b
                break
        out.append(cut)
    return out, n


def grouped_histogram_cut_values(
    df: DataFrame,
    group_col: str,
    score_col: str,
    cuts: tuple[tuple[int, int], ...] = ((1, 3), (2, 3)),
    bin_decimals: int = 2,
    max_rows: int = 1_000_000,
) -> dict:
    """Per-group fraction cut points — the grouped twin of
    :func:`histogram_cut_values` (CCNet computes its perplexity
    thresholds PER LANGUAGE, not over the pooled corpus): for each
    group, cut_i is the smallest bin whose cumulative count reaches
    num/den of the group's total. ONE map-side-combined (group, bin)
    histogram aggregate is the only data-sized work; the cumsum and
    argmin fold driver-side in exact integer arithmetic over
    groups x bins rows of metadata (``max_rows``-guarded collect).

    Returns ``{group: [cut_0, ..., cut_{len(cuts)-1}]}``; a group with
    no rows is simply absent."""
    hist = (
        df.select(group_col, score_bin(score_col, bin_decimals).alias("bin"))
        .groupBy(group_col, "bin")
        .agg(F.count("*").alias("c"))
        .limit(max_rows + 1)
        .collect()
    )
    if len(hist) > max_rows:
        raise ValueError(
            f"(group, bin) histogram exceeds max_rows={max_rows}; "
            "coarsen bin_decimals or raise max_rows"
        )
    if any(r[group_col] is None or r["bin"] is None for r in hist):
        raise ValueError(
            f"NULL {group_col} or score bin in grouped histogram; "
            "filter or score NULLs upstream — the driver-side fold "
            "cannot order NULL against integer bins"
        )
    by_group: dict = {}
    for r in hist:
        by_group.setdefault(r[group_col], []).append((r["bin"], r["c"]))
    out: dict = {}
    for g, pairs in by_group.items():
        n = sum(c for _, c in pairs)
        gcuts: list = []
        for num, den in cuts:
            cut = None
            seen = 0
            for b, c in sorted(pairs):
                seen += c
                if seen * den >= n * num:
                    cut = b
                    break
            gcuts.append(cut)
        out[g] = gcuts
    return out


def grouped_budget_cut_values(
    df: DataFrame,
    group_col: str,
    bin_col: str,
    weight_col: str,
    budget: int,
    max_rows: int = 1_000_000,
) -> dict:
    """Per-group budgeted-head cut points: for each group, the LARGEST
    integer bin value ``c`` such that the rows with ``bin_col >= c``
    carry at least ``budget`` total weight — i.e. take bins from the
    top until the budget is met; None when the group's total weight is
    under budget (keep everything). The budgeted-curation operator: a
    pretraining mix wants "the highest-quality documents from each
    source up to N tokens", and at 100 TB that selection cannot be a
    per-source ORDER BY — here it is ONE map-side-combined
    (group, bin) weighted histogram (groups x distinct-bins rows of
    metadata; for floor-scaled basis-point scores that is at most
    10001 bins per group), collected and folded driver-side with an
    exact integer cumsum, the same discipline as
    :func:`histogram_cut_values`. Assignment downstream is a per-row
    comparison against the broadcast per-group cut table.

    Value-cut semantics (shared with histogram_cut_values): every row
    in the cut bin is kept, so the selected weight may overshoot the
    budget by at most one bin's weight — deterministic and
    oracle-reproducible, unlike a row-level greedy cutoff whose
    tie-break inside the boundary bin an engine-portable oracle cannot
    express cheaply.

    ``max_rows`` guards the driver collect (groups x bins is metadata
    by contract; raise rather than degrade if a caller feeds an
    unbounded bin domain)."""
    hist = (
        df.groupBy(group_col, bin_col)
        .agg(F.sum(weight_col).alias("w"))
        .limit(max_rows + 1)
        .collect()
    )
    if len(hist) > max_rows:
        raise ValueError(
            f"(group, bin) histogram exceeds max_rows={max_rows}; "
            "coarsen the bin column or raise max_rows"
        )
    if any(r[group_col] is None or r[bin_col] is None for r in hist):
        raise ValueError(
            f"NULL {group_col} or {bin_col} in grouped weighted "
            "histogram; filter or bin NULLs upstream — the driver-side "
            "fold cannot order NULL against integer bins"
        )
    by_group: dict = {}
    for r in hist:
        by_group.setdefault(r[group_col], []).append((r[bin_col], r["w"]))
    cuts: dict = {}
    for g, pairs in by_group.items():
        cum = 0
        cut = None
        for b, w in sorted(pairs, reverse=True):
            cum += w
            if cum >= budget:
                cut = b
                break
        cuts[g] = cut
    return cuts


def histogram_cut_bins(
    scores: DataFrame,
    score_col: str,
    cuts: tuple[tuple[int, int], ...] = ((1, 3), (2, 3)),
    bin_decimals: int = 2,
) -> DataFrame:
    """DataFrame face of :func:`histogram_cut_values`: ONE literal row
    (cut_0, ..., cut_{len(cuts)-1}, n) with no lineage into ``scores``
    — broadcast-joining it downstream costs nothing and never re-runs
    the score computation. The cut points are computed eagerly (one
    histogram action) at call time."""
    vals, n = histogram_cut_values(scores, score_col, cuts, bin_decimals)
    fields = ", ".join(f"cut_{i} long" for i in range(len(cuts))) + ", n long"
    return scores.sparkSession.createDataFrame(
        [tuple(vals) + (n if n > 0 else None,)], fields
    )


def moore_lewis_scores(
    seed: DataFrame,
    pool: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-entropy difference data selection (Moore & Lewis 2010,
    "Intelligent Selection of Language Model Training Data"): score
    every pool document by H_in(d) - H_out(d), the per-token
    cross-entropy under an in-domain LM (trained on ``seed``) minus
    that under a general LM (trained on ``pool``). Documents that the
    in-domain model finds easy RELATIVE to the general model rank first
    — the classic trick that beats a raw in-domain perplexity cut,
    which just rewards short common words.

    Both models are the engine's standard add-one-smoothed bigram LM
    (the same tokenization and decimal contract as
    ``bigram_lm_perplexity`` — the scores are comparable). Unseen
    events degrade gracefully through the smoothing:
    p = (n12 + 1) / (n1 + V) with missing counts as 0.

    Determinism: exact integer-ratio probabilities, ln rounded to 6
    decimals summed as DECIMAL (order-independent); only the final
    per-token difference is a rounded double.

    Scale: both models are VOCAB-sized count tables (broadcastable);
    the pool pays ONE per-doc bigram shuffle and the seed one model
    aggregation pass — no all-pairs, no corpus-sized join sides.

    Returns (id_col, n_bigrams, ced) — ced in nats/token, ascending =
    most in-domain. Pool docs with < 2 tokens produce no bigrams and
    are excluded (no LM opinion exists for them).
    """

    def vocab(d: DataFrame, tag: str):
        # V covers ALL tokens (single-token docs too), so it cannot fold
        # from the bigram tables — one narrow pass each side, same as
        # bigram_lm_perplexity
        return d.select(F.explode(tokens(text_col)).alias("tok")).agg(
            F.countDistinct("tok").alias(f"V_{tag}")
        )

    # r14 opt (VERDICT r13 #6, guide §5.4): each side's per-gram count
    # table is persisted and its w1-marginal FOLDS from it — n1(w1) is
    # the number of gram occurrences with that w1, i.e. Σ_w2 n12(w1,w2)
    # — identical integers. Before, c1_in/c1_out re-aggregated the raw
    # gram stream (ReusedExchange cannot fire across differently-pruned
    # consumers), so the seed tokenized twice and the pool three times.
    c12_in = _shared(
        doc_bigrams(seed, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n12_in"))
    )
    c1_in = c12_in.groupBy("w1").agg(F.sum("n12_in").alias("n1_in"))
    v_in = vocab(seed, "in")
    v_out = vocab(pool, "out")
    dg = _shared(
        doc_bigrams(pool, id_col, text_col)
        .groupBy(id_col, "w1", "w2")
        .agg(F.count("*").alias("k"))
    )
    c12_out = dg.groupBy("w1", "w2").agg(F.sum("k").alias("n12_out"))
    c1_out = dg.groupBy("w1").agg(F.sum("k").alias("n1_out"))
    # out-model joins are INNER: every pool bigram is in the pool model
    # by construction. The in-model joins are genuinely left (seed gaps).
    joined = (
        dg.join(c12_out, ["w1", "w2"])
        .join(c1_out, "w1")
        .join(c12_in, ["w1", "w2"], "left")
        .join(c1_in, "w1", "left")
        .crossJoin(F.broadcast(v_in))
        .crossJoin(F.broadcast(v_out))
    )

    def logp(tag: str):
        return _decimal_log_sum(
            (F.coalesce(F.col(f"n12_{tag}"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col(f"n1_{tag}"), F.lit(0)) + F.col(f"V_{tag}")).cast(
                "double"
            )
        )

    scored = joined.select(
        id_col, "k", logp("in").alias("lp_in"), logp("out").alias("lp_out")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("k").alias("n_bigrams"),
        F.sum(F.col("lp_in") * F.col("k")).alias("s_in"),
        F.sum(F.col("lp_out") * F.col("k")).alias("s_out"),
    )
    # H_in - H_out = (-s_in + s_out) / n
    return per_doc.select(
        id_col,
        "n_bigrams",
        F.round(
            (F.col("s_out") - F.col("s_in")).cast("double")
            / F.col("n_bigrams").cast("double"),
            4,
        ).alias("ced"),
    )


def nb_domain_classify(
    train: DataFrame,
    score: DataFrame,
    class_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multinomial naive-Bayes domain classification (the fastText-less
    stand-in for the quality/domain classifiers every curation pipeline
    runs — e.g. GPT-3/LLaMA's CommonCrawl-vs-reference classifier):
    train per-class token likelihoods with add-one smoothing on a
    labeled corpus, then label new documents with the argmax class of
    ``ln prior + sum_tok k * ln p(tok|class)``.

    Determinism: priors and likelihoods are exact integer ratios, their
    logs 6-dp DECIMALs, so per-(doc, class) scores are EXACT decimal
    sums — the argmax (score desc, class asc) is engine-portable even
    at ties, no float-ordering hazard.

    Scale: the model is (vocab x classes)-bound counts plus one prior
    row per class — broadcastable; scoring explodes each doc's DISTINCT
    tokens once and crosses them with the class list (a C-way fanout of
    the token stream, the standard NB cost; C is small). One map-side-
    combined (doc, token) agg, one (doc, class) agg, one per-doc argmax
    window over C rows. No Python UDFs.

    Returns (id_col, pred) — add the true label downstream for
    confusion reporting.

    Split into :func:`nb_train_tables` + :func:`nb_score_tables` so the
    persisted serve twin (``operators/nb_index.py``) runs the SAME
    scoring arithmetic over frozen parquet model tables — build/serve
    arithmetic-identical by construction.
    """
    counts, totals, vocab, priors = nb_train_tables(
        train, class_col, text_col
    )
    return nb_score_tables(
        score, counts, totals, vocab, priors, id_col, text_col
    )


def nb_train_tables(
    train: DataFrame,
    class_col: str = "source",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The NB model AS TABLES — (counts(cls, tok, ct), totals(cls, tc),
    vocab(V), priors(cls, lprior)): exact integer counts plus 6-dp
    decimal log-priors, (vocab × classes)-bound, broadcastable. These
    four frames ARE the persisted artifact set of ``nb_index.py``."""
    toks_tr = train.select(
        F.col(class_col).alias("cls"), F.explode(tokens(text_col)).alias("tok")
    )
    # r14 note (VERDICT r13 #6): persisting counts here (three
    # differently-pruned consumers) was built, measured and REVERTED
    # for the in-lineage path — interleaved A/B: nb_source_predict
    # 1.93 → 2.22 s at sf0.1, flat-to-worse at sf1; within one job the
    # partial-agg subtrees are cheap enough that the cache barrier
    # never pays. The SERVE build (nb_index.build_nb_model), whose
    # three table writes are separate JOBS that genuinely cannot share
    # a stage, persists counts imperatively instead.
    counts = toks_tr.groupBy("cls", "tok").agg(F.count("*").alias("ct"))
    totals = counts.groupBy("cls").agg(F.sum("ct").alias("tc"))
    vocab = counts.select("tok").distinct().agg(F.count("*").alias("V"))
    priors = (
        train.groupBy(F.col(class_col).alias("cls"))
        .agg(F.count("*").alias("nc"))
        .crossJoin(F.broadcast(train.agg(F.count("*").alias("N"))))
        .select(
            "cls",
            _decimal_log_sum(
                F.col("nc").cast("double") / F.col("N").cast("double")
            ).alias("lprior"),
        )
    )
    return counts, totals, vocab, priors


def nb_score_tables(
    score: DataFrame,
    counts: DataFrame,
    totals: DataFrame,
    vocab: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Label documents against NB model tables (frozen or just-built):
    one map-side-combined (doc, token) agg, a C-way class fanout
    against the broadcast model, one per-doc argmax window over C rows.
    Add-one smoothing prices tokens the frozen model never saw as
    ``1 / (tc + V)`` — no retrain-on-score."""
    from pyspark.sql import Window as W

    dt = (
        score.select(id_col, F.explode(tokens(text_col)).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("k"))
    )
    classes = totals.join(F.broadcast(vocab.crossJoin(priors.select("cls", "lprior"))), "cls")
    fanned = (
        dt.join(F.broadcast(classes.select("cls", "tc", "V")), how="cross")
        .join(counts, ["cls", "tok"], "left")
        .select(
            id_col,
            "cls",
            "k",
            _decimal_log_sum(
                (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                / (F.col("tc") + F.col("V")).cast("double")
            ).alias("lp"),
        )
    )
    per_doc_class = (
        fanned.groupBy(id_col, "cls")
        .agg(F.sum(F.col("lp") * F.col("k")).alias("s"))
        .join(F.broadcast(priors), "cls")
        .select(id_col, "cls", (F.col("s") + F.col("lprior")).alias("score"))
    )
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("cls"))
    return (
        per_doc_class.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(id_col, F.col("cls").alias("pred"))
    )


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Per-document benchmark-overlap MEASUREMENT — the instrument the
    published decontamination methodology actually reports (GPT-3
    appendix C / Llama 2 A.6 measure the FRACTION of a document's
    n-grams colliding with an eval set and pick a dirty threshold;
    :func:`contaminated_docs` is the boolean filter this calibrates):
    for every corpus doc, its distinct word-``k``-gram count, the
    number colliding with the benchmark set, and the overlap in floor
    basis points (exact integer division — engine-portable).

    Same plan shape as the filter: the benchmark shingle set is
    broadcast (eval sets are tiny next to a corpus), the corpus side
    is one explode + one map-side-combined per-doc aggregate.
    Output: (id, n_grams, n_hit, overlap_bp).

    Split so the persisted-benchmark twin (``operators/
    decontam_index.py``) scores against a FROZEN gram table with the
    same arithmetic: :func:`benchmark_grams` builds the set,
    :func:`contamination_stats_against` measures against any gram
    frame."""
    return contamination_stats_against(
        docs, benchmark_grams(benchmark, text_col, k), id_col, text_col, k
    )


def benchmark_grams(
    benchmark: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """The benchmark's distinct word-``k``-gram set as a one-column
    (``__g``) frame — the artifact ``decontam_index.py`` persists."""
    return (
        with_shingles(benchmark, text_col, k=k)
        .select(F.explode(F.array_distinct("shingles")).alias("__g"))
        .distinct()
    )


def contamination_stats_against(
    docs: DataFrame,
    bench_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """:func:`contamination_stats` against a pre-built (possibly
    frozen/persisted) benchmark gram set."""
    corpus_sh = with_shingles(docs, text_col, k=k).select(
        F.col(id_col), F.explode(F.array_distinct("shingles")).alias("__g")
    )
    bench_sh = bench_grams.select("__g").withColumn("__hit", F.lit(1))
    return (
        corpus_sh.join(F.broadcast(bench_sh), "__g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .withColumn(
            "overlap_bp", F.expr("n_hit * 10000 div n_grams").cast("long")
        )
    )
