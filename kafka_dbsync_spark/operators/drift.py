"""Streaming distribution-drift monitoring: Population Stability Index
of each micro-batch against a FROZEN reference histogram — the alarm
that tells a long-running ingest "this source's score distribution no
longer looks like the one the curation thresholds were tuned on"
(batch twin: queries.py::quality_drift_psi).

Design, in the repo's streaming-state discipline (operators/admission.py):

- ``seed_drift_reference`` freezes the reference ONCE: a per-(group,
  bin) count histogram over a fixed integer bin domain, written to
  ``state_dir/reference/`` (commit = parquet ``_SUCCESS``). The domain
  is fixed and small (e.g. 11 coarse quality bins), so the reference is
  groups x bins rows of metadata.
- ``drift_monitor_foreach_batch`` computes each batch's histogram with
  ONE map-side-combined aggregate, joins the broadcast reference, and
  writes one (group, psi, n) row set to ``psi/e{epoch}/`` — the commit
  point. Both shares are add-one smoothed over the full domain so empty
  bins contribute finite terms; ln is rounded to 6 decimals and each
  term to 10, summed as DECIMAL — deterministic on any engine (the same
  contract the batch oracle proves bit-for-bit).
- Replay follows ``operators/epoch_log.py`` with ``psi`` as the commit
  table; the single output write IS the commit, so a crash before it
  leaves no partial state. PSI rows
  are per-epoch facts, not running state — nothing to compact beyond
  retention, and reads of the series union committed epoch dirs only.

Scale: per batch, one aggregate over the batch plus arithmetic on
groups x bins metadata; the reference never grows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.epoch_log import (
    _read_state,
    committed,
    epoch_dir,
)

_REFERENCE = "reference"
_PSI = "psi"


def _checked_bin(bin_col: str, n_bins: int):
    """Bin-domain contract enforcement (the domain join would otherwise
    silently DROP out-of-domain rows from n_cur/n_ref — understating
    PSI exactly when an upstream binning bug should make it alarm): a
    NULL bin raises (broken binning contract, not evidence of drift);
    an out-of-domain bin clamps into the nearest EDGE bin, so a binning
    shift moves probability mass to the edge and the PSI rises."""
    b = F.col(bin_col)
    checked = F.when(b.isNotNull(), b.cast("long")).otherwise(
        F.raise_error(
            F.lit(
                f"NULL {bin_col} in drift histogram: the caller owns "
                "the binning contract; bin or filter NULLs upstream"
            )
        )
    )
    return F.least(F.greatest(checked, F.lit(0)), F.lit(n_bins - 1))


def _histogram(
    df: DataFrame, group_col: str, bin_col: str, n_bins: int,
    spark: SparkSession,
) -> DataFrame:
    """(group, bin, k) over the FIXED domain [0, n_bins) — observed
    groups x all bins, zero-filled (the fixed domain is generated, not
    collected). Bin values outside the domain clamp to the edges via
    :func:`_checked_bin`; NULL bins raise."""
    src = df.select(group_col, _checked_bin(bin_col, n_bins).alias(bin_col))
    cnt = src.groupBy(group_col, bin_col).agg(F.count("*").alias("k"))
    dom = (
        src.select(group_col).distinct()
        .crossJoin(spark.range(0, n_bins).select(F.col("id").alias(bin_col)))
    )
    return (
        dom.join(cnt, [group_col, bin_col], "left")
        .na.fill({"k": 0})
    )


def seed_drift_reference(
    state_dir: str,
    df: DataFrame,
    group_col: str,
    bin_col: str,
    n_bins: int = 11,
) -> None:
    """Freeze the reference histogram (one committed parquet write).
    ``bin_col`` must already be an integer bin in [0, n_bins) —
    callers own the binning so monitor and reference always agree."""
    spark = df.sparkSession
    _histogram(df, group_col, bin_col, n_bins, spark).withColumnRenamed(
        "k", "k_ref"
    ).write.mode("overwrite").parquet(os.path.join(state_dir, _REFERENCE))


def drift_monitor_foreach_batch(
    state_dir: str,
    group_col: str,
    bin_col: str,
    n_bins: int = 11,
):
    """``foreachBatch`` function appending one PSI row per (epoch,
    group) against the frozen reference. Raises if no reference is
    seeded (monitoring against nothing is a config error, not a
    silent zero)."""

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        ref_dir = os.path.join(state_dir, _REFERENCE)
        if not committed(ref_dir):
            raise FileNotFoundError(
                f"no drift reference at {ref_dir}; call "
                "seed_drift_reference first"
            )
        out = epoch_dir(state_dir, _PSI, epoch)
        if committed(out):
            return  # replayed epoch
        ref = spark.read.parquet(ref_dir)
        cur = _histogram(batch_df, group_col, bin_col, n_bins, spark)
        # LEFT join: a group arriving that the reference never saw gets
        # k_ref = 0 everywhere — add-one smoothing turns that into a
        # uniform reference, so its PSI reads "divergence from uniform"
        # (large, and it should alarm) instead of silently vanishing
        joined = cur.join(
            F.broadcast(ref), [group_col, bin_col], "left"
        ).na.fill({"k_ref": 0})
        tot = joined.groupBy(group_col).agg(
            F.sum("k").alias("n_cur"), F.sum("k_ref").alias("n_ref")
        )
        terms = joined.join(F.broadcast(tot), group_col).select(
            group_col, "n_cur",
            ((F.col("k_ref") + 1).cast("double")
             / (F.col("n_ref") + n_bins).cast("double")).alias("pr"),
            ((F.col("k") + 1).cast("double")
             / (F.col("n_cur") + n_bins).cast("double")).alias("pc"),
        )
        term = F.round(
            (F.col("pc") - F.col("pr"))
            * F.round(F.log(F.col("pc") / F.col("pr")), 6).cast(
                "decimal(18,6)"
            ),
            10,
        ).cast("decimal(28,10)")
        (
            terms.groupBy(group_col)
            .agg(
                F.sum(term).cast("double").alias("psi"),
                F.max("n_cur").alias("n"),
            )
            .withColumn("epoch", F.lit(epoch))
            .write.mode("overwrite")
            .parquet(out)
        )

    return fn


def read_drift_series(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The (epoch, group, psi, n) time series across committed epochs
    (None before the first)."""
    return _read_state(spark, state_dir, _PSI)


def psi_over_fixed_bins(
    assign: DataFrame,
    group_col: str,
    bin_col: str,
    win_col: str,
    n_bins: int,
) -> DataFrame:
    """Batch PSI between window 0 (reference) and window 1 (current) of
    ``assign`` rows (group, bin, win), per group, over the FIXED integer
    bin domain 0..n_bins-1 — the shared arithmetic behind
    queries.py::quality_drift_psi and embedding_drift_psi.

    Both shares are add-one smoothed over the full domain so empty bins
    contribute finite terms; ln is rounded to 6 decimals and each term
    to 10, summed as DECIMAL — deterministic on any engine. Plan shape:
    ONE map-side-combined (group, bin) aggregate over the input; all
    further arithmetic happens on groups x n_bins rows of metadata (the
    domain is generated, not collected).

    Returns (group_col, psi, n_ref, n_cur).
    """
    spark = assign.sparkSession
    assign = assign.select(
        group_col, _checked_bin(bin_col, n_bins).alias(bin_col), win_col
    )
    cnt = assign.groupBy(group_col, bin_col).agg(
        F.sum(F.when(F.col(win_col) == 0, 1).otherwise(0)).alias("k_ref"),
        F.sum(F.when(F.col(win_col) == 1, 1).otherwise(0)).alias("k_cur"),
    )
    dom = (
        assign.select(group_col).distinct()
        .crossJoin(spark.range(0, n_bins).select(F.col("id").alias(bin_col)))
    )
    filled = (
        dom.join(cnt, [group_col, bin_col], "left")
        .na.fill({"k_ref": 0, "k_cur": 0})
    )
    tot = filled.groupBy(group_col).agg(
        F.sum("k_ref").alias("n_ref"), F.sum("k_cur").alias("n_cur")
    )
    terms = filled.join(F.broadcast(tot), group_col).select(
        group_col, "n_ref", "n_cur",
        ((F.col("k_ref") + 1).cast("double")
         / (F.col("n_ref") + n_bins).cast("double")).alias("pr"),
        ((F.col("k_cur") + 1).cast("double")
         / (F.col("n_cur") + n_bins).cast("double")).alias("pc"),
    )
    term = F.round(
        (F.col("pc") - F.col("pr"))
        * F.round(F.log(F.col("pc") / F.col("pr")), 6).cast("decimal(18,6)"),
        10,
    ).cast("decimal(28,10)")
    return terms.groupBy(group_col).agg(
        F.sum(term).cast("double").alias("psi"),
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
    )


def embedding_drift_psi(
    embeddings: DataFrame,
    num_planes: int = 4,
    dim: int = 64,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift per group: PSI between the even-``id_col``
    window (reference — the snapshot retrieval/curation thresholds were
    tuned on) and the odd window (current) over a FIXED cell domain of
    2^num_planes random-hyperplane LSH buckets. The scalar-PSI monitors
    can't see a shift that preserves every scalar marginal but moves
    vectors between regions of embedding space; bucketing by frozen
    hyperplanes makes exactly that shift visible as a histogram change.

    Plan shape: the hyperplanes ride in one broadcast row (O(1) plan
    size), cell assignment is a JVM-side fold per row, then the PSI is
    one (group, cell) map-side-combined aggregate + metadata-sized
    arithmetic — the corpus is scanned ONCE regardless of groups or
    cells.

    Returns (group_col, psi, n_ref, n_cur).
    """
    from kafka_dbsync_spark.operators.similarity import with_lsh_buckets

    a = with_lsh_buckets(embeddings, vec_col, num_planes, dim).select(
        group_col,
        (F.col(id_col) % 2).alias("win"),
        F.col("bucket").alias("cell"),
    )
    return psi_over_fixed_bins(a, group_col, "cell", "win", 2 ** num_planes)
