"""Deterministic distributed sketches (HyperLogLog).

``hll_distinct`` is HyperLogLog per Flajolet, Fusy, Gandouet, Meunier
2007 ("HyperLogLog: the analysis of a near-optimal cardinality
estimation algorithm"), built from md5 so every register value is
reproducible on any engine: Spark's own ``approx_count_distinct`` uses
an engine-private 64-bit hash (HLL++), so its estimates cannot be
cross-checked by an independent oracle — this one can, bit for bit.

Hash layout (all exact integer arithmetic, no floats until the final
estimate):

- ``h``  = first 48 bits of ``md5(value)`` as a BIGINT
  (12 hex chars; 48 bits keeps every intermediate inside int64 on both
  Spark and DuckDB).
- the top ``p`` bits pick the register index, the remaining
  ``q = 48 - p`` bits form the rank window ``w``.
- ``rho`` = leading zeros of ``w`` within the window + 1
  = ``q + 1 - bit_length(w)``; ``bit_length`` is computed exactly as
  ``length(bin(w))`` — an integer, never ``floor(log2(...))``.
- per-register state is ``M = max(rho)``; the harmonic sum
  ``Z = sum(2^-M)`` is kept EXACT by scaling with ``2^(q+1)``:
  ``S = sum(2^(q+1-M))`` is a sum of integers (empty registers
  contribute ``2^(q+1)``), so the only floating-point steps are the
  final ``alpha * m^2 * 2^(q+1) / S`` division and the linear-counting
  ``m * ln(m / zeros)`` small-range correction — both rounded.

Scale: the register table is FIXED SIZE (``m = 2^p`` rows per group)
regardless of input cardinality — the map-side partial ``max`` compacts
each partition to at most ``m`` rows before the shuffle, which is the
whole point of sketching at 100 TB: a distinct-count over billions of
keys moves ``groups x m`` rows, not the keys.

Reference parity note: the reference engine has no sketch surface; this
is part of the training-data-pipeline layer (corpus profiling: vocab
sizes, user cardinalities) the brief adds on top of SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    """alpha_m bias constant from Flajolet et al. §4 (m >= 128 form)."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """The sketch STATE: per-(group, register-index) max rank ``M``.

    This is the mergeable form — registers from disjoint shards (or
    successive streaming micro-batches) combine by ``max(M)`` per
    (group, idx), which ``hll_merge_registers`` does; the estimate is a
    pure function of the merged state. At 100 TB you persist/shuffle
    THIS (≤ groups x 2^p rows), never the raw keys.

    NULL values carry no distinct identity and are dropped BEFORE the
    group-by, so a group whose values are all NULL produces no register
    row and no estimate row (estimate-0-by-absence) — join against your
    group dimension if empty groups must appear explicitly."""
    if not 4 <= p <= 14:
        raise ValueError(f"p must be in [4, 14], got {p}")
    q = 48 - p
    groups = list(group_cols)

    h = F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 12), 16, 10).cast(
        "bigint"
    )
    # NULLs carry no distinct value (countDistinct ignores them too) and
    # would otherwise create a NULL register that inflates m_seen while
    # contributing nothing to the harmonic sum
    hashed = df.filter(F.col(value_col).isNotNull()).select(*groups, h.alias("h48"))
    hashed = hashed.select(
        *groups,
        F.expr(f"h48 div {1 << q}").alias("idx"),
        (F.col("h48") % F.lit(1 << q)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(q + 1)).otherwise(
        F.lit(q + 1) - F.length(F.bin(F.col("w")))
    )
    return (
        hashed.select(*groups, "idx", rho.alias("rho"))
        .groupBy(*groups, "idx")
        .agg(F.max("rho").alias("M"))
    )


def hll_merge_registers(
    a: DataFrame, b: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Merge two register tables (same p): per-register max. The HLL
    merge is lossless — estimate(merge(shard1, shard2)) equals the
    estimate over the union of the raw inputs, which is what makes the
    sketch embarrassingly parallel."""
    groups = list(group_cols)
    return (
        a.unionByName(b).groupBy(*groups, "idx").agg(F.max("M").alias("M"))
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: Sequence[str],
    p: int = 8,
) -> DataFrame:
    """Estimate from register state (Flajolet et al. §4 + linear-counting
    small-range correction). All float steps rounded; see module doc."""
    m = 1 << p
    q = 48 - p
    groups = list(group_cols)
    per_group = regs.groupBy(*groups).agg(
        F.count("*").alias("m_seen"),
        F.sum(F.expr(f"cast(pow(2.0d, {q + 1} - M) as bigint)")).alias("s_seen"),
    )
    zeros = F.lit(m) - F.col("m_seen")
    s_total = F.col("s_seen") + zeros.cast("bigint") * F.lit(1 << (q + 1))
    # alpha_m from the paper, computed ONCE in Python and embedded as an
    # exact double literal on both engines (a bare `0.7213 / ...` would
    # be DECIMAL division in DuckDB — different rounding than IEEE).
    scale = _alpha(m) * float(m) * float(m) * float(1 << (q + 1))
    e_raw = F.lit(scale) / s_total.cast("double")
    linear = F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")), 3)
    est = F.when((e_raw <= F.lit(2.5 * m)) & (zeros > 0), linear).otherwise(
        F.round(e_raw, 3)
    )
    return per_group.select(
        *groups,
        "m_seen",
        zeros.cast("bigint").alias("zeros"),
        est.alias("hll_est"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate (one-shot form:
    registers -> estimate). Returns one row per group: ``m_seen``
    (non-empty registers), ``zeros`` (empty registers), and ``hll_est``
    (rounded to 3 decimals)."""
    return hll_estimate_from_registers(
        hll_registers(df, group_cols, value_col, p), group_cols, p
    )


def hll_oracle_sql(
    source_sql: str,
    group_cols: Sequence[str],
    value_expr: str,
    p: int = 8,
) -> str:
    """The DuckDB mirror of ``hll_distinct`` — same md5 layout, same
    exact-integer register math, same two final float steps. Kept next
    to the Spark implementation so the bit-layout constants can never
    drift apart."""
    m = 1 << p
    q = 48 - p
    g = ", ".join(group_cols)
    scale = _alpha(m) * float(m) * float(m) * float(1 << (q + 1))
    return f"""
    WITH src AS ({source_sql}),
    hashed AS (
      SELECT {g},
             ('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, 12))::BIGINT AS h48
      FROM src WHERE {value_expr} IS NOT NULL
    ), split_h AS (
      SELECT {g}, h48 // {1 << q} AS idx, h48 % {1 << q} AS w FROM hashed
    ), regs AS (
      SELECT {g}, idx,
             max(CASE WHEN w = 0 THEN {q + 1}
                      ELSE {q + 1} - length(bin(w)) END) AS M
      FROM split_h GROUP BY {g}, idx
    ), per_group AS (
      SELECT {g}, count(*) AS m_seen,
             sum(CAST(power(2.0, {q + 1} - M) AS BIGINT)) AS s_seen
      FROM regs GROUP BY {g}
    )
    SELECT {g}, m_seen, CAST({m} - m_seen AS BIGINT) AS zeros,
           CASE WHEN {scale!r}
                       / CAST(s_seen + ({m} - m_seen) * {1 << (q + 1)} AS DOUBLE)
                     <= CAST({2.5 * m!r} AS DOUBLE) AND {m} - m_seen > 0
                THEN round({float(m)!r} * ln({float(m)!r} / CAST({m} - m_seen AS DOUBLE)), 3)
                ELSE round({scale!r}
                       / CAST(s_seen + ({m} - m_seen) * {1 << (q + 1)} AS DOUBLE), 3)
           END AS hll_est
    FROM per_group
    """


# ---------------------------------------------------------------------------
# Streaming ingest: persisted register state merged per micro-batch
# ---------------------------------------------------------------------------
def _state_manifest(state_dir: str) -> str:
    import os

    return os.path.join(state_dir, "_CURRENT.json")


def _registers_path(state_dir: str, meta: dict) -> str:
    """Resolve the current register table; understands both the
    versioned layout and the short-lived epoch-keyed layout it replaced
    (state written by that format keeps serving and is folded into the
    first new-format version on the next ingest)."""
    import os

    if "version" in meta:
        return os.path.join(state_dir, f"registers_v{meta['version']}.parquet")
    return os.path.join(state_dir, f"registers_e{meta['epoch']}.parquet")


def _state_meta(state_dir: str) -> dict | None:
    import json
    import os

    mf = _state_manifest(state_dir)
    if not os.path.exists(mf):
        return None
    with open(mf) as fh:
        return json.load(fh)


def hll_ingest_foreach_batch(
    state_dir: str,
    group_cols: Sequence[str],
    value_col: str,
    p: int = 8,
):
    """Streaming cardinality: a ``foreachBatch`` function that merges
    each micro-batch's HLL registers into a PERSISTED register table, so
    a distinct-count over an unbounded stream is answerable at any time
    from ``groups x 2^p`` rows of state — never from the raw key stream.

    State layout (single-writer, the streaming contract everywhere in
    this repo): ``registers_v{version}.parquet`` with a monotonically
    increasing version counter, plus a ``_CURRENT.json`` pointer updated
    atomically after the parquet lands. Replay safety comes from the
    ALGEBRA, not from epoch bookkeeping: every batch is merged
    unconditionally, and because the merge is a per-register ``max``, a
    redelivered batch folds to exactly the state it already produced
    (idempotent), while a NEW stream whose epoch counter restarted at 0
    — a fresh checkpoint pointed at existing state — still has its data
    folded in rather than silently discarded (an epoch-watermark skip
    guard would drop it). The manifest records ``p`` and rejects a
    mismatched sketch width at both ingest and estimate time — merging
    registers of different widths is meaningless and would silently
    corrupt the estimate.
    """

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil

        from kafka_dbsync_spark.operators.epoch_log import write_marker

        spark = batch_df.sparkSession
        os.makedirs(state_dir, exist_ok=True)
        meta = _state_meta(state_dir)
        if meta is not None and meta["p"] != p:
            raise ValueError(
                f"HLL state at {state_dir} was built with p={meta['p']}, "
                f"got p={p}: register widths cannot be merged"
            )
        new = hll_registers(batch_df, group_cols, value_col, p)
        ver = 0 if meta is None else meta.get("version", -1) + 1
        if meta is not None:
            prev = spark.read.parquet(_registers_path(state_dir, meta))
            new = hll_merge_registers(prev, new, group_cols)
        out = os.path.join(state_dir, f"registers_v{ver}.parquet")
        new.write.mode("overwrite").parquet(out)
        write_marker(
            _state_manifest(state_dir),
            {"version": ver, "p": p, "last_epoch": int(epoch_id)},
        )
        # retire superseded versions (state stays 1 table)
        for name in os.listdir(state_dir):
            if (
                name.startswith("registers_")
                and name != f"registers_v{ver}.parquet"
            ):
                shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)

    return fn


def hll_stream_estimate(
    spark, state_dir: str, group_cols: Sequence[str], p: int | None = None
) -> DataFrame:
    """Estimate from the persisted streaming register state. ``p`` is
    read from the state's manifest; passing it explicitly just asserts
    the expectation (mismatch raises instead of silently mis-scaling)."""
    import os

    meta = _state_meta(state_dir)
    if meta is None:
        raise FileNotFoundError(f"no HLL state at {state_dir}")
    if p is not None and p != meta["p"]:
        raise ValueError(
            f"HLL state at {state_dir} was built with p={meta['p']}, got p={p}"
        )
    regs = spark.read.parquet(_registers_path(state_dir, meta))
    return hll_estimate_from_registers(regs, group_cols, meta["p"])
