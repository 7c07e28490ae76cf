"""Persisted benchmark-contamination index: freeze the eval set once,
gate every arriving shard against it.

The published decontamination methodology (GPT-3 appendix C / Llama 2
A.6) removes training documents that overlap the BENCHMARK suite — a
fixed, rarely-changing reference set. At pipeline scale that makes the
benchmark's distinct word-k-gram table a build-once artifact (KBs–MBs;
eval suites are tiny next to a corpus), and decontamination an
admission FILTER every ingest batch runs — not a batch job that
re-shingles the benchmark per invocation.

Artifacts under ``{path}`` (the shared ``epoch_log.publish_generation``
protocol — immutable fingerprint-named generation dirs, atomic staging
rename, marker-flips-last, loser-discards):

    gen-{fingerprint}/grams   (__g)  distinct benchmark k-grams
    _COMPLETE                 marker: k, the benchmark fingerprint,
                              the live generation name

Scoring arithmetic is shared with the batch instrument by construction
(``corpus.contamination_stats_against``): per arriving doc, the
fraction of its distinct k-grams colliding with the frozen set in
exact floor basis points; the gate admits below ``max_bp`` and rejects
at/above it with the measurement attached for audit. Docs whose text
normalizes empty produce no gram rows and admit with ``overlap_bp = 0``
(nothing to collide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.corpus import (
    benchmark_grams,
    contamination_stats_against,
)
from kafka_dbsync_spark.operators.epoch_log import (
    gate_foreach_batch,
    gen_name,
    generation_check,
    generation_dir,
    live_generation,
    publish_generation,
)
from kafka_dbsync_spark.operators.lm_index import (
    corpus_fingerprint,
    lm_model_is_current,
)


def build_benchmark_index(
    spark: SparkSession,
    benchmark: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    fingerprint: dict | None = None,
    src_path: str | None = None,
) -> None:
    """One benchmark pass → the persisted distinct k-gram table."""
    from kafka_dbsync_spark.operators.cache_validation import files_signature

    fp = fingerprint or corpus_fingerprint(benchmark, id_col, text_col)
    gen = gen_name(fp)

    def write_stage(stage: str) -> None:
        benchmark_grams(benchmark, text_col, k).write.mode(
            "overwrite"
        ).parquet(f"{stage}/grams")

    rec: dict = {"fingerprint": fp, "k": int(k)}
    if src_path is not None:
        rec["src_sig"] = files_signature(src_path)
    publish_generation(path, gen, write_stage, rec)


def benchmark_index_is_current(
    benchmark: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: dict | None = None,
    src_path: str | None = None,
    force_exact: bool = False,
) -> bool:
    """True iff the persisted gram table is servable AND built from the
    current benchmark — the marker shape is model-agnostic, so the LM
    checker validates this cache unchanged (metadata-only happy path
    with ``src_path``)."""
    return lm_model_is_current(
        benchmark, path, id_col, text_col,
        fingerprint=fingerprint, src_path=src_path, force_exact=force_exact,
    )


def _read_index(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    meta, gen_dir = live_generation(
        path, "benchmark index", "build_benchmark_index"
    )
    return spark.read.parquet(f"{gen_dir}/grams"), int(meta.get("k", 8))


def contamination_score_served(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Measure new documents against the FROZEN benchmark gram table —
    ``contamination_stats`` arithmetic, no benchmark pass. ``k`` rides
    in the marker so the scorer is self-describing."""
    grams, k = _read_index(spark, path)
    return contamination_stats_against(
        new_docs, grams, id_col, text_col, k
    )


def contamination_gate_foreach_batch(
    index_path: str,
    accepted_dir: str,
    rejected_dir: str,
    max_bp: int = 8000,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Decontamination at ingest: a ``foreachBatch`` function that
    measures each micro-batch against the FROZEN benchmark index and
    routes docs to ``accepted_dir`` (``overlap_bp < max_bp``) or
    ``rejected_dir`` (the Llama-2-style dirty threshold, measurement
    attached for audit). Text that produces no grams admits with
    ``overlap_bp = 0``. Replay: the stateless-gate protocol of
    ``operators/epoch_log.py``. Stateless across batches — the
    benchmark is the only state, and it is frozen."""

    def score(batch_df: DataFrame):
        scored = batch_df.join(
            contamination_score_served(
                batch_df.sparkSession, index_path, batch_df, id_col, text_col
            ).select(id_col, "overlap_bp"),
            id_col,
            "left",
        ).withColumn("overlap_bp", F.coalesce(F.col("overlap_bp"), F.lit(0)))
        return (
            scored, F.col("overlap_bp") < max_bp, F.lit("benchmark_overlap")
        )

    return gate_foreach_batch(accepted_dir, rejected_dir, score)


def benchmark_index_check(
    spark: SparkSession, path: str, full: bool = True
) -> DataFrame:
    """``CheckIndex`` for the persisted decontamination gram index
    (VERDICT r12 #4): metadata level = the shared
    :func:`epoch_log.generation_check` over the lone ``grams`` artifact
    plus the ``k`` parameter recorded positive (the gram order is
    model identity — scoring k'-gram docs against a k-gram index
    reports nonsense contamination). Full level: the gram table must
    be DISTINCT and null-free — ``benchmark_grams`` publishes a
    distinct set, so a duplicate inflates every per-doc match count
    and a null gram matches nothing."""
    rows, rec = generation_check(path, ("grams",), what="benchmark index")
    if rec is not None:
        k = rec.get("k")
        rows.add(
            "gram_order_recorded",
            "",
            (isinstance(k, int) and k > 0) or "FAIL",
            f"marker k={k!r} — the gram order the gate must shingle new "
            "docs at",
        )
    gen_dir = generation_dir(path, rec, ("grams",))
    if not full or gen_dir is None:
        return rows.frame(spark)
    st = (
        spark.read.parquet(f"{gen_dir}/grams")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("__g").alias("nd"),
            F.count(F.when(F.col("__g").isNull(), True)).alias("nn"),
        )
        .head()
    )
    rows.add(
        "grams_distinct_non_null",
        "grams",
        (int(st["n"]) == int(st["nd"]) and int(st["nn"]) == 0) or "FAIL",
        f"{st['n']} rows, {st['nd']} distinct, {st['nn']} null — "
        "duplicates inflate every contamination score",
    )
    return rows.frame(spark)
