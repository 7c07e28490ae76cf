"""Persisted boilerplate key set: mine once, strip forever.

The serve twin of ``operators/dedup.py::host_boilerplate_strip`` —
how host-scoped line dedup actually DEPLOYS: a periodic batch job
mines each host's boilerplate paragraphs (nav bars, cookie banners,
copyright footers) from the accumulated crawl, and the ingest edge
strips those paragraphs from every NEW arrival against the FROZEN
(host, key) set — no corpus pass, no per-shard re-mining, exactly the
frozen-model discipline of the NB classifier / LM / BM25 serve twins.

Artifacts under ``{path}``:

    gen-{fingerprint}_p{pct}_{min_docs}_s{sephash}/keys
        (host, key) parquet — the flagged md5 paragraph hashes
    _COMPLETE   marker: fingerprint (host-aware: a doc MOVING hosts
                with identical text changes the mined set, so the
                content term hashes (id, host⊕text)), the mining
                parameters, the live gen name

The mining PARAMETERS are part of the model identity: the same corpus
mined at 25% and at 75% yields different key sets, so the params ride
in both the fingerprint (staleness compares them) and the generation
dir name (two param settings never share an immutable dir). Publish /
concurrency is the generation protocol of ``operators/epoch_log.py``;
staleness is ``lm_index.lm_model_is_current``.

Application (:func:`boilerplate_strip_served`) replays the batch
operator's exact candidate derivation (same split, same
normalization, same md5) and the same JVM higher-order position
rewrite — mine+apply over the same corpus is IDENTICAL to the fused
``host_boilerplate_strip`` by construction, so the served query
reuses ``boilerplate_strip``'s oracle unchanged. At 100 TB the key
set is boilerplate-bounded (a few rows per host) and broadcasts.
"""

from __future__ import annotations

import json
import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.dedup import (
    _paragraph_candidates,
    _strip_by_keys,
    mine_boilerplate_keys,
)
from kafka_dbsync_spark.operators.epoch_log import (
    _COMPLETE,
    gen_name,
    generation_check,
    generation_dir,
    live_generation,
    publish_generation,
    read_marker,
)
from kafka_dbsync_spark.operators.lm_index import (
    corpus_fingerprint,
    lm_model_is_current,
)


def _bp_fp_frame(docs: DataFrame, host_col: str, text_col: str) -> DataFrame:
    """Host-aware fingerprint view (the NB classifier's label-aware
    shape): (id, host⊕text) — re-hosting a doc with identical text
    changes the mined set and must fingerprint differently."""
    return docs.withColumn(
        "__host_text",
        F.concat(
            F.coalesce(F.col(host_col).cast("string"), F.lit("\x00<null>")),
            F.lit("\x01"),
            F.coalesce(F.col(text_col).cast("string"), F.lit("\x00<null>")),
        ),
    )


def _param_key(min_frac_pct: int, min_docs: int, sep: str) -> str:
    return f"{min_frac_pct}:{min_docs}:{zlib.crc32(sep.encode())}"


def _bp_gen(fp: dict, min_frac_pct: int, min_docs: int, sep: str) -> str:
    return (
        gen_name(fp)
        + f"_p{min_frac_pct}_{min_docs}_s{zlib.crc32(sep.encode())}"
    )


def build_boilerplate_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_frac_pct: int = 25,
    min_docs: int = 2,
    src_path: str | None = None,
) -> None:
    """One mining pass → the persisted (host, key) set, published with
    the shared atomic-generation protocol."""
    from kafka_dbsync_spark.operators.cache_validation import files_signature

    keys = mine_boilerplate_keys(
        docs, host_col, id_col, text_col, sep, min_frac_pct, min_docs
    )
    fp = corpus_fingerprint(
        _bp_fp_frame(docs, host_col, text_col), id_col, "__host_text"
    )
    # mining params are model identity: they ride in the generation
    # dir name (two thresholds never share an immutable dir) and in
    # the marker's param key (staleness pre-checks it cheaply)
    gen = _bp_gen(fp, min_frac_pct, min_docs, sep)

    def write_stage(stage: str) -> None:
        keys.write.mode("overwrite").parquet(f"{stage}/keys")

    rec: dict = {
        "fingerprint": fp,
        "keys_schema": keys.schema.json(),
        "param_key": _param_key(min_frac_pct, min_docs, sep),
        "params": {
            "host_col": host_col,
            "sep": sep,
            "min_frac_pct": min_frac_pct,
            "min_docs": min_docs,
        },
    }
    if src_path is not None:
        rec["src_sig"] = files_signature(src_path)
    publish_generation(path, gen, write_stage, rec)


def boilerplate_index_is_current(
    docs: DataFrame,
    path: str,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_frac_pct: int = 25,
    min_docs: int = 2,
    src_path: str | None = None,
    force_exact: bool = False,
) -> bool:
    """Shared staleness ladder over the host-aware fingerprint plus a
    cheap marker param pre-check: a changed corpus, a re-hosted doc,
    OR a changed mining threshold all report stale (the exact corpus
    scan still runs only on metadata miss — params never need it)."""
    meta = read_marker(os.path.join(path, _COMPLETE)) or {}
    if meta.get("param_key") != _param_key(min_frac_pct, min_docs, sep):
        return False
    return lm_model_is_current(
        _bp_fp_frame(docs, host_col, text_col),
        path,
        id_col,
        "__host_text",
        src_path=src_path,
        force_exact=force_exact,
    )


def boilerplate_strip_served(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Strip arriving documents against the FROZEN key set: the batch
    operator's exact candidate derivation, one broadcast join against
    the (host, key) table, the shared position rewrite. No mining, no
    corpus pass — the deploy path for new shards. Affected docs only,
    (id, host, n_paras, n_removed, cleaned_text)."""
    meta, gen_dir = live_generation(
        path, "boilerplate index", "build_boilerplate_index"
    )
    from pyspark.sql import types as T

    reader = spark.read
    sj = meta.get("keys_schema")
    if sj is not None:
        reader = reader.schema(T.StructType.fromJson(json.loads(sj)))
    keys = F.broadcast(reader.parquet(f"{gen_dir}/keys"))
    d, cand = _paragraph_candidates(docs, host_col, id_col, text_col, sep)
    return _strip_by_keys(d, cand, keys, host_col, id_col, sep)


def boilerplate_index_check(
    spark: SparkSession, path: str, full: bool = True
) -> DataFrame:
    """``CheckIndex`` for the persisted boilerplate key set (VERDICT
    r12 #4): metadata level = the shared
    :func:`epoch_log.generation_check` over the lone ``keys`` artifact
    plus PARAM COHERENCE — the mining thresholds are model identity
    here, so the marker's ``param_key`` must reproduce from its own
    recorded ``params`` and the live generation name must end with it
    (two thresholds must never share an immutable dir). Full level:
    the keys table reads back under the marker-recorded schema with no
    null host/key and no duplicate (host, key) rows — a duplicate
    strips nothing extra but doubles the serve join's build side; a
    null host matches no document ever."""
    rows, rec = generation_check(path, ("keys",), what="boilerplate index")
    if rec is None:
        return rows.frame(spark)
    add = rows.add

    # param coherence is MARKER-ONLY (zero data IO): it runs at the
    # metadata level too
    params = rec.get("params") or {}
    pk = rec.get("param_key")
    if params and pk:
        expected = _param_key(
            int(params.get("min_frac_pct", -1)),
            int(params.get("min_docs", -1)),
            str(params.get("sep", "")),
        )
        ok = pk == expected and str(rec.get("gen") or "").endswith(
            f"_p{params.get('min_frac_pct')}_{params.get('min_docs')}"
            f"_s{zlib.crc32(str(params.get('sep', '')).encode())}"
        )
        add(
            "param_key_coherent",
            rec.get("gen") or "",
            ok or "FAIL",
            f"param_key {pk!r} vs recomputed {expected!r} and the "
            "generation name suffix — mismatched params would serve a "
            "key set mined under different thresholds",
        )
    else:
        add(
            "param_key_coherent",
            "",
            "WARN",
            "legacy marker without params/param_key: staleness cannot "
            "pre-check thresholds cheaply",
        )
    gen_dir = generation_dir(path, rec, ("keys",))
    if not full or gen_dir is None:
        return rows.frame(spark)
    reader = spark.read
    if rec.get("keys_schema"):
        from pyspark.sql.types import StructType

        reader = reader.schema(
            StructType.fromJson(json.loads(rec["keys_schema"]))
        )
    keys = reader.parquet(f"{gen_dir}/keys")
    host_col = (rec.get("params") or {}).get("host_col") or keys.columns[0]
    key_col = [c for c in keys.columns if c != host_col][0]
    st = keys.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(host_col), F.col(key_col)).alias("nd"),
        F.count(
            F.when(
                F.col(host_col).isNull() | F.col(key_col).isNull(), True
            )
        ).alias("nn"),
    ).head()
    add(
        "keys_non_null",
        "keys",
        int(st["nn"]) == 0 or "FAIL",
        f"{st['nn']} rows with a null host or key — unmatchable by the "
        "serve join",
    )
    add(
        "keys_distinct",
        "keys",
        int(st["n"]) == int(st["nd"]) or "FAIL",
        f"{st['n']} rows, {st['nd']} distinct (host, key) pairs — "
        "duplicates double the serve join's build side",
    )
    return rows.frame(spark)
