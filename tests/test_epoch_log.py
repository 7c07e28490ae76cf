"""The shared epoch-commit protocol (operators/epoch_log.py): replay of a
committed index-ingest epoch writes nothing, and an interrupted marker
write leaves the previous marker intact."""

import json
import os

import pytest

from kafka_dbsync_spark.operators.dedup_index import (
    build_dedup_index,
    dedup_index_add,
    dedup_index_is_built,
    dedup_ingest_foreach_batch,
)
from tests.conftest import SF_SMOKE

SCHEMA = "doc_id long, text string"
CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "spark structured streaming merges keyed change data into tables"),
    (4, "completely unrelated content about cooking pasta with tomatoes"),
]
NOVEL = "entirely fresh writing about spark window frames and state"


def _marker(path):
    with open(os.path.join(path, "_COMPLETE")) as f:
        return f.read()


def _interrupt_marker_dump(monkeypatch):
    """From now on, make every json.dump into a ``_COMPLETE`` file write
    half a record and then fail, as a full disk or a killed process
    would."""
    real = json.dump

    def dump(obj, fp, *a, **k):
        if "_COMPLETE" in os.path.basename(getattr(fp, "name", "")):
            fp.write('{"finger')
            raise OSError("simulated interrupted marker write")
        return real(obj, fp, *a, **k)

    monkeypatch.setattr(json, "dump", dump)


def test_dedup_ingest_replay_of_committed_epoch_is_noop(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, spark.createDataFrame(CORPUS, SCHEMA), idx)
    acc, dup = str(tmp_path / "accepted"), str(tmp_path / "duplicates")
    fn = dedup_ingest_foreach_batch(idx, acc, dup, threshold_bp=5000)
    batch = spark.createDataFrame([(10, CORPUS[0][1]), (11, NOVEL)], SCHEMA)

    def state():
        return (
            sorted(r["doc_id"] for r in spark.read.parquet(acc).collect()),
            sorted(
                (r["doc_id"], r["matched_corpus_id"])
                for r in spark.read.parquet(dup).collect()
            ),
            _marker(idx),
        )

    fn(batch, 1)
    first = state()
    assert first[:2] == ([11], [(10, 0)])
    fn(batch, 1)  # redelivered epoch
    assert state() == first


def test_interrupted_dedup_marker_write_keeps_previous(
    spark, tmp_path, monkeypatch
):
    idx = str(tmp_path / "idx")
    build_dedup_index(spark, spark.createDataFrame(CORPUS, SCHEMA), idx)
    before = _marker(idx)
    _interrupt_marker_dump(monkeypatch)
    with pytest.raises(OSError, match="simulated"):
        dedup_index_add(spark, idx, spark.createDataFrame([(7, NOVEL)], SCHEMA))
    assert _marker(idx) == before
    rec = json.loads(before)
    assert rec["num_hashes"] == 8 and rec["max_bucket_size"] == 32
    assert dedup_index_is_built(idx, rec["fingerprint"])


def test_interrupted_pq_marker_write_keeps_previous(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from kafka_dbsync_spark.operators.pq_index import (
        build_pq_index,
        index_is_built,
        pq_index_add,
    )
    from kafka_dbsync_spark.queries import QUERIES

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "pq")
    build_pq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0),
        QUERIES["ivf_centroids"](spark, SF_SMOKE), path,
    )
    before = _marker(path)
    _interrupt_marker_dump(monkeypatch)
    with pytest.raises(OSError, match="simulated"):
        pq_index_add(spark, path, emb.filter(F.col("vec_id") % 2 != 0))
    assert _marker(path) == before
    assert index_is_built(path, json.loads(before)["fingerprint"])


def test_interrupted_marker_leftover_is_the_name_fsck_sweeps(tmp_path):
    from kafka_dbsync_spark.operators.epoch_log import write_marker
    from kafka_dbsync_spark.operators.lm_index import generation_check

    path = str(tmp_path / "model")
    os.makedirs(os.path.join(path, "gen-1", "c12"))
    rec = {"gen": "gen-1", "fingerprint": {"n": 1}}
    write_marker(os.path.join(path, "_COMPLETE"), rec)
    with pytest.raises(TypeError):
        write_marker(os.path.join(path, "_COMPLETE"), dict(rec, bad=object()))
    rows, parsed = generation_check(path, ("c12",))
    assert parsed == rec
    assert [r[2] for r in rows if r[0] == "staging_leftover"] == ["WARN"]


def _staging_leftovers(report):
    """``(artifact or segment, status)`` of a report's leftover rows."""
    return [(r[1], r[2]) for r in report.collect() if r[0] == "staging_leftover"]


def test_dedup_check_reports_interrupted_marker_tmp(spark, tmp_path, monkeypatch):
    from kafka_dbsync_spark.operators.dedup_index import dedup_index_check

    idx = str(tmp_path / "idx")
    build_dedup_index(spark, spark.createDataFrame(CORPUS, SCHEMA), idx)
    _interrupt_marker_dump(monkeypatch)
    with pytest.raises(OSError, match="simulated"):
        dedup_index_add(spark, idx, spark.createDataFrame([(7, NOVEL)], SCHEMA))
    monkeypatch.undo()
    tmp = f"_COMPLETE.tmp.{os.getpid()}"
    assert _staging_leftovers(dedup_index_check(spark, idx, full=False)) == [
        (tmp, "WARN")
    ]


def test_pq_check_reports_interrupted_marker_tmp(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from kafka_dbsync_spark.operators.pq_index import (
        build_pq_index,
        pq_index_add,
        pq_index_check,
    )
    from kafka_dbsync_spark.queries import QUERIES

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(60)
    path = str(tmp_path / "pq")
    build_pq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0),
        QUERIES["ivf_centroids"](spark, SF_SMOKE), path,
    )
    _interrupt_marker_dump(monkeypatch)
    with pytest.raises(OSError, match="simulated"):
        pq_index_add(spark, path, emb.filter(F.col("vec_id") % 2 != 0))
    monkeypatch.undo()
    tmp = f"_COMPLETE.tmp.{os.getpid()}"
    assert _staging_leftovers(pq_index_check(spark, path, full=False)) == [
        (tmp, "WARN")
    ]


def test_bm25_check_reports_interrupted_marker_tmp(spark, tmp_path, monkeypatch):
    from kafka_dbsync_spark.operators.bm25_index import (
        bm25_index_add,
        bm25_index_check,
        build_bm25_index,
    )

    idx = str(tmp_path / "idx")
    build_bm25_index(spark, spark.createDataFrame(CORPUS, SCHEMA), idx)
    _interrupt_marker_dump(monkeypatch)
    with pytest.raises(OSError, match="simulated"):
        bm25_index_add(spark, spark.createDataFrame([(7, NOVEL)], SCHEMA), idx)
    monkeypatch.undo()
    tmp = f"_COMPLETE.tmp.{os.getpid()}"
    assert _staging_leftovers(bm25_index_check(spark, idx, full=False)) == [
        (tmp, "WARN")
    ]
