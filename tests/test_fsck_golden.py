"""Golden fsck reports: every index family's ``*_check(full=True)`` (and
the metadata level) on one fixed small lifecycle, row for row
``(check, artifact or segment, status, detail)``, against
``tests/fsck_golden.json``.

Each lifecycle seeds the leftovers the shared sweep classifies (a
``.stage-*`` dir, another hidden dir, an unreferenced dir and an
interrupted marker write's ``_COMPLETE.tmp.*`` file) and also checks
an empty dir and broken generation markers. The golden rows were
recorded before the families shared ``operators/epoch_log.py``'s fsck
rungs; the only rows added since are the ``staging_leftover`` WARN
rows for marker tmp files in the pq, bm25 and dedup reports
(``NEW_ROWS``), which those sweeps used to skip. Tmp paths are
normalised to ``<tmp>``. After a report change that is meant, re-record
the file as ``normalise(lifecycles(spark, tmp), tmp)`` dumped to JSON."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

GOLDEN = os.path.join(os.path.dirname(__file__), "fsck_golden.json")

DOCS = [
    (1, "spark shuffles hash joins", "a.com"),
    (2, "spark shuffles sort merge joins", "a.com"),
    (3, "columnar scans prune pages", "b.com"),
    (4, "vectorized scans batch columns", "b.com"),
    (5, "codegen fuses operators", "a.com"),
    (6, "spark shuffles hash joins again", "b.com"),
]
BP_DOCS = [
    (1, "unique article one\nSubscribe now", "a.com"),
    (2, "unique article two\nSubscribe now", "a.com"),
    (3, "another piece\nSubscribe now", "a.com"),
]
TMP = "_COMPLETE.tmp.4242"
TMP_ROW = ["staging_leftover", TMP, "WARN", "crashed marker tmp file; safe to reclaim"]
NEW_ROWS = {"pq": [TMP_ROW], "bm25": [TMP_ROW], "dedup": [TMP_ROW]}


def _seed(path, *dirs):
    """Leftovers an fsck sweep must classify: dirs plus a marker tmp."""
    for d in dirs:
        os.makedirs(os.path.join(path, d), exist_ok=True)
    with open(os.path.join(path, TMP), "w") as f:
        f.write('{"finger')


def _rows(df):
    return [list(r) for r in df.collect()]


def _reports(spark, check, path):
    return {
        "full": _rows(check(spark, path)),
        "meta": _rows(check(spark, path, full=False)),
    }


def lifecycles(spark, tmp):
    """``{case: {"full": rows, "meta": rows}}`` for every family."""
    import kafka_dbsync_spark.operators.bm25_index as bm
    import kafka_dbsync_spark.operators.boilerplate_index as bp
    import kafka_dbsync_spark.operators.decontam_index as dc
    import kafka_dbsync_spark.operators.dedup_index as dd
    import kafka_dbsync_spark.operators.lm_index as lm
    import kafka_dbsync_spark.operators.nb_index as nb
    import kafka_dbsync_spark.operators.pq_index as pq
    from kafka_dbsync_spark.queries import QUERIES

    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string, source string")
    out = {}

    p = os.path.join(tmp, "lm")
    lm.build_lm_model(spark, docs, p)
    _seed(p, ".stage-gen-zzz-123", ".trash", "gen-orphan")
    out["lm"] = _reports(spark, lm.lm_index_check, p)
    with open(os.path.join(p, "_COMPLETE")) as f:
        rec = json.load(f)
    for case, bad in (
        ("lm_gen_gone", dict(rec, gen="gen-gone")),
        ("lm_no_gen", {k: v for k, v in rec.items() if k != "gen"}),
    ):
        with open(os.path.join(p, "_COMPLETE"), "w") as f:
            json.dump(bad, f)
        out[case] = _reports(spark, lm.lm_index_check, p)

    p = os.path.join(tmp, "tri")
    lm.build_trigram_model(spark, docs, p)
    out["trigram"] = _reports(spark, lm.lm_index_check, p)

    p = os.path.join(tmp, "nb")
    nb.build_nb_model(spark, docs, p)
    _seed(p)
    out["nb"] = _reports(spark, nb.nb_index_check, p)

    p = os.path.join(tmp, "dc")
    dc.build_benchmark_index(spark, docs, p, k=3)
    out["decontam"] = _reports(spark, dc.benchmark_index_check, p)

    p = os.path.join(tmp, "bp")
    bp.build_boilerplate_index(
        spark,
        spark.createDataFrame(BP_DOCS, "doc_id bigint, text string, source string"),
        p,
    )
    out["boilerplate"] = _reports(spark, bp.boilerplate_index_check, p)

    p = os.path.join(tmp, "dd")
    dd.build_dedup_index(spark, docs.limit(4), p)
    dd.dedup_index_add(spark, p, docs.filter(F.col("doc_id") > 4))
    dd.dedup_index_remove(spark, p, [2])
    _seed(p, ".signatures.rewrite")
    out["dedup"] = _reports(spark, dd.dedup_index_check, p)

    p = os.path.join(tmp, "pq")
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(60)
    pq.build_pq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0),
        QUERIES["ivf_centroids"](spark, SF_SMOKE), p,
    )
    pq.pq_index_add(spark, p, emb.filter(F.col("vec_id") % 2 != 0))
    pq.pq_index_remove(spark, p, [int(emb.select("vec_id").head()[0])])
    _seed(p, ".flat_codes.rewrite", "codes/.centroid_id=0.rewrite")
    out["pq"] = _reports(spark, pq.pq_index_check, p)

    p = os.path.join(tmp, "bm25")
    bm.build_bm25_index(spark, docs.drop("source").limit(4), p)
    bm.bm25_index_add(spark, docs.drop("source").filter(F.col("doc_id") > 4), p)
    bm.bm25_index_remove(spark, p, [2])
    _seed(p, ".stage-seg-zzz-123", ".retired-seg-old", "seg-orphan")
    out["bm25"] = _reports(spark, bm.bm25_index_check, p)

    empty = os.path.join(tmp, "empty")
    os.makedirs(empty)
    for case, check in (
        ("lm", lm.lm_index_check),
        ("nb", nb.nb_index_check),
        ("decontam", dc.benchmark_index_check),
        ("boilerplate", bp.boilerplate_index_check),
        ("dedup", dd.dedup_index_check),
        ("pq", pq.pq_index_check),
        ("bm25", bm.bm25_index_check),
    ):
        out[f"{case}_empty"] = _reports(spark, check, empty)
    return out


def normalise(reports, tmp):
    return json.loads(json.dumps(reports).replace(str(tmp), "<tmp>"))


def test_fsck_reports_match_golden(spark, tmp_path):
    got = normalise(lifecycles(spark, str(tmp_path)), tmp_path)
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert sorted(got) == sorted(golden)
    for case, levels in golden.items():
        new = NEW_ROWS.get(case, [])
        for level, rows in levels.items():
            have = got[case][level]
            assert [r for r in have if r not in new] == rows, (case, level)
            assert [r for r in have if r in new] == new, (case, level)
