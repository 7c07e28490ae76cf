"""Tests: persisted bigram LM (train-once/score-forever)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.corpus import bigram_lm_perplexity
from kafka_dbsync_spark.operators.lm_index import (
    build_lm_model,
    lm_model_is_current,
    lm_score,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the cat sat on the mat the cat sat on the mat"),
        (2, "the cat sat on the mat and purred at the dog"),
        (4, "the dog sat on the mat and barked at the cat"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_scoring_train_docs_matches_in_lineage_operator(spark, corpus, tmp_path):
    # the persisted model scored over its own training docs must equal
    # the one-pass operator exactly (same counts, same decimal contract)
    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    served = sorted(map(tuple, lm_score(spark, path, corpus).collect()))
    inline = sorted(map(tuple, bigram_lm_perplexity(corpus).collect()))
    assert served == inline


def test_unseen_text_gets_smoothed_not_retrained(spark, corpus, tmp_path):
    # a doc of tokens the frozen model never saw: every bigram gets the
    # fully-unseen mass 1/V, so ppl == V exactly — and the model files
    # are untouched by scoring (no retrain-on-score)
    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    import json

    meta = json.load(open(os.path.join(path, "_COMPLETE")))
    v, gen = meta["V"], meta["gen"]
    new = spark.createDataFrame(
        [(100, "zorp glarb snick plonk vex")], ["doc_id", "text"]
    )
    mtimes = {
        d: os.path.getmtime(os.path.join(path, gen, d)) for d in ("c12", "c1")
    }
    row = lm_score(spark, path, new).collect()[0]
    assert row["ppl"] == pytest.approx(float(v), abs=0.01)
    assert mtimes == {
        d: os.path.getmtime(os.path.join(path, gen, d)) for d in ("c12", "c1")
    }


def test_fingerprint_detects_changed_corpus(spark, corpus, tmp_path):
    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    assert lm_model_is_current(corpus, path)
    grown = corpus.unionByName(
        spark.createDataFrame([(6, "a new document arrives")], ["doc_id", "text"])
    )
    assert not lm_model_is_current(grown, path)


def test_score_without_complete_marker_raises(spark, corpus, tmp_path):
    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    os.remove(os.path.join(path, "_COMPLETE"))
    with pytest.raises(FileNotFoundError):
        lm_score(spark, path, corpus)
    # and a rebuild restores service
    build_lm_model(spark, corpus, path)
    assert lm_score(spark, path, corpus).count() == 3


def test_lm_gate_routes_by_perplexity_and_replay_is_noop(spark, corpus, tmp_path):
    from kafka_dbsync_spark.operators.lm_index import lm_gate_foreach_batch

    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    acc, rej = str(tmp_path / "acc"), str(tmp_path / "rej")
    arrivals = spark.createDataFrame(
        [
            (100, "the cat sat on the mat"),          # fluent -> accept
            (101, "zorp glarb snick plonk vex"),      # gibberish -> reject
            (102, "single"),                          # <2 tokens -> too_short
        ],
        ["doc_id", "text"],
    )
    # train vocab V=10, so fully-unseen gibberish scores ppl=V=10.0
    # and the fluent doc ~3.3; gate between them
    fn = lm_gate_foreach_batch(path, acc, rej, max_ppl=8.0)
    fn(arrivals, 0)
    import os

    accepted = spark.read.parquet(os.path.join(acc, "e0"))
    rejected = spark.read.parquet(os.path.join(rej, "e0"))
    assert [r["doc_id"] for r in accepted.collect()] == [100]
    got = {r["doc_id"]: r["reject_reason"] for r in rejected.collect()}
    assert got == {101: "high_perplexity", 102: "too_short"}
    # replay: outputs untouched (mtime of _SUCCESS markers stable)
    marks = [os.path.join(acc, "e0", "_SUCCESS"), os.path.join(rej, "e0", "_SUCCESS")]
    before = [os.path.getmtime(m) for m in marks]
    fn(arrivals, 0)
    assert before == [os.path.getmtime(m) for m in marks]


def test_rebuild_same_generation_is_safe(spark, corpus, tmp_path):
    # a second build over the same corpus finds the generation already
    # published and serves it unchanged — the fast path of the
    # concurrent-cold-build protocol (the rename-collision path is the
    # same outcome by construction: deterministic contents, loser
    # discards)
    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    before = sorted(map(tuple, lm_score(spark, path, corpus).collect()))
    build_lm_model(spark, corpus, path)
    after = sorted(map(tuple, lm_score(spark, path, corpus).collect()))
    assert before == after
    import json

    gen = json.load(open(os.path.join(path, "_COMPLETE")))["gen"]
    entries = sorted(os.listdir(path))
    assert entries == ["_COMPLETE", gen]  # no staging leftovers


def test_new_generation_supersedes_old(spark, corpus, tmp_path):
    # corpus changes -> new fingerprint -> new generation; the old one
    # is retired and the marker points at the new gen
    import json

    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    gen1 = json.load(open(os.path.join(path, "_COMPLETE")))["gen"]
    grown = corpus.unionByName(
        spark.createDataFrame([(6, "the mat sat on the cat")], ["doc_id", "text"])
    )
    assert not lm_model_is_current(grown, path)
    build_lm_model(spark, grown, path)
    meta = json.load(open(os.path.join(path, "_COMPLETE")))
    assert meta["gen"] != gen1
    assert not os.path.exists(os.path.join(path, gen1))
    assert lm_score(spark, path, grown).count() == 4


def test_fingerprint_detects_text_change_under_same_ids(spark, corpus, tmp_path):
    # regenerated-in-place corpus: same doc_ids, different TEXT — the
    # content term must flag it stale AND the rebuild must land in a
    # DIFFERENT generation dir (same ids alone would collide)
    import json

    path = str(tmp_path / "lm")
    build_lm_model(spark, corpus, path)
    gen1 = json.load(open(os.path.join(path, "_COMPLETE")))["gen"]
    retexted = spark.createDataFrame(
        [(0, "completely different words here"), (2, "another new text"),
         (4, "the last doc changed too")],
        ["doc_id", "text"],
    )
    assert not lm_model_is_current(retexted, path)
    build_lm_model(spark, retexted, path)
    meta = json.load(open(os.path.join(path, "_COMPLETE")))
    assert meta["gen"] != gen1
    assert lm_model_is_current(retexted, path)


def test_empty_corpus_raises_clearly(spark, corpus, tmp_path):
    from kafka_dbsync_spark.operators.lm_index import corpus_fingerprint

    empty = corpus.filter(F.col("doc_id") < 0)
    with pytest.raises(ValueError, match="empty training corpus"):
        corpus_fingerprint(empty)


def test_trigram_served_matches_in_lineage_operator(spark, corpus, tmp_path):
    """The persisted trigram model scoring a held-out doc set must equal
    the fused train+score operator exactly (same counts, same backoff
    arms, same decimal contract)."""
    from kafka_dbsync_spark.operators.corpus import trigram_backoff_perplexity
    from kafka_dbsync_spark.operators.lm_index import (
        build_trigram_model,
        trigram_score,
    )

    score = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),      # in-model trigrams
            (3, "zebra cat sat elsewhere now"), # backoff + OOV arms
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "lm3")
    build_trigram_model(spark, corpus, path)
    served = sorted(map(tuple, trigram_score(spark, path, score).collect()))
    inline = sorted(
        map(tuple, trigram_backoff_perplexity(corpus, score).collect())
    )
    assert served == inline
    assert served  # the comparison is not vacuous


def test_trigram_model_staleness_and_rebuild(spark, corpus, tmp_path):
    """lm_model_is_current validates the trigram marker unchanged (the
    marker shape is model-agnostic): current after build, stale after
    the corpus changes, and the rebuild publishes a new generation."""
    from kafka_dbsync_spark.operators.lm_index import (
        build_trigram_model,
        lm_model_is_current,
        trigram_score,
    )

    path = str(tmp_path / "lm3")
    build_trigram_model(spark, corpus, path)
    assert lm_model_is_current(corpus, path)
    grown = corpus.union(
        spark.createDataFrame([(6, "a brand new document")], ["doc_id", "text"])
    )
    assert not lm_model_is_current(grown, path)
    build_trigram_model(spark, grown, path)
    assert lm_model_is_current(grown, path)
    # the new model actually serves (scores a doc without error)
    assert trigram_score(spark, path, corpus).count() == 3


def test_moore_lewis_served_matches_fused_operator(spark, corpus, tmp_path):
    """Scoring a pool against two persisted models must equal the fused
    moore_lewis_scores(seed, pool) exactly — same add-one arithmetic,
    same decimal contract (the pool model is trained on the pool itself,
    mirroring the fused operator's construction)."""
    from kafka_dbsync_spark.operators.corpus import moore_lewis_scores
    from kafka_dbsync_spark.operators.lm_index import (
        build_lm_model,
        moore_lewis_score_served,
    )

    pool = spark.createDataFrame(
        [
            (11, "the cat sat on the mat"),
            (12, "zebra cat sat elsewhere now"),
        ],
        ["doc_id", "text"],
    )
    p_in, p_out = str(tmp_path / "in"), str(tmp_path / "out")
    build_lm_model(spark, corpus, p_in)
    build_lm_model(spark, pool, p_out)
    served = sorted(
        map(tuple, moore_lewis_score_served(spark, p_in, p_out, pool).collect())
    )
    inline = sorted(map(tuple, moore_lewis_scores(corpus, pool).collect()))
    assert served == inline
    assert served


def test_moore_lewis_served_requires_both_models(spark, corpus, tmp_path):
    import pytest

    from kafka_dbsync_spark.operators.lm_index import (
        build_lm_model,
        moore_lewis_score_served,
    )

    p_in = str(tmp_path / "in")
    build_lm_model(spark, corpus, p_in)
    with pytest.raises(FileNotFoundError, match="no complete LM model"):
        moore_lewis_score_served(
            spark, p_in, str(tmp_path / "missing"), corpus
        )


def test_served_readers_refuse_a_broken_generation(spark, corpus, tmp_path):
    """A marker whose generation dir is gone, or that names none, is
    refused up front by all three served LM readers with the shared
    "references missing generation" error (not a Spark path error or a
    KeyError from inside the reader)."""
    import json
    import shutil

    from kafka_dbsync_spark.operators.lm_index import (
        build_trigram_model,
        moore_lewis_score_served,
        trigram_score,
    )

    bi, tri = str(tmp_path / "bi"), str(tmp_path / "tri")
    build_lm_model(spark, corpus, bi)
    build_trigram_model(spark, corpus, tri)
    readers = (
        lambda: lm_score(spark, bi, corpus),
        lambda: trigram_score(spark, tri, corpus),
        lambda: moore_lewis_score_served(spark, bi, bi, corpus),
    )
    markers = {}
    for p in (bi, tri):
        with open(os.path.join(p, "_COMPLETE")) as f:
            markers[p] = json.load(f)
        shutil.rmtree(os.path.join(p, markers[p]["gen"]))
    for read in readers:
        with pytest.raises(ValueError, match="references missing generation"):
            read()
    for p, rec in markers.items():
        with open(os.path.join(p, "_COMPLETE"), "w") as f:
            json.dump({k: v for k, v in rec.items() if k != "gen"}, f)
    for read in readers:
        with pytest.raises(ValueError, match="references missing generation"):
            read()
