"""Focused pins for the r14 optimization internals: the setsim
128-bit hash verifier kernel, the LM-family derived marginals, and the
_okapi_topk persist."""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.corpus import (
    bigram_lm_perplexity,
    bm25_topk,
    moore_lewis_scores,
)
from kafka_dbsync_spark.operators.dedup import (
    _pair_jaccard_hash_batches,
    setsim_prefix_join,
)


def _kernel_rows(batch, tbp):
    fn = _pair_jaccard_hash_batches(tbp)
    out = list(fn(iter([batch])))
    rows = []
    for rb in out:
        t = rb.to_pydict()
        rows += list(zip(t["id_a"], t["id_b"], t["jaccard_bp"]))
    return sorted(rows)


def _hash_list(values):
    # arbitrary deterministic 128-bit stand-ins: the kernel contract is
    # equality-only, independent of the hash function
    return [(hash(("a", v)) % 2**31, hash(("b", v)) % 2**31) for v in values]


def _batch(pairs):
    ty = pa.list_(
        pa.struct([pa.field("h1", pa.int64()), pa.field("h2", pa.int64())])
    )

    def arr(sets):
        return pa.array(
            [[{"h1": h1, "h2": h2} for h1, h2 in s] for s in sets], type=ty
        )

    return pa.RecordBatch.from_arrays(
        [
            pa.array([p[0] for p in pairs], type=pa.int64()),
            pa.array([p[1] for p in pairs], type=pa.int64()),
            arr([p[2] for p in pairs]),
            arr([p[3] for p in pairs]),
        ],
        names=["id_a", "id_b", "hs_a", "hs_b"],
    )


def test_hash_verifier_matches_brute_force():
    rng = np.random.default_rng(7)
    pairs, expected = [], []
    for i in range(200):
        universe = [f"g{j}" for j in range(rng.integers(1, 60))]
        a = set(rng.choice(universe, rng.integers(1, len(universe) + 1), replace=False))
        b = set(rng.choice(universe, rng.integers(1, len(universe) + 1), replace=False))
        pairs.append((i, i + 1000, _hash_list(sorted(a)), _hash_list(sorted(b))))
        inter = len(a & b)
        union = len(a | b)
        jac = inter * 10000 // union
        if jac >= 3000:
            expected.append((i, i + 1000, jac))
    got = _kernel_rows(_batch(pairs), 3000)
    assert got == sorted(expected)


def test_hash_verifier_empty_and_disjoint_sets():
    pairs = [
        (1, 2, _hash_list(["x", "y"]), _hash_list(["x", "y"])),  # identical
        (3, 4, _hash_list(["x"]), _hash_list(["y"])),  # disjoint
        (5, 6, [], _hash_list(["x"])),  # one side empty
    ]
    got = _kernel_rows(_batch(pairs), 5000)
    assert got == [(1, 2, 10000)]


def test_setsim_output_carries_no_string_arrays(spark):
    # the r14 contract: shingle strings are consumed at the source
    # projection — no string-array column may survive into the
    # verifier input (plan-shape pin for the §2.3 payload fix)
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w q")],
        ["doc_id", "text"],
    )
    out = setsim_prefix_join(df, "doc_id", "text", k=3, threshold=0.4)
    rows = {(r["id_a"], r["id_b"]): r["jaccard_bp"] for r in out.collect()}
    # sets: {abc,bcd,cde} vs {abc,bcd,cdf}: inter 2, union 4 -> 5000
    assert rows == {(1, 2): 5000}
    # the executed plan: every mapInArrow input schema is string-free
    inputs = [
        n.child().schema().simpleString()
        for n in _plan_nodes(out._jdf.queryExecution().executedPlan())
        if n.nodeName() == "MapInArrow"
    ]
    assert inputs, "no MapInArrow node in the executed plan"
    assert not any("array<string>" in s for s in inputs), inputs


def _plan_nodes(node):
    """Every node of an executed physical plan, through AQE wrappers and
    query stages."""
    yield node
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.executedPlan())
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_bigram_lm_derived_c1_matches_direct_count(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "c"), (4, None)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: (r["n_bigrams"], r["ppl"]) for r in
           bigram_lm_perplexity(docs).collect()}
    # doc 3 (single token) and doc 4 (NULL) produce no bigrams;
    # V counts ALL tokens incl. single-token docs: {a, b, c} = 3
    assert set(out) == {1, 2}
    assert out[1][0] == 4 and out[2][0] == 1
    # grams: (a,b)x2+(b,a)+(b,c) in doc1, (a,b) in doc2
    # p(b|a) = (n12+1)/(n1+V) = (3+1)/(3+3); doc2 ppl = exp(-ln(4/6))
    import math

    assert out[2][1] == pytest.approx(round(math.exp(-round(math.log(4 / 6), 6)), 4))


def test_moore_lewis_derived_marginals(spark):
    seed = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    pool = spark.createDataFrame(
        [(10, "a b c"), (11, "x y")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["n_bigrams"] for r in
           moore_lewis_scores(seed, pool).collect()}
    assert out == {10: 2, 11: 1}


def test_okapi_per_doc_is_persisted_and_replayable(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta " * (i % 3 + 1)) for i in range(20)],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, ["alpha"], k=5)
    rows = out.collect()
    assert len(rows) == 5
    # persist (not localCheckpoint): the plan carries an
    # InMemoryRelation whose child is the full replayable tf lineage
    # (a localCheckpoint would truncate it to a bare RDD scan with no
    # recomputable child plan)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert "MapInArrow" in plan  # the tf kernel lineage survives
