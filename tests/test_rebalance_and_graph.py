"""Round-4 fixes: capped language rebalance + CC non-convergence signal.

- docs_lang_rebalance (r3 VERDICT "What's wrong" #1): the replication
  factor is capped at LANG_REBALANCE_MAX_REP so a pathological corpus
  (1 doc in a rare language vs millions of majority docs) cannot explode
  a single input row into a corpus-scale replica count inside one task.
- connected_components (r3 ADVICE): exhausting the round cap while
  labels still change must never be silent.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from edu_data_pipeline_spark.operators.graph import (
    NonConvergedComponentsWarning,
    connected_components,
    symmetrize_edges,
)
from edu_data_pipeline_spark.suite import load_all
from edu_data_pipeline_spark.suite.analytics_suite import LANG_REBALANCE_MAX_REP

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_lang_rebalance_cap(spark, tmp_path):
    """1-doc-language fixture: uncapped rep would be 500; every doc must
    emit at most LANG_REBALANCE_MAX_REP replicas."""
    majority = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.lit("t").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.lit(1).alias("n_chars"),
    )
    rare = spark.createDataFrame([(999, "t", "zz", "web", 1)], DOC_SCHEMA)
    majority.unionByName(rare).write.parquet(str(tmp_path / "documents.parquet"))

    out = load_all()["docs_lang_rebalance"].fn(spark, str(tmp_path))
    per_doc = out.groupBy("doc_id", "lang").agg(F.count(F.lit(1)).alias("n"))
    rows = {(r["lang"], r["n"]) for r in per_doc.collect()}
    assert ("zz", LANG_REBALANCE_MAX_REP) in rows  # capped, not 500
    assert all(n == 1 for lang, n in rows if lang == "en")  # majority untouched
    # the global bound the cap buys: output <= MAX_REP x input, always
    assert out.count() <= 501 * LANG_REBALANCE_MAX_REP


def test_cc_warns_when_round_cap_exhausted(spark):
    """A 12-node chain needs more than 2 pointer-jumping rounds: a cap of
    2 warns, or raises under strict=True — never a silent wrong answer."""
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    verts = spark.range(0, n).select(F.col("id").alias("doc_id"))
    sym = symmetrize_edges(edges)

    with pytest.warns(NonConvergedComponentsWarning):
        _, rounds = connected_components(verts, sym, max_rounds=2)
    assert rounds == 2

    with pytest.raises(RuntimeError, match="max_rounds=2"):
        connected_components(verts, sym, max_rounds=2, strict=True)

    # the same chain converges well inside the default cap — and a
    # converged run must NOT warn
    with warnings.catch_warnings():
        warnings.simplefilter("error", NonConvergedComponentsWarning)
        labels, _ = connected_components(verts, sym)
    assert {r["component"] for r in labels.collect()} == {0}


def _labels_dict(labels):
    return {r["doc_id"]: r["component"] for r in labels.collect()}


def test_cc_skew_threshold_megacluster_bit_identical(spark):
    """Crafted megacluster (star hub + 400 leaves, a boilerplate-heavy
    crawl's near-dup blowup) plus a chain and an isolated pair: the hub's
    degree and the emergent giant-component label make both per-round
    join keys hot, and the labels must still match ground truth."""
    star = [(0, i) for i in range(1, 401)]            # hub 0, degree 400
    chain = [(1000 + i, 1001 + i) for i in range(6)]  # 1000..1006
    pair = [(2000, 2001)]
    edges = spark.createDataFrame(star + chain + pair, "doc_a long, doc_b long")
    verts = (
        spark.range(0, 401)
        .union(spark.range(1000, 1007))
        .union(spark.range(2000, 2002))
        .select(F.col("id").alias("doc_id"))
    )
    labels, _ = connected_components(verts, symmetrize_edges(edges))
    got = _labels_dict(labels)
    for v in range(401):
        assert got[v] == 0
    for v in range(1000, 1007):
        assert got[v] == 1000
    assert got[2000] == got[2001] == 2000


def test_cc_null_ids_single_emission(spark):
    """Deterministic regression (r13, found by the graph property fuzz):
    a NULL vertex id that ALSO appeared as an edge endpoint was emitted
    twice — once labeled by the active-set loop (NULL -> NULL) and once
    more by the isolated anti-join, which is null-unsafe by SQL
    semantics. Contract now: NULL-endpoint edges assert no connection
    (dropped); each NULL vertex row labels exactly once, as a singleton
    with a NULL component."""
    from pyspark.sql import types as T

    vs = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)],
        T.StructType([T.StructField("doc_id", T.IntegerType())]),
    )
    es = spark.createDataFrame(
        [(1, 2), (None, 3), (3, None)],
        T.StructType(
            [
                T.StructField("doc_a", T.IntegerType()),
                T.StructField("doc_b", T.IntegerType()),
            ]
        ),
    )
    labels, _ = connected_components(vs, symmetrize_edges(es))
    got = sorted(((r.doc_id, r.component) for r in labels.collect()), key=str)
    # vertex 3's only edges had NULL endpoints -> isolated singleton;
    # the NULL vertex appears ONCE, component NULL
    assert got == [(1, 1), (2, 1), (3, 3), (None, None)]


def test_cc_null_edge_only_vertex_rescued(spark):
    """Deterministic regression (ADVICE r13): a vertex mentioned ONLY as
    the non-NULL endpoint of a dropped NULL-edge, and absent from the
    vertices frame, must still label as its own singleton — the first
    r13 fix silently dropped it from the output entirely. Vertex 2
    (edge-only via a REAL edge) pins the pre-existing loop-labeled
    behavior the rescue must not duplicate."""
    from pyspark.sql import types as T

    vs = spark.createDataFrame(
        [(1,)], T.StructType([T.StructField("doc_id", T.IntegerType())])
    )
    es = spark.createDataFrame(
        [(1, 2), (3, None), (None, 3), (2, None)],
        T.StructType(
            [
                T.StructField("doc_a", T.IntegerType()),
                T.StructField("doc_b", T.IntegerType()),
            ]
        ),
    )
    labels, _ = connected_components(vs, symmetrize_edges(es))
    got = sorted(((r.doc_id, r.component) for r in labels.collect()), key=str)
    # 3 is rescued exactly once; 2 has a real edge so the rescue
    # must not re-emit it alongside its loop label
    assert got == [(1, 1), (2, 1), (3, 3)]
