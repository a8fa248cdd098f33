"""Randomized connected-components properties (VERDICT r12 #4, hypothesis).

The CC loop's semantics live in graph shapes example tests under-sample:
self-loops, duplicate/parallel edges, NULL ids, long chains (round-count
pressure) and giant star components (hot join keys). These properties
drive ``connected_components`` against a pure-Python union-find oracle,
with many independent generated graphs MULTIPLEXED into one Spark job
per example (vertex ids are namespaced per feed — the same one-job
trick as the CDC property in test_warehouse_properties.py, since the
vertex id is a single column).

The NULL-id contract (defined by this fuzz, r13; extended ADVICE r13):
an edge with a NULL endpoint asserts no connection and is dropped; a
NULL vertex row labels as a singleton with a NULL component, exactly
once; and a non-NULL id mentioned ONLY as the other endpoint of a
dropped NULL-edge (absent from the vertices frame) still labels as its
own singleton instead of vanishing. The pre-r13 code double-emitted
every NULL vertex that also appeared in the edge list (loop label +
isolated anti-join passthrough); the first r13 fix silently dropped the
edge-only-via-NULL-edge vertices this fuzz now pins.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from edu_data_pipeline_spark.operators.graph import (
    connected_components,
    symmetrize_edges,
)

SETTLE = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Small id universe so duplicate edges / self-loops / shared components
# are common; None exercises the NULL contract.
IDS = st.sampled_from([0, 1, 2, 3, 4, 5, 6, 7, None])

# one feed: (extra isolated/NULL vertices, edge list incl. dups+loops,
# chain length 0-12, star fan 0-12). The chain stresses round count;
# the star is the giant-component (hot join key) shape.
feed = st.tuples(
    st.lists(IDS, max_size=4),
    st.lists(st.tuples(IDS, IDS), max_size=12),
    st.integers(min_value=0, max_value=12),
    st.integers(min_value=0, max_value=12),
)

V_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])
E_SCHEMA = T.StructType(
    [T.StructField("doc_a", T.LongType()), T.StructField("doc_b", T.LongType())]
)

BASE = 1000  # per-feed id namespace stride (ids above stay < BASE)


def _materialize_feed(fid: int, f) -> tuple[list, list]:
    """One feed's (vertex rows, edge rows) in its namespaced id range.

    NULL ids stay NULL (they carry no identity, so they cannot be
    namespaced — the operator must treat them as inert regardless of
    which feed produced them)."""
    extra, edges, chain, star = f
    ns = lambda v: None if v is None else fid * BASE + v  # noqa: E731
    e_rows = [(ns(a), ns(b)) for a, b in edges]
    # chain 100..100+chain and star centered at 200
    e_rows += [(fid * BASE + 100 + i, fid * BASE + 101 + i) for i in range(chain)]
    e_rows += [(fid * BASE + 200, fid * BASE + 201 + i) for i in range(star)]
    verts = {ns(v) for v in extra}
    # Only endpoints of fully-identified edges are auto-covered by the
    # vertices frame; NULL-edge endpoints are covered only when `extra`
    # happens to draw them — so examples exercise both the present and
    # the absent (rescued-singleton) cases of the ADVICE-r13 contract.
    for a, b in e_rows:
        if a is not None and b is not None:
            verts.add(a)
            verts.add(b)
    # vertices: one row per id; None included at most once per feed here,
    # its output multiplicity contract (one row out per row in) is
    # asserted by the dedicated NULL test below.
    return [(v,) for v in verts], e_rows


def _oracle_components(v_rows: list, e_rows: list) -> set[frozenset]:
    """Union-find partition over the non-NULL vertices; NULL-endpoint
    edges assert no connection but their non-NULL endpoint still counts
    as a (singleton-by-default) vertex; each NULL vertex row its own
    singleton (counted separately by the caller)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for (v,) in v_rows:
        if v is not None:
            parent.setdefault(v, v)
    for a, b in e_rows:
        if a is None or b is None:
            # dropped edge: no connection, but a non-NULL endpoint is
            # still a mentioned vertex and must label as a singleton
            for v in (a, b):
                if v is not None:
                    parent.setdefault(v, v)
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        union(a, b)
    groups: dict = {}
    for v in parent:
        groups.setdefault(find(v), set()).add(v)
    return {frozenset(g) for g in groups.values()}


def _run_and_partition(spark, v_rows, e_rows):
    vs = spark.createDataFrame(v_rows, V_SCHEMA)
    es = spark.createDataFrame(e_rows, E_SCHEMA) if e_rows else spark.createDataFrame(
        [], E_SCHEMA
    )
    labels, _ = connected_components(vs, symmetrize_edges(es))
    rows = [(r.doc_id, r.component) for r in labels.collect()]
    groups: dict = {}
    null_rows = []
    for v, c in rows:
        if v is None:
            null_rows.append((v, c))
        else:
            groups.setdefault(c, set()).add(v)
    return rows, groups, null_rows


@SETTLE
@given(st.lists(feed, min_size=1, max_size=4))
def test_components_match_union_find(spark, feeds):
    v_rows, e_rows = [], []
    n_null_verts = 0
    for fid, f in enumerate(feeds):
        fv, fe = _materialize_feed(fid, f)
        n_null_verts += sum(1 for (v,) in fv if v is None)
        v_rows += [(v,) for (v,) in fv if v is not None] + [
            (None,) for (v,) in fv if v is None
        ]
        e_rows += fe
    if not v_rows:
        v_rows = [(0,)]  # operator contract: vertices frame is the doc table
    want = _oracle_components(v_rows, e_rows)

    rows, groups, null_rows = _run_and_partition(spark, v_rows, e_rows)
    # partition structure == union-find partition
    assert {frozenset(g) for g in groups.values()} == want
    # documented invariant: the label IS the component minimum
    assert all(c == min(g) for c, g in groups.items())
    # NULL vertices: exactly one singleton row each, component NULL
    assert null_rows == [(None, None)] * n_null_verts
    # one output row per distinct mentioned non-NULL vertex (no double
    # emission, no vanishing — incl. rescued NULL-edge endpoints)
    assert len(rows) == sum(len(g) for g in want) + n_null_verts
