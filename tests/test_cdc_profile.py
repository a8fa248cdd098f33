from __future__ import annotations

from edu_data_pipeline_spark.operators.cdc import apply_cdc


def _changes(spark, rows):
    return spark.createDataFrame(rows, ["k", "v", "_op", "seq"])


def test_apply_cdc_insert_update_delete(spark):
    snap = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    # k=2 updated twice (last wins), k=3 deleted, k=4 inserted,
    # k=5 inserted-then-deleted within the batch -> never appears
    ch = _changes(
        spark,
        [
            (2, "b1", "U", 10), (2, "b2", "U", 20),
            (3, None, "D", 15),
            (4, "d", "I", 12),
            (5, "e", "I", 11), (5, None, "D", 19),
        ],
    )
    out = {r.k: r.v for r in apply_cdc(snap, ch, ["k"], "seq").collect()}
    assert out == {1: "a", 2: "b2", 4: "d"}


def test_apply_cdc_idempotent_and_initial_load(spark):
    ch = _changes(spark, [(1, "a", "I", 1), (2, "b", "I", 2), (2, None, "D", 3)])
    first = apply_cdc(None, ch, ["k"], "seq")
    assert {r.k: r.v for r in first.collect()} == {1: "a"}
    again = apply_cdc(first, ch, ["k"], "seq")
    assert {r.k: r.v for r in again.collect()} == {1: "a"}


def test_apply_cdc_null_keys(spark):
    """Regression (r12): the anti-join against the snapshot must be
    null-safe (<=>), like merge_upsert's. With plain equality a NULL
    key never matched, so a NULL-key update DUPLICATED the row and a
    NULL-key delete was silently ignored."""
    ch_schema = "k int, v string, _op string, seq int"
    snap = spark.createDataFrame([(None, "old"), (1, "a")], "k int, v string")
    upd = spark.createDataFrame([(None, "new", "U", 10)], ch_schema)
    assert sorted(
        ((r.k, r.v) for r in apply_cdc(snap, upd, ["k"], "seq").collect()),
        key=str,
    ) == [(1, "a"), (None, "new")]

    del_ = spark.createDataFrame([(None, None, "D", 10)], ch_schema)
    assert [(r.k, r.v) for r in apply_cdc(snap, del_, ["k"], "seq").collect()] == [
        (1, "a")
    ]

    # composite key with a null component: only the (1, NULL) row moves
    snap2 = spark.createDataFrame(
        [(1, None, "x"), (1, 2, "y")], "a int, b int, v string"
    )
    upd2 = spark.createDataFrame(
        [(1, None, "x2", "U", 5)], "a int, b int, v string, _op string, seq int"
    )
    assert sorted(
        (
            (r.a, r.b, r.v)
            for r in apply_cdc(snap2, upd2, ["a", "b"], "seq").collect()
        ),
        key=str,
    ) == [(1, 2, "y"), (1, None, "x2")]
