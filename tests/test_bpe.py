"""BPE merge learning: golden hand-computed merges, fold semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_data_pipeline_spark.operators.bpe import (
    apply_merge,
    learn_bpe,
    top_pair,
    word_types,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_word_types_symbols(spark):
    types = {r["word"]: (r["n"], r["syms"]) for r in
             word_types(_docs(spark, ["ab ab c"])).collect()}
    assert types["ab"] == (2, ["a", "b", "</w>"])
    assert types["c"] == (1, ["c", "</w>"])


def test_top_pair_weighted_and_deterministic(spark):
    # "ab" x3 -> pair (a,b) weight 3 beats (b,</w>) weight 3? tie ->
    # lexicographic: (a,b) < (b,</w>) so (a,b) wins the tie.
    types = word_types(_docs(spark, ["ab ab ab"]))
    assert top_pair(types) == ("a", "b", 3)


def test_apply_merge_overlap_semantics(spark):
    """'aaa' with merge (a,a): greedy leftmost -> ['aa', 'a', '</w>']."""
    df = spark.createDataFrame([(1,)], "x int").select(
        apply_merge(F.expr("array('a','a','a','</w>')"), "a", "a").alias("s")
    )
    assert df.first()["s"] == ["aa", "a", "</w>"]


def test_learn_bpe_golden(spark):
    """Hand-computed: corpus 'low' x5, 'lower' x2.
    Pairs r1: (l,o)=7, (o,w)=7, (w,</w>)=5, (w,e)=2, (e,r)=2, (r,</w>)=2.
    Tie 7 vs 7 -> (l,o) lexicographically first. After merge (l,o):
    (lo,w)=7 wins r2; then (low,</w>)=5 r3; then (low,e)=2 ties with
    (e,r),(r,</w>) -> (e,r) first lexicographically."""
    docs = _docs(spark, ["low low low low low", "lower lower"])
    merges = learn_bpe(docs, 4)
    got = [(m["left"], m["right"], m["pair_count"]) for m in merges]
    assert got == [
        ("l", "o", 7),
        ("lo", "w", 7),
        ("low", "</w>", 5),
        ("e", "r", 2),
    ]


def test_registry_entry_runs(spark):
    from edu_data_pipeline_spark.suite import load_all

    out = load_all()["docs_bpe_merges"].fn(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert 1 <= len(rows) <= 8
    assert [r["merge_rank"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["merged"] == r["left"] + r["right"]


def test_pair_stats_twin_feeds_first_merge(spark, tmp_path):
    """docs_bpe_pair_stats (the oracle-checked exact twin) must contain
    exactly the weighted pair table learn_bpe's first arg-max reads:
    its max row (count desc, then lexicographic) IS merge rank 1."""
    from edu_data_pipeline_spark.suite import load_all

    reg = load_all()
    texts = ["low low low lower", "newest newest widest", "low widest"]
    d = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "bpex")
    d.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    stats = reg["docs_bpe_pair_stats"].fn(spark, sf_dir).collect()
    top = sorted(
        stats, key=lambda r: (-r["pair_count"], r["left_sym"], r["right_sym"])
    )[0]
    first = learn_bpe(d, 1)[0]
    assert (top["left_sym"], top["right_sym"], top["pair_count"]) == (
        first["left"], first["right"], first["pair_count"]
    )
    # and the twin equals the operator's own pair rows aggregated
    from edu_data_pipeline_spark.operators.bpe import _pair_rows

    want = {
        (r["a"], r["b"]): r["cnt"]
        for r in _pair_rows(word_types(d))
        .groupBy("a", "b")
        .agg(F.sum("n").alias("cnt"))
        .collect()
    }
    got = {(r["left_sym"], r["right_sym"]): r["pair_count"] for r in stats}
    assert got == want
