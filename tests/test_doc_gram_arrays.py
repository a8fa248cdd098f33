"""The r8c map-side per-doc gram machinery, pinned on crafted corpora.

_doc_distinct_gram_arrays deleted the gram family's distinct exchanges
(SCALE.md r8c note); these tests pin the two claims the parity sweep
can't isolate: (1) the array builder is element-for-element equivalent
to the collect_set / .distinct() shapes it replaced, for both string
and fingerprint elements and for k=3 and k=8 grams; (2) the zero-
shuffle CDC rewrite reproduces the window/groupBy chunk numbering on
every boundary edge case (boundary at position 1, no boundaries,
consecutive boundaries, boundary at the last position).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from edu_data_pipeline_spark.suite import load_all
from edu_data_pipeline_spark.suite.scale_suite import (
    CDC_MODULUS,
    _doc_distinct_gram_arrays,
    _gram_key64,
    _gram_key64_sql,
    _sk_from_halves,
    _tokens,
    gram_rows,
)

REGISTRY = load_all()


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )


CRAFTED = [
    "a b c a b c a b c",          # heavy within-doc repetition
    "x y z",                       # exactly one 3-gram
    "p q",                         # too short for 3-grams
    " lead and trail spaces  ok ", # trim behavior
    "one two three four five six seven eight nine ten",  # 8-gram capable
]


def test_array_builder_matches_distinct_strings(spark):
    d = _docs(spark, CRAFTED)
    via_arrays = {
        r["doc_id"]: sorted(r["arr"])
        for r in _doc_distinct_gram_arrays(d, lambda g: g).collect()
    }
    via_distinct = {
        r["doc_id"]: sorted(x["s"] for x in r["ss"])
        for r in gram_rows(d, 3)
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s")).alias("ss"))
        .collect()
    }
    assert via_arrays == via_distinct
    assert 2 not in via_arrays  # the 2-token doc yields no grams


def test_array_builder_matches_collect_set_fingerprints(spark):
    d = _docs(spark, CRAFTED)
    for k in (3, 8):
        via_arrays = {
            r["doc_id"]: sorted(r["arr"])
            for r in _doc_distinct_gram_arrays(d, _gram_key64_sql, k=k).collect()
        }
        via_set = {
            r["doc_id"]: sorted(r["sks"])
            for r in gram_rows(d, k)
            .select("doc_id", _gram_key64(F.col("s")).alias("sk"))
            .groupBy("doc_id")
            .agg(F.collect_set("sk").alias("sks"))
            .collect()
        }
        assert via_arrays == via_set, f"k={k}"


def test_sk_from_halves_matches_gram_key64(spark):
    """The arithmetic 60-bit key (h1 << 28) + (h2 >> 4) must equal the
    md5-substring key for every gram — the stopfiltered anti-join
    depends on the two derivations being bit-identical."""
    d = _docs(spark, CRAFTED)
    g = gram_rows(d, 3)
    m = F.md5(F.col("s"))
    both = g.select(
        _gram_key64(F.col("s")).alias("direct"),
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
    ).withColumn("derived", _sk_from_halves())
    assert both.where(F.col("direct") != F.col("derived")).count() == 0


def _window_cdc(spark, d):
    """The pre-r8c window/groupBy CDC shape, kept here as the test
    reference implementation."""
    from pyspark.sql import Window

    toks = d.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos0", "t")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "t")
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
    marked = toks.withColumn("is_boundary", (h % CDC_MODULUS == 0).cast("long"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = marked.withColumn("chunk_id", F.sum("is_boundary").over(w))
    return seg.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "t"))),
                    lambda p: p["t"],
                ),
                " ",
            )
        ).alias("chunk_md5"),
    )


def test_cdc_array_rewrite_matches_window_form(spark, tmp_path):
    """Crafted tokens hitting every boundary case: the md5-derived
    boundary predicate is data-dependent, so build a corpus large and
    varied enough that boundaries land at position 1, mid-doc,
    back-to-back, and at the last position, then assert the zero-
    shuffle rewrite equals the window reference row-for-row."""
    import itertools

    vocab = [f"t{i}" for i in range(40)]
    texts = [
        " ".join(itertools.islice(itertools.cycle(vocab[j:]), 1, 25 + j))
        for j in range(12)
    ] + ["solo", "two words"]
    d = _docs(spark, texts)

    # sanity: the corpus actually exercises boundary-at-1 and
    # consecutive boundaries somewhere
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
    toks = d.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos0", "t")
    )
    bpos = toks.where(h % CDC_MODULUS == 0).select("doc_id", "pos0")
    assert bpos.count() > 0, "corpus never hits a boundary — vocab too small"

    sf_dir = str(tmp_path)
    d.write.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        map(tuple, REGISTRY["docs_cdc_chunks"].fn(spark, sf_dir).collect())
    )
    want = sorted(map(tuple, _window_cdc(spark, d).collect()))
    assert got == want


SEED = 0x5CA1E


def _random_texts(n: int) -> list[str]:
    """Seeded dirty corpus: repeated tokens, runs of spaces (which the
    shared _tokens split turns into empty-string tokens — both shapes
    must agree on those too), leading/trailing space, empty and tiny
    docs, long templated docs."""
    rng = random.Random(SEED)
    vocab = [f"w{i}" for i in range(25)] + ["UPPER", "123", "a-b", "x_y"]
    out = []
    for _ in range(n):
        k = rng.choice([0, 1, 2, 3, 5, 8, 15, 40])
        toks = [rng.choice(vocab) for _ in range(k)]
        if toks and rng.random() < 0.3:  # force within-doc repetition
            toks = toks + toks[: rng.randrange(1, len(toks) + 1)]
        sep = "  " if rng.random() < 0.2 else " "
        text = sep.join(toks)
        if rng.random() < 0.2:
            text = " " + text + "  "
        out.append(text)
    return out


def test_fuzz_array_builder_and_cdc_against_references(spark):
    """200 seeded random documents: the map-side array builder must
    equal the exchange-based distinct shapes, and the zero-shuffle CDC
    must equal the window reference, on every document at once."""
    d = _docs(spark, _random_texts(200))

    via_arrays = {
        r["doc_id"]: sorted(r["arr"])
        for r in _doc_distinct_gram_arrays(d, lambda g: g).collect()
    }
    via_distinct = {
        r["doc_id"]: sorted(x["s"] for x in r["ss"])
        for r in gram_rows(d, 3)
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s")).alias("ss"))
        .collect()
    }
    assert via_arrays == via_distinct

    via_sk = {
        r["doc_id"]: sorted(r["arr"])
        for r in _doc_distinct_gram_arrays(d, _gram_key64_sql, k=8).collect()
    }
    via_set = {
        r["doc_id"]: sorted(r["sks"])
        for r in gram_rows(d, 8)
        .select("doc_id", _gram_key64(F.col("s")).alias("sk"))
        .groupBy("doc_id")
        .agg(F.collect_set("sk").alias("sks"))
        .collect()
    }
    assert via_sk == via_set

    got = sorted(map(tuple, _cdc_on_frame(spark, d).collect()))
    want = sorted(map(tuple, _window_cdc(spark, d).collect()))
    assert got == want


def _cdc_on_frame(spark, d):
    """Run the registry CDC query against an in-memory frame by writing
    it to a temp dir once per call."""
    import tempfile

    sf_dir = tempfile.mkdtemp(prefix="cdcfuzz")
    d.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    return REGISTRY["docs_cdc_chunks"].fn(spark, sf_dir)
