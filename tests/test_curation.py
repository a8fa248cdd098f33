"""Curation-suite invariants: Bloom screen FP accounting, SemDeDup drop
rules, quality-classifier verdict consistency, contamination fractions,
and the cross-source MinHash overlap estimator — crafted corpora for the
decision edges, real testdata for the global invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_data_pipeline_spark.suite import load_all
from edu_data_pipeline_spark.suite.curation_suite import (
    CONTAM_FRAC_T,
    QC_HIGH_T,
    QC_KEEP_T,
    SEMDEDUP_TAU,
)

REG = load_all()
SF = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, docs):
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _doc(doc_id, tokens, source):
    text = " ".join(tokens)
    return (doc_id, text, "en", source, len(text))


# ---------------------------------------------------------------------------
# Bloom screen
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_real(spark):
    """Bloom-positive must be a superset of exact membership on the real
    corpus, and the FP column must reconcile exactly."""
    rows = REG["docs_bloom_screen"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_bloom_hits"] >= r["n_exact_hits"], r
        assert r["n_false_pos"] == r["n_bloom_hits"] - r["n_exact_hits"], r
        assert r["n_grams"] >= r["n_bloom_hits"], r


def test_bloom_crafted_hits(spark, tmp_path):
    """A doc sharing its full shingle set with the eval source is fully
    bloom-hit AND fully exact-hit; a disjoint doc has zero exact hits."""
    shared = [f"s{i}" for i in range(20)]
    other = [f"o{i}" for i in range(20)]
    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, shared, "src0"),  # eval member
            _doc(1, shared, "src1"),  # exact copy in train
            _doc(2, other, "src2"),  # disjoint
        ],
    )
    rows = {r["doc_id"]: r for r in REG["docs_bloom_screen"].fn(spark, sf).collect()}
    assert set(rows) == {1, 2}  # eval docs are not probed
    assert rows[1]["n_exact_hits"] == rows[1]["n_grams"] == rows[1]["n_bloom_hits"]
    assert rows[2]["n_exact_hits"] == 0
    assert rows[2]["n_bloom_hits"] == rows[2]["n_false_pos"]


# ---------------------------------------------------------------------------
# Contamination fraction
# ---------------------------------------------------------------------------


def test_contamination_crafted_verdicts(spark, tmp_path):
    eval_toks = [f"e{i}" for i in range(16)]
    clean_toks = [f"c{i}" for i in range(16)]
    # half the grams of this doc come from the eval text -> way over 10%
    dirty_toks = eval_toks[:12] + [f"d{i}" for i in range(12)]
    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, eval_toks, "src0"),
            _doc(1, dirty_toks, "src1"),
            _doc(2, clean_toks, "src2"),
        ],
    )
    rows = {r["doc_id"]: r for r in
            REG["docs_contamination_frac"].fn(spark, sf).collect()}
    assert set(rows) == {1, 2}  # eval docs excluded, zero-overlap docs KEPT
    assert rows[1]["contaminated"] is True
    assert rows[1]["n_overlap"] == 5  # 8-grams fully inside eval_toks[:12]
    assert rows[2]["contaminated"] is False
    assert rows[2]["n_overlap"] == 0


def test_contamination_bounds_real(spark):
    rows = REG["docs_contamination_frac"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_overlap"] <= r["n_grams"]
        assert 0.0 <= r["overlap_frac"] <= 1.0
        assert r["contaminated"] == (r["overlap_frac"] > CONTAM_FRAC_T)


# ---------------------------------------------------------------------------
# Quality classifier
# ---------------------------------------------------------------------------


def test_quality_classifier_verdicts_consistent(spark):
    rows = REG["docs_quality_classifier"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        expected = (
            "high"
            if r["quality_score"] >= QC_HIGH_T
            else "mid"
            if r["quality_score"] >= QC_KEEP_T
            else "low"
        )
        assert r["quality_label"] == expected
        assert r["keep"] == (r["quality_score"] >= QC_KEEP_T)


def test_quality_classifier_degenerate_doc(spark, tmp_path):
    """An all-stopword one-word-vocabulary doc must score low; a long
    diverse doc must beat it."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, ["the"] * 50, "src0"),
            _doc(1, [f"w{i}" for i in range(200)], "src1"),
        ],
    )
    rows = {r["doc_id"]: r for r in
            REG["docs_quality_classifier"].fn(spark, sf).collect()}
    assert rows[0]["quality_score"] < rows[1]["quality_score"]
    assert rows[0]["quality_label"] == "low"
    assert rows[1]["keep"] is True


# ---------------------------------------------------------------------------
# Semantic dedup
# ---------------------------------------------------------------------------


def test_semantic_dedup_drop_rules_real(spark):
    rows = REG["embedding_semantic_dedup"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["kept_vec"] < r["dropped_vec"]
        assert r["n_close"] >= 1
        assert r["max_cosine"] >= SEMDEDUP_TAU


def test_semantic_dedup_crafted_identical_vectors(spark, tmp_path):
    """Identical vectors land in the same k-means cluster (zero distance
    to the same centroid, ties broken by lowest cid), so copies of vec 0
    must be dropped against it; an opposite-direction vector (cosine -1)
    clusters apart and survives."""
    base = [1.0, 0.5, -0.25, 2.0] * 16  # dim 64
    neg = [-v for v in base]
    rows_in = [
        (0, base, 0),
        (1, list(base), 0),
        (2, list(base), 1),
        (3, neg, 1),
    ]
    spark.createDataFrame(
        rows_in, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["dropped_vec"]: r for r in
           REG["embedding_semantic_dedup"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}
    assert out[1]["kept_vec"] == 0 and out[2]["kept_vec"] == 0
    assert out[1]["max_cosine"] == 1.0
    assert 3 not in out


# ---------------------------------------------------------------------------
# Cross-source MinHash overlap
# ---------------------------------------------------------------------------


def test_source_overlap_matrix_shape_real(spark):
    rows = REG["source_minhash_overlap"].fn(spark, SF).collect()
    srcs = {r["src_a"] for r in rows} | {r["src_b"] for r in rows}
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2  # every unordered pair once
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 0 <= r["n_matches"] <= 16
        assert abs(r["est_jaccard"] - r["n_matches"] / 16) < 1e-9


def test_source_overlap_identical_vs_disjoint(spark, tmp_path):
    """Two sources with identical shingle sets estimate Jaccard 1.0; a
    token-disjoint third source estimates far below."""
    a = [f"a{i}" for i in range(40)]
    b = [f"b{i}" for i in range(40)]
    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, a, "srcA"),
            _doc(1, a, "srcB"),
            _doc(2, b, "srcC"),
        ],
    )
    rows = {(r["src_a"], r["src_b"]): r for r in
            REG["source_minhash_overlap"].fn(spark, sf).collect()}
    assert set(rows) == {("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")}
    assert rows[("srcA", "srcB")]["n_matches"] == 16
    assert rows[("srcA", "srcB")]["est_jaccard"] == 1.0
    assert rows[("srcA", "srcC")]["n_matches"] < 16


def test_source_overlap_cap_guard_fires(spark, tmp_path, monkeypatch):
    """ADVICE r4: exceeding the broadcast-pairing cap must FAIL loudly,
    never silently truncate the overlap matrix. Shrink the cap to 1 and
    feed 3 sources — the runtime guard raises."""
    import pytest

    import edu_data_pipeline_spark.suite.curation_suite as cur

    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, [f"a{i}" for i in range(40)], "srcA"),
            _doc(1, [f"b{i}" for i in range(40)], "srcB"),
            _doc(2, [f"c{i}" for i in range(40)], "srcC"),
        ],
    )
    monkeypatch.setattr(cur, "SOURCE_OVERLAP_CAP", 1)
    with pytest.raises(Exception, match="broadcast-pairing cap"):
        REG["source_minhash_overlap"].fn(spark, sf).collect()


def test_source_overlap_agrees_with_exact_on_real(spark):
    """Sketch estimate vs exact shingle-set Jaccard: mean absolute error
    over all source pairs must beat the 16-permutation standard error
    (1/sqrt(16) = 0.25) by a wide margin."""
    est = {(r["src_a"], r["src_b"]): r["est_jaccard"]
           for r in REG["source_minhash_overlap"].fn(spark, SF).collect()}
    from edu_data_pipeline_spark.sources.testdata import table
    from edu_data_pipeline_spark.suite.scale_suite import gram_rows

    d = table(spark, SF, "documents")
    sh = gram_rows(d, 3).distinct().join(d.select("doc_id", "source"), "doc_id")
    src_sets: dict[str, set] = {}
    for r in sh.select("source", "s").distinct().collect():
        src_sets.setdefault(r["source"], set()).add(r["s"])
    errs = []
    for (sa, sb), e in est.items():
        inter = len(src_sets[sa] & src_sets[sb])
        union = len(src_sets[sa] | src_sets[sb])
        errs.append(abs(e - inter / union))
    assert sum(errs) / len(errs) < 0.15


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def test_cms_never_underestimates_real(spark):
    rows = REG["docs_cms_term_freq"].fn(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_estimate"] >= r["exact_count"], r
        assert r["overestimate"] == r["cms_estimate"] - r["exact_count"]


def test_cms_crafted_counts(spark, tmp_path):
    sf = _write_docs(
        spark,
        tmp_path,
        [_doc(0, ["x"] * 10 + ["y"] * 5 + ["z"], "src0")],
    )
    rows = {r["token"]: r for r in REG["docs_cms_term_freq"].fn(spark, sf).collect()}
    assert rows["x"]["exact_count"] == 10
    assert rows["y"]["exact_count"] == 5
    for r in rows.values():
        assert r["cms_estimate"] >= r["exact_count"]


# ---------------------------------------------------------------------------
# Dedup funnel
# ---------------------------------------------------------------------------


def test_funnel_monotone_real(spark):
    rows = sorted(
        REG["dedup_funnel_report"].fn(spark, SF).collect(),
        key=lambda r: r["stage_idx"],
    )
    assert [r["stage"] for r in rows] == ["raw", "exact_dedup", "near_dedup"]
    assert rows[0]["n_docs"] >= rows[1]["n_docs"] >= rows[2]["n_docs"]


def test_funnel_crafted_stages(spark, tmp_path):
    """Exact copy collapses at stage 1; a one-token-appended near-dup
    collapses only at stage 2; the distinct doc survives everything."""
    a = [f"a{i}" for i in range(20)]
    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, a, "src0"),
            _doc(1, a, "src0"),              # exact copy of 0
            _doc(2, a + ["tail"], "src0"),   # near-dup of 0 (J = 18/19)
            _doc(3, [f"b{i}" for i in range(20)], "src0"),
        ],
    )
    rows = {r["stage"]: r["n_docs"] for r in
            REG["dedup_funnel_report"].fn(spark, sf).collect()}
    assert rows == {"raw": 4, "exact_dedup": 3, "near_dedup": 2}


# ---------------------------------------------------------------------------
# Continuation pairs
# ---------------------------------------------------------------------------


def test_continuation_crafted_pair(spark, tmp_path):
    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, ["a1", "a2", "a3", "p", "q", "r"], "src0"),
            _doc(1, ["p", "q", "r", "b1", "b2", "b3"], "src0"),
            _doc(2, ["c1", "c2", "c3", "c4", "c5", "c6"], "src0"),
        ],
    )
    rows = REG["docs_continuation_pairs"].fn(spark, sf).collect()
    assert len(rows) == 1
    assert (rows[0]["prev_doc"], rows[0]["next_doc"]) == (0, 1)
    assert rows[0]["bridge"] == "p q r"


# ---------------------------------------------------------------------------
# Epoch shuffle order
# ---------------------------------------------------------------------------


def test_epoch_orders_are_distinct_permutations(spark):
    rows = REG["docs_epoch_order"].fn(spark, SF).collect()
    by_epoch: dict[int, dict[int, int]] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = r["position"]
    assert set(by_epoch) == {0, 1, 2}
    for m in by_epoch.values():  # each epoch is a full 1..N permutation
        assert sorted(m.values()) == list(range(1, len(m) + 1))
    assert by_epoch[0] != by_epoch[1]  # different shuffle per epoch
    assert by_epoch[1] != by_epoch[2]


# ---------------------------------------------------------------------------
# KS drift test + key-skew report (crafted event logs)
# ---------------------------------------------------------------------------


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_ks_detects_shift(spark, tmp_path):
    from datetime import datetime

    before = datetime(2024, 1, 10)
    after = datetime(2024, 1, 20)
    rows = []
    eid = 0
    for i in range(50):  # 'shifted': halves are disjoint -> D = 1.0
        rows.append((eid, before, 1, "shifted", float(i), "{}")); eid += 1
        rows.append((eid, after, 1, "shifted", float(100 + i), "{}")); eid += 1
    for i in range(50):  # 'same': identical values in both halves
        rows.append((eid, before, 1, "same", float(i), "{}")); eid += 1
        rows.append((eid, after, 1, "same", float(i), "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in REG["events_ks_test"].fn(spark, sf).collect()}
    assert out["shifted"]["d_stat"] == 1.0 and out["shifted"]["drifted"] is True
    assert out["same"]["d_stat"] == 0.0 and out["same"]["drifted"] is False
    assert out["same"]["n_a"] == out["same"]["n_b"] == 50


def test_key_skew_crafted(spark, tmp_path):
    from datetime import datetime

    ts = datetime(2024, 1, 10)
    rows = [(i, ts, 1, "click", 1.0, "{}") for i in range(100)]  # hot key
    rows += [(100 + u, ts, 2 + u, "click", 1.0, "{}") for u in range(10)]
    sf = _write_events(spark, tmp_path, rows)
    out = REG["events_key_skew"].fn(spark, sf).collect()
    assert out[0]["user_id"] == 1 and out[0]["n_events"] == 100
    # 11 keys, 110 rows: mean key weight 10 -> hot key ratio 10x
    assert out[0]["skew_ratio"] == 10.0
    assert abs(out[0]["share"] - round(100 / 110, 6)) < 1e-9
    assert len(out) == 10


def test_lateness_profile_crafted(spark, tmp_path):
    """An event arriving after a later-timestamped event lands in the
    bucket of its distance behind the high-water mark; in-order data is
    all bucket 0."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (0, t0, 1, "late", 1.0, "{}"),
        (1, t0 + timedelta(minutes=10), 1, "late", 1.0, "{}"),
        (2, t0 + timedelta(minutes=3), 1, "late", 1.0, "{}"),  # 7 min late
        (3, t0, 1, "inorder", 1.0, "{}"),
        (4, t0 + timedelta(minutes=1), 1, "inorder", 1.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = {(r["event_type"], r["bucket"]): r
           for r in REG["events_lateness_profile"].fn(spark, sf).collect()}
    assert out[("late", 0)]["n_events"] == 2
    assert out[("late", 7)]["n_events"] == 1  # 7-minute lateness bucket
    assert out[("inorder", 0)]["n_events"] == 2
    assert ("inorder", 1) not in out


def test_lc_distinct_accuracy(spark):
    rows = REG["events_lc_distinct"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r["n_buckets_used"] <= r["exact_distinct"]  # collisions only shrink
        assert abs(r["rel_err"]) < 0.05, r  # ~0.15 load factor -> ~1% error
        assert abs((r["lc_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
                   - r["rel_err"]) < 1e-3


def test_band_sweep_candidate_monotonicity(spark):
    """Wider bands are stricter: a (2x8) collision implies both half
    bands collide under (4x4), which implies (8x2) collisions — so
    candidate volume must be monotone in the number of bands, and each
    config's verified count can never exceed its candidates."""
    rows = {r["n_bands"]: r for r in
            REG["minhash_band_sweep"].fn(spark, SF).collect()}
    assert set(rows) == {2, 4, 8}
    assert (rows[2]["n_candidates"] <= rows[4]["n_candidates"]
            <= rows[8]["n_candidates"])
    for r in rows.values():
        assert 0 <= r["n_verified"] <= r["n_candidates"]
        assert abs(r["s_star"] - (1.0 / r["n_bands"]) ** (1.0 / r["rows_per_band"])) < 1e-12


def test_transition_matrix_rows_normalize(spark):
    rows = REG["event_transition_matrix"].fn(spark, SF).collect()
    assert rows
    from collections import defaultdict

    row_sum = defaultdict(float)
    for r in rows:
        assert r["n_transitions"] > 0
        row_sum[r["from_type"]] += r["p_transition"]
    for ft, s in row_sum.items():
        assert abs(s - 1.0) < 1e-3, (ft, s)  # each row is a distribution


def test_triangles_crafted_graph(spark, tmp_path):
    """A 3-doc exact-copy group forms one triangle (clustering 1.0);
    a 2-doc pair adds an edge but no wedge closure."""
    a = [f"a{i}" for i in range(20)]
    b = [f"b{i}" for i in range(20)]
    sf = _write_docs(
        spark,
        tmp_path,
        [
            _doc(0, a, "src0"), _doc(1, a, "src0"), _doc(2, a, "src0"),
            _doc(3, b, "src0"), _doc(4, b, "src0"),
        ],
    )
    r = REG["dedup_graph_triangles"].fn(spark, sf).first()
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (5, 4, 1)
    # wedges: triangle contributes 3, pair contributes 0 -> 3T/W = 1.0
    assert r["n_wedges"] == 3 and r["global_clustering"] == 1.0


def test_autocorr_crafted_series(spark, tmp_path):
    """A strictly increasing daily series has lag-1 autocorrelation 1;
    an alternating series has -1."""
    from datetime import datetime, timedelta

    rows, eid = [], 0
    base = datetime(2024, 1, 1)
    for day, cnt in enumerate([1, 2, 3, 4, 5]):  # increasing -> r = 1
        for _ in range(cnt):
            rows.append((eid, base + timedelta(days=day), 1, "up", 1.0, "{}"))
            eid += 1
    for day, cnt in enumerate([1, 5, 1, 5, 1, 5]):  # alternating -> r = -1
        for _ in range(cnt):
            rows.append((eid, base + timedelta(days=day), 1, "alt", 1.0, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {r["event_type"]: r for r in
           REG["events_daily_autocorr"].fn(spark, sf).collect()}
    assert out["up"]["lag1_autocorr"] == 1.0
    assert out["alt"]["lag1_autocorr"] == -1.0


def test_token_entropy_bounds(spark):
    import math

    rows = REG["docs_token_entropy"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r["entropy_nats"] <= math.log(r["n_distinct"]) + 1e-6
        assert r["n_distinct"] <= r["n_tokens"]


def test_burst_detector_crafted(spark, tmp_path):
    """A planted 10x minute against a flat trailing hour must alert;
    the flat background must not."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 10, 8, 0, 0)
    rows, eid = [], 0
    for m in range(90):  # flat: 2 events/minute
        cnt = 20 if m == 80 else 2  # burst at minute 80
        for _ in range(cnt):
            rows.append((eid, base + timedelta(minutes=m), 1, "click", 1.0, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = REG["events_burst_minutes"].fn(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 20
    assert r["minute"].minute == 20  # 8:00 + 80 min = 9:20
    assert r["z_score"] > 3.0


def test_gini_crafted_extremes(spark, tmp_path):
    """Equal spenders -> Gini 0 (up to the (n+1)/n finite-sample term);
    one customer owning everything -> Gini -> (n-1)/n."""
    from datetime import datetime

    ts = datetime(2024, 1, 10)
    orders = []
    # nation 0 via custkeys 1..4: equal spend 100 each
    for k in range(1, 5):
        orders.append((k, k, "O", 100.0, ts, "1-URGENT"))
    # nation 1 via custkeys 11..14: one whale
    orders.append((11, 11, "O", 400.0, ts, "1-URGENT"))
    for k in range(12, 15):
        orders.append((100 + k, k, "O", 0.01, ts, "1-URGENT"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(k, f"c{k}", 0 if k < 10 else 1, 0.0, "BUILDING") for k in
         list(range(1, 5)) + list(range(11, 15))],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(0, "EQUALIA", 0, ""), (1, "WHALELAND", 0, "")],
        "n_nationkey int, n_name string, n_regionkey int, n_comment string",
    ).write.parquet(str(tmp_path / "nation.parquet"))
    out = {r["n_name"]: r for r in
           REG["customer_spend_gini"].fn(spark, str(tmp_path)).collect()}
    assert out["EQUALIA"]["gini"] == 0.0
    assert out["WHALELAND"]["gini"] > 0.7  # near (n-1)/n = 0.75


def test_gini_bucket_boundaries_match_bruteforce(spark, tmp_path):
    """The r5 value-group/bucket decomposition must stay exact when
    spends straddle the W=4096 bucket boundary and repeat across
    customers: compare the query's gini against a brute-force rank
    computation in Python on crafted values 4095.99 / 4096.00 / 4096.01
    plus duplicates."""
    from datetime import datetime

    ts = datetime(2024, 1, 10)
    spends = [4095.99, 4096.00, 4096.00, 4096.01, 100.00, 8192.00, 8191.99]
    orders = [(i + 1, i + 1, "O", s, ts, "1-URGENT")
              for i, s in enumerate(spends)]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(i + 1, f"c{i}", 0, 0.0, "BUILDING") for i in range(len(spends))],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(0, "EDGELAND", 0, "")],
        "n_nationkey int, n_name string, n_regionkey int, n_comment string",
    ).write.parquet(str(tmp_path / "nation.parquet"))
    out = REG["customer_spend_gini"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # brute force: G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over sorted cents
    xs = sorted(round(s * 100) for s in spends)  # exact cents
    n = len(xs)
    weighted = sum((i + 1) * x for i, x in enumerate(xs))
    total = sum(xs)
    want = 2.0 * weighted / (n * float(total)) - (n + 1.0) / n
    assert r["n_customers"] == n
    assert abs(r["gini"] - round(want, 6)) < 1e-9
    assert r["total_spend"] == round(total / 100.0, 2)
