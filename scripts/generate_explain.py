"""Regenerate EXPLAIN.md: formatted physical plans of the headline queries.

Run: python scripts/generate_explain.py  (writes EXPLAIN.md at repo root)
     python scripts/generate_explain.py --check

``--check`` writes nothing: it regenerates the plans in memory and exits
1, naming each query whose plan differs from EXPLAIN.md's and printing a
unified diff of its recorded and fresh plan, so an intended drift can be
reviewed in the log. Expression ids (``#12``) and ``plan_id=N`` are
masked first, since they number whatever the session built before.
"""
import difflib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
EXPLAIN_MD = os.path.join(REPO, "EXPLAIN.md")

from edu_data_pipeline_spark.session import get_spark
from edu_data_pipeline_spark.suite import load_all

QUERIES = [
    "pricing_summary", "region_revenue", "top_customer_per_nation",
    "clean_cities", "minhash_verified_pairs", "simhash_near_pairs",
    "knn_bruteforce", "asof_purchase_attribution",
    "docs_jaccard_top_pairs", "dedup_components",
    "docs_cdc_chunks", "knn_ivf_multiprobe", "docs_incremental_dedup",
    "events_range_join", "docs_decontamination", "user_value_ranks",
    "supplier_late_blame", "daily_revenue_rolling", "docs_length_buckets",
    "embedding_kmeans", "nation_trade_volume", "docs_pack_sequences",
    "docs_bloom_screen", "embedding_semantic_dedup", "docs_contamination_frac",
    "source_minhash_overlap", "docs_cms_term_freq", "minhash_band_sweep",
    "events_ks_test", "event_transition_matrix", "dedup_graph_triangles",
    "brand_revenue_pareto", "returned_revenue_customers",
    "customer_spend_gini", "docs_epoch_order", "docs_token_budget_mix",
    # r9: the two rewritten families
    "docs_simhash", "docs_dup_spans",
    # r11: map-side run-length tf (VERDICT r10 #3)
    "docs_tfidf_top_terms",
    # r13: the warehouse change-data rows (VERDICT r12 #1)
    "cdc_snapshot_fold", "scd2_dim_history",
]

SECTION = re.compile(r"^## (\S+)\n\n```\n(.*?)\n```$", re.M | re.S)
IDS = re.compile(r"#\d+|plan_id=\d+")


def render(plans: dict[str, str]) -> str:
    out = [
        "# EXPLAIN — formatted physical plans of representative queries",
        "",
        "Generated by `python scripts/generate_explain.py` at sf0.01.",
        "What to look for: `PushedFilters`/`ReadSchema` on scans (pushdown +",
        "pruning), `BroadcastHashJoin` on dim joins, no Python evaluation",
        "nodes outside the multimodal path.",
        "",
    ]
    for name, plan in plans.items():
        out += [f"## {name}\n", "```", plan, "```\n"]
    return "\n".join(out)


def plans() -> dict[str, str]:
    """Query name -> its formatted physical plan at sf0.01."""
    spark = get_spark(app_name="explain-gen", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    out = {}
    for name in QUERIES:
        df = reg[name].fn(spark, "/root/testdata/sf0.01")
        out[name] = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).strip()
    spark.stop()
    return out


def drifted(plans: dict[str, str], doc: str) -> dict[str, str]:
    """Query name -> masked unified diff (EXPLAIN.md's plan against the
    fresh one) for each query whose plan differs from ``doc``'s, or that
    ``doc`` lacks or has in excess."""
    recorded = {name: IDS.sub("#", plan) for name, plan in SECTION.findall(doc)}
    fresh = {name: IDS.sub("#", plan) for name, plan in plans.items()}
    return {
        name: "\n".join(difflib.unified_diff(
            recorded.get(name, "").splitlines(), fresh.get(name, "").splitlines(),
            "EXPLAIN.md", "fresh", lineterm="",
        ))
        for name in sorted(fresh.keys() | recorded.keys())
        if fresh.get(name) != recorded.get(name)
    }


def main(argv: list[str]) -> int:
    fresh = plans()
    if "--check" in argv:
        with open(EXPLAIN_MD) as f:
            stale = drifted(fresh, f.read())
        for name, diff in stale.items():
            print(f"EXPLAIN.md plan drifted: {name}\n{diff}")
        print(f"[explain] {len(fresh) - len(stale)}/{len(fresh)} plans current")
        return 1 if stale else 0
    with open(EXPLAIN_MD, "w") as f:
        f.write(render(fresh))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
