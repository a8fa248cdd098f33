"""Regenerate EXPLAIN.md: formatted physical plans of the headline queries.

Run: python scripts/generate_explain.py  (writes EXPLAIN.md at repo root)
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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

def main():
    spark = get_spark(app_name="explain-gen", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    out = [
        "# EXPLAIN — formatted physical plans of representative queries",
        "",
        "Generated by `python scripts/generate_explain.py` at sf0.01.",
        "What to look for: `PushedFilters`/`ReadSchema` on scans (pushdown +",
        "pruning), `BroadcastHashJoin` on dim joins, no Python evaluation",
        "nodes outside the multimodal path.",
        "",
    ]
    for name in QUERIES:
        df = reg[name].fn(spark, "/root/testdata/sf0.01")
        out.append(f"## {name}\n")
        out.append("```")
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(plan.strip())
        out.append("```\n")
    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    spark.stop()

if __name__ == "__main__":
    main()
