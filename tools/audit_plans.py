"""Physical-plan audit: summarize join strategies, exchanges, pushdown,
and partial aggregation for the headline queries (PLANS.md source).

Usage: python tools/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

AUDITED = [
    "j2_count_reconcile",
    "a3_table_fingerprint",
    "a4_deterministic_sample",
    "q1_pricing_summary",
    "q2_revenue_by_nation",
    "g_q6_forecast_revenue",
    "g_q10_returned_items",
    "g_q15_top_supplier",
    "g_q17_small_quantity_revenue",
    "g_q18_large_volume_customer",
    "g_q19_disjunctive_revenue",
    "g_q5_local_supplier_volume",
    "g_q8_market_share",
    "g_q13_order_distribution",
    "g_q21_waiting_suppliers",
    "g_asof_last_error",
    "x_ann_brute_topk",
    "x_events_hourly",
    "x_dedup_minhash_lsh",
    "x_curation_full",
    "x_decontaminate",
    "x_text_repetition",
    "x_token_budget_pack",
    "x_multimodal_decode_real",
    "x_ann_ivf_topk",
    "x_dedup_components",
    "x_group_cap",
    "x_dedup_survivors",
    "x_length_trim",
    # r7 additions
    "x_incremental_reconcile",
    "x_incremental_fingerprint",
    "x_stream_reconcile_batch",
    "x_decontaminate_bloom",
    "x_dedup_cross",
    "x_train_val_split",
]


def main() -> None:
    from hive_scripts_spark.plans.registry import QUERIES
    from hive_scripts_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or AUDITED
    spark = get_spark("audit")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        physical = qe.executedPlan().toString()
        formatted = qe.explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        joins = sorted(
            set(
                re.findall(
                    r"(\w+(?:HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct)\w*)",
                    physical,
                )
            )
        )
        exchanges = len(re.findall(r"Exchange (hash|range|single)", physical))
        pushed = [
            line.strip()[:110]
            for line in formatted.splitlines()
            if "PushedFilters" in line and "[]" not in line
        ]
        print(f"\n===== {name} =====")
        print("joins:     ", joins or "none")
        print("exchanges: ", exchanges)
        print("partial agg:", "partial_" in formatted)
        for p in pushed[:4]:
            print("pushed:    ", p)
    spark.stop()


if __name__ == "__main__":
    main()
