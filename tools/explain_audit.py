"""Physical-plan audit: print .explain("formatted") for headline queries
and grep for the properties that matter at 100 TB:

- PushedFilters / ReadSchema on parquet scans (pushdown + pruning)
- BroadcastHashJoin on dimension joins (no data-side shuffle)
- WholeStageCodegen spans (JVM-side, no Python in the hot path)

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = [
    "hub_load_lineitem_composite",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "dedup_minhash_lsh_pairs",
    "ann_cosine_topk_filtered",
    "scd2_partitioned_merge",  # returns the merged table scan; the merge
    # itself already ran -- audit checks the final-state read prunes
    "pit_user_daily",  # as-of join: union + carry-forward, no range join
    "corpus_decontaminate",
    "events_range_click_attribution",  # range join: expect NO nested loop
    "documents_stratified_sample",  # expect 1 scan, 0 exchanges
    "events_customer_salted_join",
    # r12 registrations (audited at registration: pruned scans,
    # pushdown, no sortmerge at this SF, zero python in the pair joins)
    "documents_ndv_ledger",  # melt scans prune to the 4 audited cols
    "preference_pairs_orders",  # 3-col pruned scans; count-guard join
    "winnow_near_dup_pairs_docs",
    "image_near_dup_pairs_docs",  # scans=0: pairs read the hash pin
    # r13 registrations
    "audio_near_dup_pairs_docs",  # scans=0: same shape as image
    "video_near_dup_pairs_docs",  # scans=0: frame-hash pin + rollup
    "media_hash_rows_docs",  # expect 1 pruned scan, 0 exchanges: the
    # ONE-pass mapInPandas dispatch kernel (its docstring pins 1 scan
    # vs the three per-family kernels union'd, which would plan 3)
    # r15 registration
    "documents_multimodal_budget_sample",  # expect scans=0 python=0:
    # the example frame (incl. the registration's Arrow decode cost
    # pass) pins once and both the rollup and the budget join consume
    # the pin -- unpinned this planned 24 scans / 4 decode subtrees
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from pg_auto_dw_spark import queries_catalog
    from pg_auto_dw_spark.session import get_spark

    spark = get_spark("explain-audit")
    qmap = queries_catalog.queries()
    names = sys.argv[1:] or AUDIT
    for name in names:
        df = qmap[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        print(f"\n================ {name} ================")
        scans = len(re.findall(r"Scan parquet", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        read_schema = re.findall(r"ReadSchema: ([^\n]*)", plan)
        bhj = len(re.findall(r"BroadcastHashJoin", plan))
        smj = len(re.findall(r"SortMergeJoin", plan))
        # AQE hides codegen stars pre-execution; count map-side partial
        # aggregation instead (the shuffle-volume property we care about)
        partial_aggs = len(re.findall(r"partial_", plan))
        exchanges = len(re.findall(r"Exchange ", plan))
        python_ops = len(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas)", plan))
        print(
            f"scans={scans} broadcast_joins={bhj} sortmerge_joins={smj} "
            f"exchanges={exchanges} partial_aggs={partial_aggs} python_ops={python_ops}"
        )
        for i, (p, r) in enumerate(zip(pushed, read_schema)):
            print(f"  scan{i}: pushed=[{p[:90]}] schema={r[:100]}")
        if "--full" in sys.argv:
            print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
