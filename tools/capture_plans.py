"""Capture .explain("formatted") for headline bench queries into
plans/<tag>/<query>_<suffix>.txt (optimization-round evidence).

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]
  e.g. python tools/capture_plans.py r15 before
       python tools/capture_plans.py r15 after media_text_pairs_docs

Queries whose builder executes eager side jobs (training loops, index
builds) run those jobs during capture; the captured plan is the plan of
the RETURNED DataFrame -- the same frame bench.py times with count().
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r15"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from pg_auto_dw_spark import queries_catalog
    from pg_auto_dw_spark.session import get_spark

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("capture_plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    qmap = queries_catalog.queries()
    names = bench.HEADLINE
    if only:
        names = [n for n in names if n in only]
    for name in names:
        fn = qmap.get(name)
        if fn is None:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # capture must not die on one bad row
            txt = f"CAPTURE ERROR: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"{name}: {len(txt)} chars [{time.time() - t0:.1f}s]", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
