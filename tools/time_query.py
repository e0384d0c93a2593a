"""Time individual bench queries exactly like bench.py does (count()
action, one warmup pass, then N measured reps) without running the whole
suite. For fast optimize/re-measure loops.

Usage: python tools/time_query.py [-r REPS] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pg_auto_dw_spark import queries_catalog
    from pg_auto_dw_spark.session import get_spark

    spark = get_spark("time_query")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qmap = queries_catalog.queries()
    for name in args:
        fn = qmap[name]
        t0 = time.time()
        fn(spark, sf_dir).count()
        cold = time.time() - t0
        runs = []
        jobs = None
        for i in range(reps):
            j0 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId() if i == 0 else None
            t0 = time.time()
            fn(spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
            if i == 0:
                jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - j0
        print(f"{name}: cold={cold:.3f} reps={runs} median={sorted(runs)[len(runs)//2]:.3f} jobs={jobs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
