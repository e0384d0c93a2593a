"""Scale probe: time catalog rows on a replicated dataset at several
core counts.

The rows named by --rows come from ``queries_catalog.queries()``. They
run against $SPARK_GRAFT_SF_DIR replicated --factor times (see
``replicate``; a factor of 1 reads the directory as it is). Each core
count runs in its own child process, because ``local[N]`` is fixed per
JVM. Per row: one warm-up pass, then REPS passes through the noop sink
(every column is computed, nothing is count-pruned); the median of the
reps is reported.

Usage:
    SPARK_GRAFT_SF_DIR=<test-data dir> python tools/scale_probe.py --rows q1_pricing_summary,dedup_exact_documents \\
        --factor 10 --cores 8,32
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 3
# Key columns shifted by rep * stride, one stride for all of them, so
# every foreign key (o_custkey, l_orderkey, events.user_id) still joins
# inside its own copy. Tables not named here are copied once.
KEY_COLUMNS = {
    "customer": ("c_custkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def replicate(spark, src_dir: str, dst_dir: str, factor: int) -> None:
    """Write ``factor`` disjoint copies of every KEY_COLUMNS table in
    ``src_dir`` to ``dst_dir``, and copy every other parquet file once,
    byte for byte. Copy ``rep`` adds ``rep * stride`` to each key
    column, where stride is the smallest power of ten above every key
    in the source."""
    from pyspark.sql import functions as F

    from pg_auto_dw_spark.session import prepare

    prepare(spark)  # events.ts is TIMESTAMP(NANOS): read it as a long
    os.makedirs(dst_dir, exist_ok=True)
    tables = {}
    for fn in sorted(os.listdir(src_dir)):
        name, ext = os.path.splitext(fn)
        if ext != ".parquet":
            continue
        src = os.path.join(src_dir, fn)
        if name in KEY_COLUMNS:
            tables[name] = spark.read.parquet(src)
        else:  # a table is one parquet file or a directory of them
            copy = shutil.copytree if os.path.isdir(src) else shutil.copyfile
            copy(src, os.path.join(dst_dir, fn))
    top = max(
        (v or 0 for name, df in tables.items()
         for v in df.agg(*[F.max(c) for c in KEY_COLUMNS[name]]).first()),
        default=0,
    )
    stride = 10 ** len(str(top))
    reps = spark.range(factor, numPartitions=factor).select(F.col("id").alias("__rep"))
    for name, df in tables.items():
        keys, types = KEY_COLUMNS[name], dict(df.dtypes)
        df.crossJoin(reps).select(
            *[
                (F.col(c) + F.col("__rep") * stride).cast(types[c]).alias(c)
                if c in keys
                else F.col(c)
                for c in df.columns
            ]
        ).write.parquet(os.path.join(dst_dir, f"{name}.parquet"))


def child(data_dir: str, rows: list[str]) -> None:
    """Time ``rows`` in this process's session and print one
    CHILD_RESULT line."""
    from pg_auto_dw_spark import queries_catalog
    from pg_auto_dw_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark = get_spark(f"scale-probe-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qmap = queries_catalog.queries()
    out = {}
    for name in rows:
        runs = []
        for i in range(REPS + 1):  # pass 0 is the warm-up
            spark.sparkContext.setJobDescription(f"probe {name} pass {i}")
            t0 = time.time()
            qmap[name](spark, data_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        out[name] = {"median": statistics.median(runs[1:]), "reps": runs[1:]}
    print("CHILD_RESULT " + json.dumps(out))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", required=True, help="comma-separated queries() names")
    ap.add_argument("--factor", type=int, default=1, help="copies of each keyed table")
    ap.add_argument("--cores", default=str(os.cpu_count()), help="comma-separated core counts")
    ap.add_argument("--child", help=argparse.SUPPRESS)  # internal: one core count
    args = ap.parse_args()
    rows = [r for r in args.rows.split(",") if r]
    if args.child:
        child(args.child, rows)
        return

    from pg_auto_dw_spark import queries_catalog

    unknown = [r for r in rows if r not in queries_catalog.queries()]
    if unknown:
        ap.error(f"not in queries(): {', '.join(unknown)}")
    cores = [c for c in args.cores.split(",") if c]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to a test-data directory")
    tmp = tempfile.mkdtemp(prefix="scale_probe_") if args.factor > 1 else None
    results: dict[str, dict] = {}
    try:
        if tmp:
            from pg_auto_dw_spark.session import get_spark

            spark = get_spark("scale-probe-replicate")
            replicate(spark, sf_dir, tmp, args.factor)
            spark.stop()
        data_dir = tmp or sf_dir
        for c in cores:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", data_dir,
                 "--rows", ",".join(rows)],
                env=dict(os.environ, SPARK_GRAFT_CPUS=c),
                capture_output=True, text=True,
            )
            line = next(
                (ln for ln in r.stdout.splitlines() if ln.startswith("CHILD_RESULT ")),
                None,
            )
            if line is None:
                # keep the runs that did finish: print them before failing
                print(json.dumps(results))
                print(r.stdout[-3000:], file=sys.stderr)
                print(r.stderr[-3000:], file=sys.stderr)
                raise RuntimeError(f"child at {c} cores produced no result")
            results[c] = json.loads(line[len("CHILD_RESULT "):])
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"{'row':38s}" + "".join(f"{c + 'c med':>10s}" for c in cores))
    for name in rows:
        print(f"{name:38s}" + "".join(f"{results[c][name]['median']:10.3f}" for c in cores))
    print(json.dumps({"factor": args.factor, "results": results}))


if __name__ == "__main__":
    main()
