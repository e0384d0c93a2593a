"""Parallel-scaling probe (r16, VERDICT r15 directive 7): the sf0.1
bench is scheduler-floor-bound (the driver's 8-core run BEAT its
32-core run in r15), so wall clock there measures the VM's job floor,
not the engine. This probe runs the heaviest documents-family bench
operators at sf1-class volume (documents replicated into disjoint id
spaces, written to real parquet so scans/splits are real) at 8 vs 32
cores IN SEPARATE PROCESSES (local[N] is fixed per JVM) and reports
the speedup ratio per row. Data-bound rows should approach the core
ratio; floor-bound rows stay near 1 and get a written justification
in SCALE.md.

Timed action: noop sink (guide section 1.4 -- computes every column,
no count-pruning), 1 warmup + N reps, median reported.

Usage:
    python tools/scale_probe_cores.py             # orchestrates both runs
    python tools/scale_probe_cores.py --child DIR # internal: one run
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 10  # sf0.1 x 10 = sf1-class document volume (~50k docs, ~2.7M tokens)
REPS = 2
ROWS = [
    "dedup_minhash_lsh_pairs",
    "winnow_near_dup_pairs_docs",
    "classifier_train_contract",
    "media_text_pairs_docs",
    "semantic_decontaminate_flags",
    "dedup_semantic_keep",
]
# ad-hoc single-row reruns: SCALE_PROBE_ROWS="rowA,rowB"
if os.environ.get("SCALE_PROBE_ROWS"):
    ROWS = [r for r in os.environ["SCALE_PROBE_ROWS"].split(",") if r]
ID_STRIDE = 10_000_000


def build_corpus(target_dir: str) -> None:
    """Replicate sf0.1 documents into disjoint id spaces and write ONE
    shared parquet both core-count children read -- identical bytes,
    identical splits."""
    from pyspark.sql import functions as F

    from pg_auto_dw_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale-probe-cores-build")
    reps = spark.range(REPLICAS).select(F.col("id").alias("__rep"))
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        src = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        big = src.crossJoin(reps).select(
            (F.col(id_col) + F.col("__rep") * ID_STRIDE).alias(id_col),
            *[c for c in src.columns if c != id_col],
        )
        big.repartition(32).write.mode("overwrite").parquet(
            os.path.join(target_dir, f"{table}.parquet")
        )
    spark.stop()


def child(probe_dir: str) -> None:
    from pg_auto_dw_spark import queries_catalog
    from pg_auto_dw_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    spark = get_spark(f"scale-probe-cores-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qmap = queries_catalog.bench_queries()
    out = {}
    for name in ROWS:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"probe {name} warmup")
        fn(spark, probe_dir).write.format("noop").mode("overwrite").save()
        times = []
        for i in range(REPS):
            spark.sparkContext.setJobDescription(f"probe {name} rep{i}")
            t0 = time.time()
            fn(spark, probe_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        times.sort()
        out[name] = {"median": statistics.median(times), "reps": times}
    print("CHILD_RESULT " + json.dumps({"cpus": int(cpus), "rows": out}))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(sys.argv[2])
        return
    probe_dir = tempfile.mkdtemp(prefix="scale_probe_cores_")
    try:
        build_corpus(probe_dir)
        results = {}
        for cpus in ("32", "8"):
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", probe_dir],
                env=env, capture_output=True, text=True, timeout=7200,
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
                raise RuntimeError(f"child at {cpus} cores produced no result")
            results[cpus] = json.loads(line[len("CHILD_RESULT "):])["rows"]
        print(f"{'row':38s} {'8c med':>8s} {'32c med':>8s} {'ratio':>6s}")
        for name in ROWS:
            r8 = results["8"][name]["median"]
            r32 = results["32"][name]["median"]
            print(f"{name:38s} {r8:8.2f} {r32:8.2f} {r8 / r32:6.2f}")
        print(json.dumps(results))
    finally:
        shutil.rmtree(probe_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
