"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a cheap count() action (no driver-side
collect of data-sized results). Reproducibility protocol (round-3
requirement): fixed query order, one warmup pass per query
(whole-stage-codegen compile, parquet footer cache), then REPS
measured passes with the per-query MEDIAN reported. ``value`` is the
steady-state total -- the number that projects to cluster scale, where
per-query JIT compile amortizes to zero. Cold first-run timings are
disclosed alongside in ``queries_cold``; per-rep raw timings in
``queries_reps``.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "hub_load_lineitem_composite",
    "link_load_order_part_supplier",
    "status_source_column",
    "scd2_merge_state",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_orders_per_customer",
    "dedup_exact_documents",
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_cosine",
    "text_quality_scores",
    "scd2_partitioned_merge",
    "corpus_decontaminate",
    "source_profile_customer",
    "pit_user_daily",
    "events_range_click_attribution",
    "documents_stratified_sample",
    "documents_chunked_windows",
    "dim_upsert_customer",
    "gdpr_delete_customer",
    "q18_large_volume_orders",
    "orders_rolling_revenue",
    "documents_pii_redaction",
    "documents_leakfree_split",
    "documents_boilerplate_removal",
    "time_travel_versions",
    "schema_evolution_customer",
    "events_value_quantile_sketch",
    "ann_ivf_index_search",
    "text_bigram_logprob",
    "documents_duplicated_spans",
    "ann_pq_recall_bounds",
    "documents_jsonl_roundtrip",
    "documents_dsir_weights",
    "documents_quality_linear",
    "dedup_semantic_keep",
    "documents_gopher_rules",
    "documents_bloom_decontaminate",
    "events_value_histogram",
    "orders_constraint_audit",
    "documents_bpe_token_counts",
    "documents_shard_plan",
    "warehouse_snapshot_diff",
    "events_correlation_matrix",
    "documents_hashed_embedding",
    "documents_source_overlap",
    "tokenizer_stats",
    "inference_batch_plan_stats",
    "documents_winnow_fingerprints",
    "sft_render_chat_spans",
    "eval_scores_report",
    "corpus_datacard_drift",
    "doremi_domain_weights",
    "documents_ndv_ledger",
    "classifier_train_contract",
    "semantic_decontaminate_flags",
    "preference_pairs_orders",
    "winnow_near_dup_pairs_docs",
    "image_near_dup_pairs_docs",
    "audio_near_dup_pairs_docs",
    "video_near_dup_pairs_docs",
    "media_hash_rows_docs",
    "media_text_pairs_docs",
    "media_datacard_docs",
    "documents_pack_multimodal",
    "media_datacard_drift_docs",
    "media_decode_rules_docs",
    "documents_packed_token_stream",
    "documents_multimodal_budget_sample",
]


REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
# Rows whose warmup pass runs at least this long get 2 measured reps
# (min reported) instead of REPS medians -- see the reps-policy note at
# the measurement loop. Keeps bench wall sublinear in heavyweight-row
# count without losing regression sensitivity.
HEAVY_CUTOFF_S = float(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_CUTOFF", "2.0"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pg_auto_dw_spark import queries_catalog
    from pg_auto_dw_spark.session import get_spark

    spark = get_spark("bench")
    qmap = queries_catalog.queries()
    # JVM/codegen warmup so the first measured query isn't charged for it
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qmap["q1_pricing_summary"](spark, sf_dir).count()
    # Machine calibration: the median latency of a trivial 1-task job.
    # Every Spark job pays this scheduler floor, so a query launching J
    # jobs (AQE stages, metadata counts, writes) has a hard lower bound
    # of J * floor regardless of plan quality. Recorded in the output so
    # cross-round comparisons can normalize for VM-vintage drift (a
    # measured 4x spread in this floor across otherwise-identical
    # driver VMs dominated round-over-round deltas before this existed).
    def measure_floor() -> float:
        floor_runs = []
        for _ in range(15):
            t0 = time.time()
            spark.range(10, numPartitions=1).count()
            floor_runs.append((time.time() - t0) * 1000.0)
        return round(sorted(floor_runs)[len(floor_runs) // 2], 1)

    # Scheduler warmup to steady state: the DAGScheduler/JIT path runs
    # interpreted for the first few hundred jobs of a JVM (measured:
    # 1-task job latency decaying 180ms -> 31ms across one bench run,
    # front-loading noise onto whichever queries ran first). Spin
    # trivial jobs until the floor stops improving; queries are then
    # measured against the steady-state scheduler -- the regime a
    # long-lived cluster driver actually runs in.
    # convergence loop: batches of trivial jobs until the floor stops
    # dropping (>=2 consecutive batches within 10%), capped at ~1500
    # jobs -- a warm JVM exits in one batch instead of paying a fixed
    # spin, a cold one keeps going until actually steady
    job_overhead_ms = measure_floor()
    stable = 0
    for _ in range(20):
        for _ in range(60):
            spark.range(10, numPartitions=1).count()
        f = measure_floor()
        stable = stable + 1 if f >= job_overhead_ms * 0.9 else 0
        job_overhead_ms = min(job_overhead_ms, f)
        if stable >= 2:
            break
    # Expression-path JIT warmup (r10, from the directive-4 root
    # cause): the scheduler loop above ramps the DAG path but never
    # touches the sha2/concat/UTF8String/dedup-shuffle library code the
    # DV load family lives in. On a fresh JVM those paths C2-compile
    # DURING the first measured queries -- reproduced as a monotonic
    # 1.49->1.02s rep decay on hub_load_lineitem_composite with this
    # warmup absent, exactly the decaying-reps signature in the r9
    # driver artifact ([1.69, 1.57, 1.48]); with the full bench
    # preamble having happened to ramp them, the same query measures a
    # stable 0.93s. Spin the shared hash/dedup kernel until its own
    # floor converges (bounded), so measurement starts at the steady
    # state the harness already claims to measure.
    def hash_spin() -> float:
        t0 = time.time()
        spark.range(300_000).selectExpr(
            "sha2(concat_ws(',', cast(id as string), cast(id % 7 as string)), 256) AS h",
            # the gram/embedding family's hash path (md5 prefix ->
            # conv -> bigint) ramps separately from sha2 -- measured
            # 1.87 -> 1.22s decay on documents_hashed_embedding when
            # only sha2 was spun
            "conv(substring(md5(cast(id as string)), 1, 8), 16, 10) AS m"
        ).dropDuplicates(["h"]).agg({"m": "max"}).count()
        return time.time() - t0

    prev = hash_spin()
    for _ in range(8):
        cur = hash_spin()
        if cur >= prev * 0.9:
            break
        prev = cur
    # Second calibration axis: JVM whole-stage-codegen throughput (a
    # fixed 200M-row sum). Together with job_overhead_ms this separates
    # "the plan got slower" from "the VM got slower" across rounds.
    jvm_runs = []
    for _ in range(5):
        t0 = time.time()
        spark.range(200_000_000).selectExpr("sum(id * 2 + 1)").collect()
        jvm_runs.append((time.time() - t0) * 1000.0)
    jvm_compute_ms = round(sorted(jvm_runs)[len(jvm_runs) // 2], 1)

    # Multi-component calibration (r12 VERDICT directive 2). The
    # arithmetic loop above runs entirely in registers over a codegen
    # range -- it is blind to string/allocation/memory-bandwidth and
    # shuffle-machinery vintage drift, which is exactly the class that
    # moved r11->r12: 38 plan-identical shared rows shifted a uniform
    # 1.29x while jvm_compute_ms said 0.97x. Three further kernels
    # match the workload classes the suite actually exercises; each is
    # a fixed-size in-memory job (no parquet, no variance from the SF
    # dir), one warmup pass then median of 5:
    #   jvm_string_ms  -- sha2(concat_ws(...)) over 2M rows: UTF8String
    #                     allocation + hashing, the DV-load / dedup
    #                     hot path (the biggest r12 movers).
    #   jvm_shuffle_ms -- 4M rows into a 100k-group hash aggregate:
    #                     exchange write/read + hash-map churn.
    #   jvm_alloc_ms   -- collect_list of 400k strings into 20k
    #                     groups: object allocation + GC pressure.
    # Cross-round comparisons must quote the component matching the
    # moving query's class (SCALE.md r13 back-test table), not just
    # the arithmetic number.
    def _component_ms(fn) -> float:
        fn()  # one warmup pass (codegen compile for this shape)
        runs = []
        for _ in range(5):
            t0 = time.time()
            fn()
            runs.append((time.time() - t0) * 1000.0)
        return round(sorted(runs)[len(runs) // 2], 1)

    jvm_string_ms = _component_ms(
        lambda: spark.range(2_000_000).selectExpr(
            "max(sha2(concat_ws(',', cast(id as string), cast(id % 97 as string)), 256)) AS h"
        ).collect()
    )
    jvm_shuffle_ms = _component_ms(
        lambda: spark.range(4_000_000)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .count()
    )
    jvm_alloc_ms = _component_ms(
        lambda: spark.range(400_000)
        .selectExpr("id % 20000 AS k", "cast(id as string) AS s")
        .groupBy("k")
        .agg({"s": "collect_list"})
        .count()
    )
    # Job counting reads the unstable private DAGScheduler.nextJobId via
    # py4j. It is instrumentation ONLY: an instrumentation failure must
    # never mark a query as failed (r6 ADVICE) and must never re-run the
    # query, and a QUERY failure must never be mistaken for an
    # instrumentation one (r7 review: the old combined try caught both,
    # silently dropping the whole calibrated queries_jobs map and
    # re-executing the failing query). The id reads therefore live in
    # their own guarded helper OUTSIDE the timed window -- rep-0 timings
    # carry zero py4j round-trips, same as reps 1-2 -- and query
    # exceptions propagate to the per-query handler as real failures.
    # If the private API ever falls back the whole queries_jobs map is
    # omitted so bench_compare never normalizes with fake zeros.
    jobs_calibrated = True

    def read_next_job_id() -> int | None:
        nonlocal jobs_calibrated
        try:
            return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        except Exception:
            jobs_calibrated = False
            return None

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    stats: dict[str, str] = {}  # which estimator produced each number
    jobs: dict[str, int] = {}
    for name in HEADLINE:
        fn = qmap.get(name)
        if fn is None:
            continue
        try:
            t0 = time.time()
            fn(spark, sf_dir).count()  # warmup: codegen compile + footer cache
            cold[name] = round(time.time() - t0, 3)
            # Reps policy (r12 VERDICT directive 8, bench-wall hygiene):
            # rows whose warmup pass already ran >= HEAVY_CUTOFF_S get 2
            # measured reps instead of REPS, and report the MIN of the
            # two (scheduler/GC interference is additive-positive noise,
            # so min-of-2 tracks the steady-state median; a real
            # regression moves BOTH reps and survives the min). Light
            # rows keep median-of-REPS. Regression sensitivity checked
            # on a synthetic perturbation in SCALE.md r13.
            n_reps = REPS if cold[name] < HEAVY_CUTOFF_S else min(REPS, 2)
            runs = []
            for i in range(n_reps):
                # Spark jobs launched by one steady-state pass: with
                # job_overhead_ms this decomposes each timing into plan
                # cost + jobs * scheduler floor, making numbers
                # comparable across VMs whose floor differs.
                j0 = read_next_job_id() if i == 0 else None
                t0 = time.time()
                fn(spark, sf_dir).count()  # measured steady-state pass
                elapsed = round(time.time() - t0, 3)
                if i == 0 and j0 is not None:
                    j1 = read_next_job_id()
                    if j1 is not None:
                        jobs[name] = max(0, j1 - j0)
                runs.append(elapsed)
            reps[name] = runs
            # median for >= 3 reps; min for the heavyweight 2-rep rows.
            # queries_stat records WHICH estimator produced each number
            # so cross-artifact compares (bench_compare.py) can flag
            # mixed-statistic rows instead of silently comparing a
            # min against a median.
            if len(runs) >= 3:
                timings[name] = sorted(runs)[len(runs) // 2]
                stats[name] = f"median{len(runs)}"
            else:
                timings[name] = min(runs)
                stats[name] = f"min{len(runs)}"
        except Exception as e:  # a failing query must not hide the others
            print(f"bench error in {name}: {e}", file=sys.stderr)
            timings[name] = -1.0
        # Release this query's dead pins before the next one: per-call
        # lazy localCheckpoints become unreachable after each rep, but
        # their RDD blocks survive until ContextCleaner sees the Python
        # wrappers collected. In a 40-query x 4-pass session the orphans
        # accumulate into storage-eviction + GC churn that contaminates
        # LATER queries' timings (measured: monotonically rising reps on
        # the dedup family mid-bench, stable when run in isolation).
        # (Sessions outside the bench are covered by the session
        # factory's spark.cleaner.periodicGC.interval=2min; here the
        # release must be deterministic between timed queries.)
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    job_overhead_ms_post = measure_floor()  # the floor drifts; record both ends
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "queries_reps": reps,
        "queries_stat": stats,
        # omitted entirely when the private nextJobId API ever failed:
        # partial/zero counts would read as calibrated to bench_compare
        **({"queries_jobs": jobs} if jobs_calibrated else {}),
        "job_overhead_ms": job_overhead_ms,
        "job_overhead_ms_post": job_overhead_ms_post,
        "jvm_compute_ms": jvm_compute_ms,
        "jvm_string_ms": jvm_string_ms,
        "jvm_shuffle_ms": jvm_shuffle_ms,
        "jvm_alloc_ms": jvm_alloc_ms,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full artifact (reps, cold, per-query job counts) goes to a side
    # file; the stdout contract line stays under ~2kB because the
    # recording harness keeps only the LAST 2000 bytes of stdout -- the
    # r5 artifact lost its headline fields to exactly this truncation
    # once the line outgrew the window (BENCH_r05.json "parsed": null).
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(result, f)
    compact = {
        k: v
        for k, v in result.items()
        if k not in ("queries_cold", "queries_reps", "queries_jobs", "queries_stat")
    }
    if jobs_calibrated:
        compact["jobs_total"] = sum(jobs.values())
    compact["detail"] = "BENCH_DETAIL.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # The full {name: sec} map cannot fit the recording harness's
        # 2000-byte stdout window once the suite passed ~55 rows (the
        # row names alone are ~1.6 kB) -- r14/r15 silently dropped it
        # here and blinded the driver's per-query comparison (r15
        # VERDICT "What's wrong" #2). Degrade to a POSITIONAL encoding
        # instead of dropping the data: "q" = centisecond ints in
        # benched row order, "qk" = first 8 md5 hex of the
        # comma-joined row names in that order. A reader reconstructs
        # {name: round(sec, 2)} by zipping "q" against this repo's
        # benched HEADLINE order (tools/bench_compare.py decode_q) and
        # verifies the zip against "qk"; failed rows stay -1. The full
        # map remains in BENCH_DETAIL.json.
        import hashlib

        compact.pop("queries", None)
        order = [n for n in HEADLINE if n in timings]
        compact["q"] = [
            -1 if timings[n] < 0 else int(round(timings[n] * 100)) for n in order
        ]
        compact["qk"] = hashlib.md5(",".join(order).encode()).hexdigest()[:8]
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1900:  # last resort: headline fields survive
            compact.pop("q", None)
            compact.pop("qk", None)
            line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
