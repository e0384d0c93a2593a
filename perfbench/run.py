"""End-to-end benchmark of pg_auto_dw_spark's user flows.

    python3 perfbench/run.py --workload dv_vault --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json and
``workloads.py``):

- ``dv_vault``: the paper's Data Vault flow on five TPC-H-shaped tables;
- ``zone_corpus``: one JSONL batch through the near-dup landing zone, then
  ``pipeline.materialize_training_corpus`` over the zone's corpus.

The run starts a ``local[<cores>]`` session, measures the latency of a
1-task job, warms the JVM on a small query mix, writes the seeded inputs
and then runs operations until ``--seconds`` have passed (at least one;
every operation of the configured workloads takes longer than the
configured 10 s, so a window holds one). Outputs are checked after the
timed window. With ``--trace 1`` the Spark event log is on and spans are
recorded around the program's public functions (see ``layers.py``); the per-layer metrics of
``layers.PER_LAYER`` come from that window, and the spans are written to
``.perfbench_work/trace-<workload>-<seed>.json``. The tracing overhead is
the time the tracer spent in its own bookkeeping (``trace.cost_s``), and
traced minus untraced for each end-to-end metric: the traced run reports
its own end-to-end values as ``traced.*`` and prints the difference from
the untraced run of the same workload, seed and program sources that this
checkout recorded, if there is one.

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start to session ready, plus the job-floor probe
  and the warm-up;
- ``op_p50_s``: median operation latency: a whole DV flow, or one zone
  batch from file written to trigger done plus the corpus build after it;
- ``op_cpu_s``: median CPU seconds (user + system) one operation costs the
  driver Python process, the JVM and the JVM's Python workers; unlike wall
  time it does not grow when a shared host steals CPU from the VM;
- ``ok_frac``: 1 - failed/attempted operations; a failed correctness
  check counts as a failed operation.

Memory is printed on every run and reported per layer by the traced run,
but is not an end-to-end metric, because neither figure repeats within
the bound a metric may have (see ``jvm_memory``). The session runs on a
pinned 2g heap, the floor of the program's own heap sizing.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. A failed check prints its cause
and makes the run exit with code 1.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median  # noqa: E402

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_cpu_s": "s", "ok_frac": "1"}
FLOOR_PROBES = 10
# The program sizes its heap from the host's free memory, with 2g as the
# floor; the benchmark pins the floor so runs do not depend on what else
# the host holds.
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(msg, flush=True)


def session(work: str, trace: bool):
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "events")})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    # The GC log only records collections; it does not change how the JVM
    # sizes or collects its heap.
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
             f"-Xlog:gc:file={os.path.join(work, 'gc.log')}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    from pg_auto_dw_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def job_floor(spark) -> float:
    """Median latency of a job with one task, in seconds."""
    times = []
    for _ in range(FLOOR_PROBES):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        times.append(time.perf_counter() - t0)
    return median(times)


def warm_session(spark, work: str) -> None:
    """Exercise the engine paths every workload uses (scan, shuffle, join,
    window function, parquet write and read) so the JVM and scheduler are
    warm before timing."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as SqlWindow

    path = os.path.join(work, "warm")
    df = spark.range(0, 20000, 1, 4).select(
        F.col("id"), (F.col("id") % 97).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("h"))
    agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("hmax"))
    joined = df.join(agg, "k").withColumn(
        "rn", F.row_number().over(SqlWindow.partitionBy("k").orderBy("id")))
    joined.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).filter(F.col("rn") < 3).collect()


def process_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks of the process and of the
    children it has reaped), for every process in /proc."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # after the command name: state, ppid, ..., utime, stime, cutime, cstime
            procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def descendants(procs: dict[int, tuple[int, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def child_pids() -> list[int]:
    me = os.getpid()
    return [pid for pid, (ppid, _) in process_table().items() if ppid == me]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants,
    including the descendants they have reaped."""
    procs, me = process_table(), os.getpid()
    return sum(procs[p][1] for p in [me, *descendants(procs, me)] if p in procs) / os.sysconf(
        "SC_CLK_TCK")


def jvm_memory(pids: list[int], gc_log: str) -> dict[str, float]:
    """Memory of the session's JVM (``pids``), in MB.

    ``peak_rss_mb`` is its peak resident memory; it follows when G1 chose
    to grow the heap and spread 30% across seeds on one workload.
    ``peak_heap_mb`` is the most heap it still held right after a
    collection pause (see ``peak_live_heap_mb``); it follows when
    concurrent marking ran and spread 26% across seeds on another. The
    Python driver process is left out: it also holds the harness's inputs
    and checks.
    """
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return {"peak_rss_mb": kb / 1024.0, "peak_heap_mb": peak_live_heap_mb(gc_log)}


GC_PAUSE = re.compile(r"Pause .*?(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
UNIT_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def peak_live_heap_mb(gc_log: str) -> float:
    """The largest heap occupancy right after a collection pause, from a
    JVM ``-Xlog:gc`` log: the most memory the heap had to keep live."""
    peak = 0.0
    with open(gc_log) as f:
        for line in f:
            m = GC_PAUSE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * UNIT_MB[m.group(4)])
    return peak


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_descendants(timeout: float = 30.0) -> None:
    """Terminate the JVM the session started and wait until it and every
    process it started (its Python workers) have ended; what is still
    running after ``timeout`` is killed."""
    me = os.getpid()
    procs = process_table()
    pending = set(descendants(procs, me))
    children = {p for p in pending if procs[p][0] == me}
    for pid in children:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGTERM)
    deadline, killed = time.monotonic() + timeout, False
    while pending:
        for pid in list(pending):
            if pid in children:
                try:
                    if os.waitpid(pid, os.WNOHANG)[0] == pid:
                        pending.discard(pid)
                except ChildProcessError:
                    pending.discard(pid)
            elif not running(pid):
                pending.discard(pid)
        if pending and time.monotonic() > deadline:
            if killed:
                return
            for pid in pending:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline, killed = time.monotonic() + 5.0, True
        time.sleep(0.05)


class Window:
    """One window of operations: ``seconds`` of them, at least one."""

    def __init__(self, wl, seconds: float, tracer=None):
        self.wl, self.ops, self.failures, self.root = wl, [], [], None
        wl.tracer = None
        t0 = time.perf_counter()
        wl.start_window()
        self.setup_s = time.perf_counter() - t0
        wl.tracer = tracer
        t0 = time.perf_counter()
        with tracer.span("window") if tracer else contextlib.nullcontext() as root:
            self.root = root
            while not self.ops or time.perf_counter() - t0 < seconds:
                i = len(self.ops)
                try:
                    cpu0 = tree_cpu_s()
                    with tracer.span("op") if tracer else contextlib.nullcontext():
                        op = wl.op(i)
                    op.cpu_s = tree_cpu_s() - cpu0
                    self.ops.append(op)
                except Exception as e:
                    traceback.print_exc()
                    self.failures.append(f"operation {i} raised {e!r}")
                    break
        self.wall = time.perf_counter() - t0
        wl.tracer = None
        self.attempted = len(self.ops) + (1 if self.failures else 0)

    def finish(self) -> None:
        """Check the outputs (outside the timed window), then free them."""
        wl, self.digest, self.info = self.wl, {}, {}
        try:
            if self.ops:
                self.failures += wl.check(self.ops)
                self.digest = wl.digest(self.ops)
                self.info = wl.info(self.ops)
        except Exception as e:
            traceback.print_exc()
            self.failures.append(f"checks raised {e!r}")
        finally:
            wl.release(self.ops)
        self.steps = {}
        for o in self.ops:
            for k, v in o.steps.items():
                self.steps[k] = self.steps.get(k, 0.0) + v / len(self.ops)
        self.metrics = {
            "op_p50_s": median([o.seconds for o in self.ops] or [float("nan")]),
            "op_cpu_s": median([o.cpu_s for o in self.ops] or [float("nan")]),
            "ok_frac": 1.0 - min(len(self.failures), self.attempted) / self.attempted,
        }


def source_hash(checkout: str) -> str:
    """Hash of the program's package sources, so that what a run records
    is compared only with runs of the same code."""
    h = hashlib.sha256()
    pkg = os.path.join(checkout, "pg_auto_dw_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith((".pyc", ".pyo")):
                continue
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def check_digests(work_root: str, prefix: str, digests: dict[str, str]) -> list[str]:
    """Compare output digests with those an earlier run of the same code,
    workload and seed recorded in this checkout; record new ones."""
    path = os.path.join(work_root, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    fails = []
    for k, v in digests.items():
        key = f"{prefix} {k}"
        if key not in seen:
            seen[key] = v
        elif seen[key] != v:
            fails.append(f"{k}: output digest {v} differs from an earlier run's {seen[key]}")
    with open(path + ".tmp", "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return fails


def record_results(work_root: str, key: str, metrics: dict | None) -> dict | None:
    """Record an untraced run's end-to-end metrics in this checkout, or
    return those an untraced run of the same code, workload and seed
    recorded."""
    path = os.path.join(work_root, "untraced.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if metrics is None:
        return seen.get(key)
    seen[key] = metrics
    with open(path + ".tmp", "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "pg_auto_dw_spark", "__init__.py")):
        print("perfbench: run from the root of a pg_auto_dw_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(checkout, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, workloads, work_root, work, source_hash(checkout))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, workloads, work_root: str, work: str, code: str) -> int:
    spark = session(work, bool(args.trace))
    session_s = time.perf_counter() - T_PROCESS
    pids = child_pids()
    tracer = None
    try:
        t0 = time.perf_counter()
        floor = job_floor(spark)
        warm_session(spark, work)
        setup_s = session_s + time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        inputs_s = time.perf_counter() - t0

        if args.trace:
            import layers
            from spans import Tracer

            tracer = Tracer(f"perfbench-{os.getpid()}", spark.sparkContext)
            layers.install(tracer)
        try:
            window = Window(wl, args.seconds, tracer)
        finally:
            if tracer:
                tracer.uninstall()
        window.finish()
        memory = jvm_memory(pids, os.path.join(work, "gc.log"))
    finally:
        spark.stop()
        stop_descendants()

    setup_s += window.setup_s
    key = f"{args.workload} seed {args.seed} code {code}"
    failures = window.failures + check_digests(work_root, key, window.digest)
    failed = min(window.attempted, len(failures))

    log(f"workload {args.workload} seed {args.seed}{' traced' if tracer else ''}: "
        f"{len(window.ops)} operations in {window.wall:.2f}s; setup {setup_s:.2f}s (session "
        f"{session_s:.2f}s), 1-task job floor {floor * 1e3:.1f}ms; inputs written in "
        f"{inputs_s:.2f}s")
    for k, v in memory.items():
        log(f"info jvm.{k} = {v:.6g}")
    for k, v in sorted(window.info.items()):
        log(f"info {k} = {v:.6g}")
    for k, v in sorted(window.steps.items()):
        log(f"step {k} = {v:.4f}s per operation")
    for k, v in sorted(window.digest.items()):
        log(f"digest {k}: {v}")
    for f in failures:
        log(f"FAIL {f}")

    metrics = dict(window.metrics, setup_s=setup_s)
    for k in E2E_UNITS:
        log(f"metric {k} = {metrics[k]:.6g} {E2E_UNITS[k]}")
    untraced = record_results(work_root, key, None if tracer or failures else metrics)
    if tracer:
        out = traced_metrics(args, work_root, work, tracer, window, metrics, untraced, floor,
                             memory)
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": not failures, "attempted": window.attempted, "failed": failed,
                      "metrics": out}), flush=True)
    return 1 if failures else 0


def traced_metrics(args, work_root, work, tracer, window, metrics, untraced, floor,
                   memory) -> dict:
    import layers
    from spans import read_event_log

    events = os.path.join(work, "events")
    logs = [os.path.join(events, f) for f in os.listdir(events)]
    jobs = read_event_log(logs[0]) if len(logs) == 1 else {}
    rep = layers.Report(tracer.spans, window.root, len(window.ops), jobs, floor)
    extra = {f"streaming.{k}.s": window.steps.get(f"streaming.{k}", 0.0)
             for k in ("add_batch", "planning", "wal", "start")}
    extra.update({"zone.ledger_rows": window.info.get("zone_ledger_rows", 0),
                  "zone.drop_ratio": window.info.get("zone_drop_ratio", 0),
                  "trace.cost_s": tracer.cost_s / rep.n})
    extra.update({f"traced.{k}": v for k, v in metrics.items()})
    extra.update({f"jvm.{k}": v for k, v in memory.items()})
    m = rep.metrics(extra)
    units = {name: unit for name, unit, _ in layers.PER_LAYER}
    wall = m["trace.wall_s"] * rep.n
    log(f"traced window: {len(window.ops)} operations, {wall:.3f}s wall; self time by span:")
    covered = 0.0
    for name, calls, s in rep.self_table():
        covered += s
        log(f"  self {name:40s} {calls:5d} calls {s:10.4f}s")
    uncovered = rep.self_s[rep.root.id]
    log(f"  self {'(uncovered by any span)':40s} {'':11s} {uncovered:10.4f}s")
    log(f"  total {covered + uncovered:.4f}s of {wall:.4f}s wall")
    for name, sp in sorted(rep.top_level().items()):
        log(f"  spark {name:28s} " + " ".join(f"{k}={v:.4g}" for k, v in sp.items()))
    log(f"overhead: the tracer's own bookkeeping took {tracer.cost_s:.4f}s")
    for k in E2E_UNITS:
        if untraced is None:
            log(f"overhead {k}: no untraced run of this seed recorded in this checkout")
        else:
            log(f"overhead {k}: traced {metrics[k]:.6g} - untraced {untraced[k]:.6g} = "
                f"{metrics[k] - untraced[k]:.6g}")
    tracer.dump(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"),
                {"metrics": m, "top_level_spark": rep.top_level(),
                 "jobs": {str(k): vars(v) for k, v in jobs.items()}})
    for k in units:
        log(f"metric {k} = {m[k]:.6g} {units[k]}")
    return {k: {"value": m[k], "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
