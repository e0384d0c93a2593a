"""The benchmark workloads.

Each workload turns the seed into input files under its work directory
and then runs operations: one operation is one Data Vault flow
(``dv_vault``), or one landing-zone batch followed by a training-corpus
build over the zone (``zone_corpus``). The program is reached only through
``api.AutoDW``,
``pipeline.materialize_training_corpus`` and
``streaming.jobs.jsonl_neardup_ingest_stream``; its modules are looked up
as attributes at call time so that a tracer's wrappers are seen.

Correctness checks run after the timed window, on state each operation
left behind; each returns a list of failure messages.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import shutil
import time
from dataclasses import dataclass, field

import gen

CLOCK = datetime.datetime(2024, 6, 1, 12, 0, 0)
LOAD_TS = datetime.datetime(2024, 6, 2)


@dataclass
class Op:
    """One timed operation and what it left for the checks."""

    seconds: float
    cpu_s: float = 0.0
    steps: dict[str, float] = field(default_factory=dict)
    state: dict = field(default_factory=dict)


def write_parquet(path: str, columns: list[tuple[str, str]], rows: list[tuple]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int64": pa.int64(), "int32": pa.int32(), "double": pa.float64(),
             "string": pa.string(), "timestamp": pa.timestamp("us")}
    schema = pa.schema([(name, types[t]) for name, t in columns])
    cols = list(zip(*rows)) if rows else [[] for _ in columns]
    table = pa.table({name: list(c) for (name, _), c in zip(columns, cols)}, schema=schema)
    pq.write_table(table, path)


def table_digest(df) -> tuple[int, str]:
    """(row count, order-independent content hash) of a DataFrame."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None
        self._n = 0

    def fresh_dir(self, kind: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{kind}{self._n}")
        os.makedirs(path)
        return path

    @contextlib.contextmanager
    def step(self, op: Op, name: str):
        """Time one step of an operation (and span it when tracing)."""
        t0 = time.perf_counter()
        with self.tracer.span(name) if self.tracer else contextlib.nullcontext() as sp:
            yield sp
        op.steps[name] = op.steps.get(name, 0.0) + time.perf_counter() - t0

    def prepare(self) -> None:
        """Generate the seeded inputs and write them under ``work``."""

    def start_window(self) -> None:
        """Fresh state for one timed window (counted in set-up)."""

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[str]:
        raise NotImplementedError

    def info(self, ops: list[Op]) -> dict[str, float]:
        """Workload-specific figures printed beside the metrics."""
        return {}

    def digest(self, ops: list[Op]) -> dict[str, str]:
        """Seed-determined summaries of the outputs, compared across runs
        of the same seed, keyed by what else they depend on."""
        return {}

    def release(self, ops: list[Op]) -> None:
        for o in ops:
            root = o.state.get("root")
            if root:
                shutil.rmtree(root, ignore_errors=True)


# -- dv_vault -----------------------------------------------------------------


class DVVault(Workload):
    """The paper's flow from a fresh warehouse: include, classify, status,
    ``go()``, one source delta and its ``go()``, then a no-op ``go()``."""

    name = "dv_vault"

    def prepare(self) -> None:
        inputs = gen.dv_inputs(self.seed)
        dirs = []
        for tables in (inputs.tables, inputs.delta.tables):
            dirs.append(self.fresh_dir("src"))
            for t, rows in tables.items():
                write_parquet(os.path.join(dirs[-1], f"{t}.parquet"), gen.TPCH_SCHEMAS[t], rows)
        self.inputs = {"base": dirs[0], "delta": dirs[1], "gen": inputs}

    def op(self, i: int) -> Op:
        return self._flow(self.inputs)

    def _flow(self, inputs: dict) -> Op:
        from pg_auto_dw_spark import api, sources
        from pg_auto_dw_spark.catalog.registry import testdata_registry

        spark = self.spark
        op = Op(0.0, state={"inputs": inputs})
        t0 = time.perf_counter()
        with self.step(op, "dv.open"):
            root = self.fresh_dir("vault")
            op.state["root"] = root
            adw = api.AutoDW(spark, root, registry=testdata_registry(), clock=lambda: CLOCK)
            for t in inputs["gen"].tables:
                adw.register_source("main", t, sources.load_table(spark, inputs["base"], t))
        with self.step(op, "dv.include"):
            adw.source_include("main")
        with self.step(op, "dv.classify"):
            adw.classify_pending()
        with self.step(op, "model.status"):
            adw.source_column().collect()
            adw.source_table().collect()
        with self.step(op, "dv.go_first"):
            adw.go(load_ts=LOAD_TS)
        with self.step(op, "dv.go_delta"):
            for t in inputs["gen"].delta.tables:
                adw.register_source("main", t, sources.load_table(spark, inputs["delta"], t))
            adw.go(load_ts=LOAD_TS + datetime.timedelta(days=1))
        before = _data_files(root)
        with self.step(op, "dv.go_noop"):
            adw.go(load_ts=LOAD_TS + datetime.timedelta(days=2))
        op.seconds = time.perf_counter() - t0
        op.state.update(adw=adw, before_noop=before)
        return op

    def check(self, ops: list[Op]) -> list[str]:
        fails = []
        for k, o in enumerate(ops):
            fails += [f"flow {k}: {m}" for m in self._check_flow(o)]
        return fails

    def _check_flow(self, o: Op) -> list[str]:
        import pyarrow.parquet as pq

        adw, g = o.state["adw"], o.state["inputs"]["gen"]
        fails = []
        noop_rows = sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in _data_files(o.state["root"]) - o.state["before_noop"]
        )
        if noop_rows:
            fails.append(f"no-op go() appended {noop_rows} rows")
        dv = adw.latest_dv_schema()
        digests = {}
        for bk in dv.business_keys:
            table = bk.source_table()[1]
            n_src = len(g.tables[table]) + g.delta.new_keys.get(table, 0)
            hub = f"{dv.dw_schema}.hub_{bk.name}"
            n, digests[hub] = table_digest(adw.wh.read(hub))
            if n != n_src + 2:
                fails.append(f"{hub}: {n} rows, expected {n_src} keys + 2 ghosts")
            for key, descriptors in bk.satellites().items():
                cols = {d.descriptor_link.source_column.column_name for d in descriptors}
                changed = sum(n for c, n in g.delta.changed.get(table, {}).items() if c in cols)
                sat = f"{dv.dw_schema}.sat_{key}"
                n, digests[sat] = table_digest(adw.wh.read(sat))
                if n != n_src + changed:
                    fails.append(f"{sat}: {n} rows, expected {n_src} + {changed} changed")
        if not digests:
            fails.append("go() built no hubs")
        o.state["digest"] = repr(sorted(digests.items()))
        return fails

    def digest(self, ops: list[Op]) -> dict[str, str]:
        return {f"flow {k}": o.state["digest"] for k, o in enumerate(ops) if "digest" in o.state}

    def info(self, ops: list[Op]) -> dict[str, float]:
        from stats import median

        def step(name):
            return median([o.steps[name] for o in ops])

        return {"dv_flow_s": median([o.seconds for o in ops]),
                "dv_go_s": step("dv.go_first"),
                "dv_incremental_go_s": step("dv.go_delta"),
                "dv_noop_go_s": step("dv.go_noop")}


def _data_files(root: str) -> set[str]:
    """Parquet data files of the vault's ``dw`` tables."""
    out = set()
    for entry in os.scandir(root):
        if entry.is_dir() and entry.name.startswith("dw__"):
            for dirpath, _, files in os.walk(entry.path):
                out.update(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


# -- zone_corpus --------------------------------------------------------------


class ZoneCorpus(Workload):
    """A landing zone feeding a training corpus, as one closed-loop client:
    write one JSONL batch, run one ``availableNow`` trigger of the near-dup
    landing zone to completion, then materialize the training corpus from
    everything the zone holds, decontaminated against a held-out benchmark
    set. The zone commits small multi-table transactions; the corpus build
    is one bulk write."""

    name = "zone_corpus"
    batch_lines = 1000

    def prepare(self) -> None:
        from pyspark.sql import types as T

        self.schema = T.StructType([T.StructField("doc_id", T.LongType()),
                                    T.StructField("text", T.StringType())])

    def start_window(self) -> None:
        """An empty zone fed from the start of the seeded feed."""
        from pg_auto_dw_spark.warehouse import Warehouse

        root = self.fresh_dir("zone")
        src = os.path.join(root, "_landing")
        os.makedirs(src)
        feed = gen.ZoneFeed(self.seed, self.batch_lines)
        bench = os.path.join(self.fresh_dir("bench"), "benchmark.parquet")
        write_parquet(bench, [("doc_id", "int64"), ("text", "string")], feed.benchmark)
        self.zone = {"root": root, "src": src, "ckpt": os.path.join(root, "_checkpoint"),
                     "bench": bench, "wh": Warehouse(self.spark, root), "feed": feed,
                     "batches": []}

    def op(self, i: int) -> Op:
        from pg_auto_dw_spark import pipeline
        from pg_auto_dw_spark.streaming import jobs

        zone = self.zone
        batch = zone["feed"].next_batch()
        zone["batches"].append(batch)
        path = os.path.join(zone["src"], f"batch-{i:05d}.jsonl")
        with open(path + ".tmp", "w") as f:
            f.write("\n".join(batch.lines) + "\n")
        os.replace(path + ".tmp", path)
        op = Op(0.0, state={"zone": zone, "name": f"train{i}"})
        t0 = time.perf_counter()
        with self.step(op, "zone.trigger") as sp:
            q = jobs.jsonl_neardup_ingest_stream(
                self.spark, zone["src"], self.schema, zone["wh"], "zone.corpus",
                "zone.quarantine", zone["ckpt"], dupes_table="zone.dupes")
            if sp is not None:
                sp.attrs["stream_group"] = str(q.runId)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        with self.step(op, "corpus.materialize"):
            bench = self.spark.read.parquet(zone["bench"])
            res, totals = pipeline.materialize_training_corpus(
                zone["wh"], op.state["name"], zone["wh"].read("zone.corpus"), benchmark=bench)
        op.seconds = time.perf_counter() - t0
        op.state.update(result=res, totals=totals)
        d = [p["durationMs"] for p in q.recentProgress]
        op.steps.update({
            "streaming.add_batch": sum(x.get("addBatch", 0) for x in d) / 1e3,
            "streaming.planning": sum(x.get("queryPlanning", 0) for x in d) / 1e3,
            "streaming.wal": sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1e3,
            "streaming.start": op.steps["zone.trigger"]
            - sum(x.get("triggerExecution", 0) for x in d) / 1e3,
        })
        return op

    def check(self, ops: list[Op]) -> list[str]:
        fails = self._check_zone(ops[0].state["zone"])
        for k, o in enumerate(ops):
            fails += [f"build {k}: {m}" for m in self._check_build(o)]
        return fails

    def _check_zone(self, zone: dict) -> list[str]:
        from pyspark.sql import functions as F

        wh, batches = zone["wh"], zone["batches"]
        offered = sum(len(b.lines) for b in batches)
        malformed = sum(b.n_malformed for b in batches)
        corpus = wh.read("zone.corpus")
        n_corpus = corpus.count()
        n_quar = wh.read("zone.quarantine").count()
        dropped = {r[0] for r in wh.read("zone.dupes").select("doc_id").collect()}
        fails = []
        if n_quar != malformed:
            fails.append(f"quarantined {n_quar} lines, generator wrote {malformed} malformed")
        if n_corpus + len(dropped) + n_quar != offered:
            fails.append(f"corpus {n_corpus} + dropped {len(dropped)} + quarantined {n_quar} "
                         f"!= {offered} lines offered")
        if corpus.groupBy("text").count().filter(F.col("count") > 1).limit(1).count():
            fails.append("an exact text appears twice in the corpus")
        exact = {i for b in batches for i in b.exact_ids}
        if exact - dropped:
            fails.append(f"{len(exact - dropped)} exact resubmissions entered the corpus")
        zone.update(n_corpus=n_corpus, n_drop=len(dropped), n_quar=n_quar, offered=offered,
                    ledger=wh.read("zone.corpus.minhash").count())
        return fails

    def _check_build(self, o: Op) -> list[str]:
        import json

        zone, res, name = o.state["zone"], o.state["result"], o.state["name"]
        wh = zone["wh"]
        fails = []
        survivors = res.survivors.select("doc_id", "text").collect()
        ids = {r["doc_id"] for r in survivors}
        if len({r["text"] for r in survivors}) != len(survivors):
            fails.append("two survivors share a text")
        leaks = {i for b in zone["batches"] for i in b.leak_ids}
        if ids & leaks:
            fails.append(f"{len(ids & leaks)} contaminated docs survived")
        placed = {r["doc_id"] for r in wh.read(f"{name}.placement").select("doc_id").collect()}
        if placed != ids:
            fails.append(f"placement covers {len(placed)} docs, survivors are {len(ids)}")
        stages = dict(json.loads(
            wh.read(f"{name}.build").select("build_manifest").collect()[0][0])["stages"])
        landed = {r[0] for r in res.input.select("doc_id").collect()}
        junk = {i for b in zone["batches"] for i in b.junk_ids}
        want = {"input": len(landed), "gopher_rules": len(landed - junk),
                "exact_dedup": len(landed - junk)}
        for stage, count in want.items():
            if stages.get(stage) != count:
                fails.append(f"stage {stage}: {stages.get(stage)} rows, expected {count}")
        clean = len(landed - junk - leaks)
        if stages.get("bloom_decontaminate", -1) > clean:
            fails.append(f"bloom_decontaminate kept {stages.get('bloom_decontaminate')} "
                         f"of at most {clean}")
        if stages.get("sharded") != len(ids):
            fails.append(f"sharded {stages.get('sharded')} rows, survivors are {len(ids)}")
        o.state.update(stages=stages, clean=clean)
        return fails

    def digest(self, ops: list[Op]) -> dict[str, str]:
        z = ops[0].state["zone"]
        out = {f"zone after {len(ops)} batches":
               f"corpus={z['n_corpus']} dropped={z['n_drop']} quarantined={z['n_quar']}"}
        out.update({f"build {k}": repr(sorted(o.state["stages"].items()))
                    for k, o in enumerate(ops) if "stages" in o.state})
        return out

    def release(self, ops: list[Op]) -> None:
        for o in ops:
            if "result" in o.state:
                o.state["result"].release()
        shutil.rmtree(self.zone["root"], ignore_errors=True)

    def info(self, ops: list[Op]) -> dict[str, float]:
        from stats import median

        z, last = ops[0].state["zone"], ops[-1].state
        return {"zone_batch_s": median([o.steps["zone.trigger"] for o in ops]),
                "corpus_build_s": median([o.steps["corpus.materialize"] for o in ops]),
                "zone_ledger_rows": z["ledger"], "zone_drop_ratio": z["n_drop"] / z["offered"],
                "corpus_tokens": last["totals"]["tokens"],
                "bloom_false_positives": last["clean"] - last["stages"]["bloom_decontaminate"]}


WORKLOADS = {w.name: w for w in (DVVault, ZoneCorpus)}
