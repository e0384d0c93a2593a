"""Which public functions of the program are spanned, and the per-layer
metrics computed from those spans.

Functions are wrapped where their caller looks them up: ``api.py`` imports
``scd2_crawl``, ``catalog_snapshot``, ``source_table_prompts`` and the build
entry points into its own namespace, and ``build.builder`` imports
``load_hub``/``load_satellite`` into its own; functions imported inside a
function body at call time are wrapped on their defining module.

``source_table_prompts``, ``build_object_pull`` and ``ready_build_call_rows``
only build lazy DataFrames; their jobs run where ``api.py`` consumes them.
The first two are collected right away, so the collect of the returned
DataFrame is spanned under the function's name too. The ready set is
evaluated by the ``auto_dw.build_call`` append, so ``build.ready.*`` adds
that commit (which ``warehouse.commit.meta.*`` also counts).

Every per-layer metric is per operation (one DV flow, one corpus build or
one zone batch): the total over the traced window divided by the number of
operations in it. A ``.s`` metric is the summed self time of the named
spans; a ``.jobs`` metric counts the Spark jobs launched inside the named
spans, their children included; a ``.wall_s`` metric is the spans' whole
duration.
"""

from __future__ import annotations

import os

from spans import Span, self_times, spark_summary, subtree

# (metric name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("api.source_include.s", "s", "lower"),
    ("api.source_include.jobs", "count", "lower"),
    ("api.classify_pending.s", "s", "lower"),
    ("api.classify_pending.jobs", "count", "lower"),
    ("api.go.s", "s", "lower"),
    ("api.go.jobs", "count", "lower"),
    ("catalog.crawl.s", "s", "lower"),
    ("catalog.crawl.jobs", "count", "lower"),
    ("catalog.snapshot.s", "s", "lower"),
    ("classify.prompts.s", "s", "lower"),
    ("classify.prompts.jobs", "count", "lower"),
    ("classify.client.s", "s", "lower"),
    ("classify.responses", "count", "higher"),
    ("model.status.s", "s", "lower"),
    ("model.status.jobs", "count", "lower"),
    ("build.ready.s", "s", "lower"),
    ("build.ready.jobs", "count", "lower"),
    ("build.pull.s", "s", "lower"),
    ("build.pull.jobs", "count", "lower"),
    ("build.load_hub.s", "s", "lower"),
    ("build.load_hub.jobs", "count", "lower"),
    ("build.load_satellite.s", "s", "lower"),
    ("build.load_satellite.jobs", "count", "lower"),
    ("build.rows_appended", "count", "higher"),
    ("build.noop.jobs", "count", "lower"),
    ("dv.go_first.wall_s", "s", "lower"),
    ("dv.go_delta.wall_s", "s", "lower"),
    ("dv.go_noop.wall_s", "s", "lower"),
    ("warehouse.commits.meta", "count", "lower"),
    ("warehouse.commits.data", "count", "lower"),
    ("warehouse.commit.meta.s", "s", "lower"),
    ("warehouse.commit.data.s", "s", "lower"),
    ("warehouse.bytes_written", "bytes", "lower"),
    ("warehouse.files_written", "count", "lower"),
    ("warehouse.read.calls", "count", "lower"),
    ("pipeline.build.s", "s", "lower"),
    ("pipeline.summary.s", "s", "lower"),
    ("pipeline.summary.jobs", "count", "lower"),
    ("functions.write_packed_corpus.s", "s", "lower"),
    ("functions.write_packed_corpus.jobs", "count", "lower"),
    ("functions.dedup.s", "s", "lower"),
    ("functions.connected_components.s", "s", "lower"),
    ("streaming.neardup_apply.s", "s", "lower"),
    ("streaming.add_batch.s", "s", "lower"),
    ("streaming.planning.s", "s", "lower"),
    ("streaming.wal.s", "s", "lower"),
    ("streaming.start.s", "s", "lower"),
    ("zone.ledger_rows", "count", "higher"),
    ("zone.drop_ratio", "ratio", "higher"),
    ("sources.load_table.s", "s", "lower"),
    ("sources.split_jsonl_lines.s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.exec_run_s", "s", "lower"),
    ("spark.exec_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.floor_s", "s", "lower"),
    ("spark.driver_s", "s", "lower"),
    ("spark.job_floor_ms", "ms", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("jvm.peak_heap_mb", "MB", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.uncovered_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
    ("trace.cost_s", "s", "lower"),
    ("traced.setup_s", "s", "lower"),
    ("traced.op_p50_s", "s", "lower"),
    ("traced.op_cpu_s", "s", "lower"),
    ("traced.ok_frac", "1", "higher"),
]

READY_TABLE = "auto_dw.build_call"
DEDUP_FUNCTIONS = ("minhash_signatures_wide", "lsh_band_keys_wide", "band_pair_candidates",
                   "connected_components")


def install(tracer) -> None:
    from pg_auto_dw_spark import api, pipeline, sources, warehouse
    from pg_auto_dw_spark.build import builder
    from pg_auto_dw_spark.classify import client
    from pg_auto_dw_spark.functions import corpus, dedup, shard, text
    from pg_auto_dw_spark.streaming import jobs

    w = tracer.wrap
    for verb in ("source_include", "classify_pending", "go"):
        w(api.AutoDW, verb, f"api.{verb}")
    w(api, "scd2_crawl", "catalog.crawl")
    w(api, "catalog_snapshot", "catalog.snapshot")
    w(api, "source_table_prompts", "classify.prompts",
      after=_span_collect(tracer, "classify.prompts"))
    w(client.Classifier, "classify_table", "classify.client", after=_count_result("responses"))
    w(api, "ready_build_call_rows", "build.ready")
    w(api, "build_object_pull", "build.pull", after=_span_collect(tracer, "build.pull"))
    w(api, "build_and_load", "build.load")
    w(builder, "load_hub", "build.load_hub", after=_rows_result)
    w(builder, "load_satellite", "build.load_satellite", after=_rows_result)
    w(sources, "load_table", "sources.load_table")
    w(sources, "split_jsonl_lines", "sources.split_jsonl_lines")
    w(pipeline, "materialize_training_corpus", "pipeline.materialize")
    w(pipeline, "build_training_corpus", "pipeline.build")
    w(pipeline.CorpusPipelineResult, "summary", "pipeline.summary")
    w(corpus, "write_packed_corpus", "functions.write_packed_corpus")
    for mod, fn in ((text, "gopher_rules"), (dedup, "dedup_exact"), (corpus, "bloom_decontaminate"),
                    (text, "token_counts"), (corpus, "pack_sequences"),
                    (shard, "shard_assignments")):
        w(mod, fn, f"functions.{fn}")
    for fn in DEDUP_FUNCTIONS:
        w(dedup, fn, f"functions.{fn}")
    w(jobs, "neardup_ingest_apply", "streaming.neardup_apply")
    wh = warehouse.Warehouse
    for method in ("append", "overwrite", "overwrite_partitions", "replace_files"):
        w(wh, method, "warehouse.commit", after=_commit_after)
    w(wh, "create_table", "warehouse.create")
    tracer.wrap_context(wh, "transaction", "warehouse.commit", after=_commit_after)
    w(wh, "read", "warehouse.read")


def _span_collect(tracer, name):
    """Span the ``collect`` of the returned DataFrame under ``name``."""
    def after(sp, result, args, kwargs):
        collect = result.collect

        def spanned():
            with tracer.span(name):
                return collect()
        result.collect = spanned
    return after


def _count_result(key):
    def after(sp, result, args, kwargs):
        sp.attrs[key] = len(result)
    return after


def _rows_result(sp, result, args, kwargs):
    sp.attrs["rows"] = int(result)


def _commit_after(sp, result, args, kwargs):
    """Classify a warehouse write as a metadata (``auto_dw.*``) or data
    commit and count the files it created under the tables it touched."""
    wh = args[0]
    names = args[1] if len(args) > 1 else kwargs.get("name", kwargs.get("names"))
    names = [names] if isinstance(names, str) else list(names)
    sp.attrs["tables"] = sorted(names)
    sp.attrs["kind"] = "meta" if all(n.startswith("auto_dw.") for n in names) else "data"
    files = nbytes = 0
    for n in names:
        for dirpath, _, fnames in os.walk(wh.path(n)):
            for f in fnames:
                if f.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime >= sp.start - 1e-3:
                    files += 1
                    nbytes += st.st_size
    sp.attrs.update(files=files, bytes=nbytes)


class Report:
    """Per-layer figures of one traced window."""

    def __init__(self, spans: list[Span], root: Span, n_ops: int, jobs: dict | None,
                 floor_s: float):
        self.spans = [s for s in subtree(spans, root.id) if s.end is not None]
        self.root = root
        self.n = max(1, n_ops)
        self.self_s = self_times(self.spans)
        self.floor_s = floor_s
        self.jobs = jobs or {}
        by_id = {s.id: s for s in self.spans}
        self.kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent in by_id and s.id != root.id:
                self.kids.setdefault(s.parent, []).append(s)
        # stream micro-batch jobs run under the query's run id as job group
        stream_groups = {s.attrs["stream_group"]: s for s in self.spans
                         if "stream_group" in s.attrs}
        self.own_jobs = {s.id: list(s.jobs) for s in self.spans}
        for jid, j in self.jobs.items():
            owner = stream_groups.get(j.group)
            if owner is not None:
                self.own_jobs[owner.id].append(jid)
        self._incl: dict[int, list[int]] = {}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def incl_jobs(self, s: Span) -> list[int]:
        if s.id not in self._incl:
            out = list(self.own_jobs.get(s.id, []))
            for k in self.kids.get(s.id, []):
                out += self.incl_jobs(k)
            self._incl[s.id] = out
        return self._incl[s.id]

    def self_sum(self, name: str, **attrs) -> float:
        return sum(self.self_s[s.id] for s in self.named(name)
                   if all(s.attrs.get(k) == v for k, v in attrs.items()))

    def jobs_sum(self, name: str, **attrs) -> int:
        return sum(len(self.incl_jobs(s)) for s in self.named(name)
                   if all(s.attrs.get(k) == v for k, v in attrs.items()))

    def attr_sum(self, name: str, key: str, **attrs) -> float:
        return sum(s.attrs.get(key, 0) for s in self.named(name)
                   if all(s.attrs.get(k) == v for k, v in attrs.items()))

    def count(self, name: str, **attrs) -> int:
        return sum(1 for s in self.named(name)
                   if all(s.attrs.get(k) == v for k, v in attrs.items()))

    def wall(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def spark(self, spans: list[Span]) -> dict:
        """Spark split over ``spans`` (summed span by span)."""
        total: dict = {}
        for s in spans:
            ids = self.incl_jobs(s) if s is not self.root else [
                jid for jid, j in self.jobs.items() if s.start <= j.submit <= s.end]
            part = spark_summary([self.jobs[j] for j in ids if j in self.jobs],
                                 s.start, s.end, self.floor_s)
            for k, v in part.items():
                total[k] = total.get(k, 0) + v
        return total

    def top_level(self) -> dict[str, dict]:
        """Spark split per name of the spans directly under each operation."""
        ops = self.kids.get(self.root.id, [])
        out: dict[str, list[Span]] = {}
        for op in ops:
            for s in self.kids.get(op.id, []):
                out.setdefault(s.name, []).append(s)
        return {name: self.spark(spans) for name, spans in out.items()}

    def self_table(self) -> list[tuple[str, int, float]]:
        """(span name, calls, summed self seconds), largest first; the
        window's own self time is the time no span covers."""
        agg: dict[str, list] = {}
        for s in self.spans:
            if s is self.root:
                continue
            a = agg.setdefault(s.name, [0, 0.0])
            a[0] += 1
            a[1] += self.self_s[s.id]
        return sorted(((k, v[0], v[1]) for k, v in agg.items()), key=lambda r: -r[2])

    def metrics(self, extra: dict) -> dict[str, float]:
        n = self.n
        sp = self.spark([self.root]) if self.jobs else {}
        steps = {}
        for name in ("dv.go_first", "dv.go_delta", "dv.go_noop"):
            steps[f"{name}.wall_s"] = self.wall(name)
        m = {
            "api.source_include.s": self.self_sum("api.source_include"),
            "api.source_include.jobs": self.jobs_sum("api.source_include"),
            "api.classify_pending.s": self.self_sum("api.classify_pending"),
            "api.classify_pending.jobs": self.jobs_sum("api.classify_pending"),
            "api.go.s": self.self_sum("api.go"),
            "api.go.jobs": self.jobs_sum("api.go"),
            "catalog.crawl.s": self.self_sum("catalog.crawl"),
            "catalog.crawl.jobs": self.jobs_sum("catalog.crawl"),
            "catalog.snapshot.s": self.self_sum("catalog.snapshot"),
            "classify.prompts.s": self.self_sum("classify.prompts"),
            "classify.prompts.jobs": self.jobs_sum("classify.prompts"),
            "classify.client.s": self.self_sum("classify.client"),
            "classify.responses": self.attr_sum("classify.client", "responses"),
            "model.status.s": self.self_sum("model.status"),
            "model.status.jobs": self.jobs_sum("model.status"),
            "build.ready.s": self.self_sum("build.ready")
            + self.self_sum("warehouse.commit", tables=[READY_TABLE]),
            "build.ready.jobs": self.jobs_sum("build.ready")
            + self.jobs_sum("warehouse.commit", tables=[READY_TABLE]),
            "build.pull.s": self.self_sum("build.pull"),
            "build.pull.jobs": self.jobs_sum("build.pull"),
            "build.load_hub.s": self.self_sum("build.load_hub"),
            "build.load_hub.jobs": self.jobs_sum("build.load_hub"),
            "build.load_satellite.s": self.self_sum("build.load_satellite"),
            "build.load_satellite.jobs": self.jobs_sum("build.load_satellite"),
            "build.rows_appended": self.attr_sum("build.load_hub", "rows")
            + self.attr_sum("build.load_satellite", "rows"),
            "build.noop.jobs": self.jobs_sum("dv.go_noop"),
            **steps,
            "warehouse.commits.meta": self.count("warehouse.commit", kind="meta"),
            "warehouse.commits.data": self.count("warehouse.commit", kind="data"),
            "warehouse.commit.meta.s": self.self_sum("warehouse.commit", kind="meta"),
            "warehouse.commit.data.s": self.self_sum("warehouse.commit", kind="data"),
            "warehouse.bytes_written": self.attr_sum("warehouse.commit", "bytes"),
            "warehouse.files_written": self.attr_sum("warehouse.commit", "files"),
            "warehouse.read.calls": self.count("warehouse.read"),
            "pipeline.build.s": self.self_sum("pipeline.build"),
            "pipeline.summary.s": self.self_sum("pipeline.summary"),
            "pipeline.summary.jobs": self.jobs_sum("pipeline.summary"),
            "functions.write_packed_corpus.s": self.self_sum("functions.write_packed_corpus"),
            "functions.write_packed_corpus.jobs": self.jobs_sum("functions.write_packed_corpus"),
            "functions.dedup.s": sum(self.self_sum(f"functions.{f}") for f in DEDUP_FUNCTIONS),
            "functions.connected_components.s": self.self_sum("functions.connected_components"),
            "streaming.neardup_apply.s": self.self_sum("streaming.neardup_apply"),
            "sources.load_table.s": self.self_sum("sources.load_table"),
            "sources.split_jsonl_lines.s": self.self_sum("sources.split_jsonl_lines"),
            "trace.wall_s": self.root.end - self.root.start,
            "trace.uncovered_s": self.self_s[self.root.id],
            "trace.spans": len(self.spans) - 1,
        }
        for k in ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "floor_s", "driver_s"):
            m[f"spark.{k}"] = sp.get(k, 0)
        m = {k: v / n for k, v in m.items()}
        m["spark.job_floor_ms"] = self.floor_s * 1e3
        m.update(extra)
        return m
