"""Per-layer figures of a traced run.

Every traced operation has a root span and a job tag equal to its trace
id. When it ends, :meth:`Layers.finish_op` reads the status store for
that tag, adds the job intervals to the trace and keeps the Spark
counters. :meth:`Layers.metrics` turns all of it into the ``per_layer``
metrics of ``BENCHMARK.json`` (the same names on every workload; a layer
a workload does not use reads 0) and writes the spans to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

from common import ROOT, cached_mb, persistent_rdds
from statusstore import StatusStore
from trace import Tracer, analyse, covered

BATCH_ANCHORS = ("q5_local_supplier_volume", "multimodal_decode_pipeline")
SELF_LAYERS = ("bench", "http", "server", "frontends", "catalyst", "spark",
               "queries", "bpe", "snapshots")
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms", "ops_per_s": "1/s"}

# Per-operation means over the status-store records.
_SPARK = {
    "spark.jobs": lambda r: len(r["jobs"]),
    "spark.tasks": lambda r: r["tasks"],
    "spark.exec_run_s": lambda r: r["exec_run_s"],
    "spark.exec_cpu_s": lambda r: r["exec_cpu_s"],
    "spark.driver_gap_s": lambda r: r["driver_gap_s"],
    "spark.shuffle_write_mb": lambda r: StatusStore.mb(r["shuffle_write_bytes"]),
    "spark.shuffle_read_mb": lambda r: StatusStore.mb(r["shuffle_read_bytes"]),
    "spark.spill_mb": lambda r: StatusStore.mb(r["spill_bytes"]),
    "python.run_s": lambda r: r["python_run_s"],
    "python.start_s": lambda r: r["python_start_s"],
    "python.sent_mb": lambda r: StatusStore.mb(r["python_sent_bytes"]),
}

PER_LAYER = (
    ("session.start_s", "s"),
    ("catalog.register_s", "s"),
    ("server.self_ms", "ms"),
    ("server.bytes_out", "bytes"),
    ("frontends.sql_ms", "ms"),
    ("frontends.graphql_ms", "ms"),
    ("frontends.nl_ms", "ms"),
    ("frontends.jobs", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    *((f"anchor.{a}.{part}_s", "s") for a in BATCH_ANCHORS for part in ("build", "action")),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.exec_run_s", "s"),
    ("spark.exec_cpu_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("python.run_s", "s"),
    ("python.start_s", "s"),
    ("python.sent_mb", "MB"),
    ("bpe.merges_learned", "count"),
    ("bpe.jobs", "count"),
    ("bpe.driver_gap_s", "s"),
    ("snapshots.apply_changes_s", "s"),
    ("snapshots.upsert_s", "s"),
    ("snapshots.compact_s", "s"),
    ("snapshots.commits", "count"),
    ("snapshots.files_written", "count"),
    ("snapshots.bytes_written_per_change_byte", "ratio"),
    ("snapshots.files_read_per_point_read", "count"),
    ("snapshots.compact_bytes_rewritten_mb", "MB"),
    ("spark.leaked_rdds", "count"),
    ("spark.cached_mb", "MB"),
    *((f"self.{layer}_ms", "ms") for layer in SELF_LAYERS),
    ("trace.max_self_sum_error", "ratio"),
    *((f"traced.{name}", unit) for name, unit in E2E_UNITS.items()),
)
UNITS = dict(PER_LAYER)


class Layers:
    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.tracer = Tracer()
        self.store: StatusStore | None = None
        self.values: dict[str, list[float]] = defaultdict(list)
        self.ops: list[dict] = []
        self.last: dict = {}

    def attach(self, spark) -> None:
        self.store = StatusStore(spark)

    @contextmanager
    def timed(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.values[name].append(time.perf_counter() - t0)

    def add(self, name: str, value: float) -> None:
        self.values[name].append(value)

    @contextmanager
    def op(self, spark, trace: str, name: str):
        """Run the block as one operation: its jobs under the tag
        ``trace``, inside a root span. Afterwards the persistent RDDs it
        left are counted and cleared, and ``self.last`` holds its
        status-store record."""
        cursor = self.store.sql_cursor()
        before = persistent_rdds(spark)
        with self.store.tagged(trace):
            with self.tracer.span(f"op.{name}", "bench", trace=trace) as root:
                yield root
        self.add("spark.leaked_rdds", persistent_rdds(spark) - before)
        self.add("spark.cached_mb", cached_mb(spark))
        spark.catalog.clearCache()
        self.last = self.finish_op(trace, root, cursor)

    def finish_op(self, trace: str, root: dict, sql_from: int) -> dict:
        """Read the operation's jobs and counters once its root span ended."""
        rec = self.store.read(trace, sql_from)
        started_in = self.tracer.attach_jobs(trace, rec["jobs"])
        rec["jobs_by_layer"] = started_in
        wall = root["end"] - root["start"]
        rec["wall_s"] = wall
        rec["driver_gap_s"] = wall - covered([
            (max(j["start"], root["start"]), min(j["end"], root["end"]))
            for j in rec["jobs"]
            if j["start"] is not None and j["end"] is not None and j["end"] > root["start"]
        ])
        self.ops.append(rec)
        return rec

    def phases(self, span: dict | None, df) -> None:
        """Record ``df``'s Catalyst phase times; with a span, also as
        child spans of it."""
        tracker = df._jdf.queryExecution().tracker()
        if span is None:
            got = {}
            phases = tracker.phases()
            for name in ("analysis", "optimization", "planning"):
                if phases.contains(name):
                    got[name] = float(phases.apply(name).durationMs())
        else:
            got = self.tracer.attach_phases(span, tracker)
        for phase in ("analysis", "optimization", "planning"):
            self.add(f"catalyst.{phase}_ms", got.get(phase, 0.0))

    def end_of_run(self, spark, rdds_before: int) -> None:
        self.add("spark.leaked_rdds", persistent_rdds(spark) - rdds_before)
        self.add("spark.cached_mb", cached_mb(spark))

    def metrics(self, e2e: dict) -> dict:
        out = {name: 0.0 for name, _ in PER_LAYER}
        for name, xs in self.values.items():
            if name in out and xs:
                out[name] = sum(xs) / len(xs)
        out["spark.leaked_rdds"] = sum(self.values.get("spark.leaked_rdds", [0]))
        if self.ops:
            for name, get in _SPARK.items():
                out[name] = sum(get(r) for r in self.ops) / len(self.ops)
        summary = analyse([s for s in self.tracer.spans if s["end"] is not None])
        n_ops = max(summary["ops"], 1)
        for layer in SELF_LAYERS:
            out[f"self.{layer}_ms"] = summary["self_s"].get(layer, 0.0) * 1e3 / n_ops
        out["server.self_ms"] = out["self.server_ms"]
        out["trace.max_self_sum_error"] = summary["max_self_sum_error"]
        for name in E2E_UNITS:
            out[f"traced.{name}"] = e2e[name]
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        self.tracer.dump(os.path.join(traces, f"{self.workload}-{self.seed}.json"),
                         {"ops": self.ops, "per_layer": out, "end_to_end": e2e})
        return out


def trace_collect(layers: Layers):
    """Wrap ``DataFrame.collect`` so each collect inside an operation is a
    ``spark`` span with its Catalyst phases. Returns the undo function."""
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.collect
    tracer = layers.tracer

    def collect(self):
        with tracer.span("spark.collect", "spark") as sp:
            rows = orig(self)
        if sp is not None:
            layers.phases(sp, self)
        return rows

    DataFrame.collect = collect
    return lambda: setattr(DataFrame, "collect", orig)
