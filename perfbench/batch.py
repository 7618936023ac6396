"""batch_ingest: registry builders, a BPE learner and snapshot writes
mixed with reads, from one caller, no HTTP.

A cycle runs, in a seed-shuffled order, the anchors of
``layers.BATCH_ANCHORS`` (each materialized with a ``noop`` write, as
``bench.py`` does), one ``learn_bpe(word_frequencies(documents))`` and
one ingest leg (see ingest.py: a change batch, a point read, a scan
read and a ``compact`` of the partitions the batch wrote). Executor CPU, shuffle,
Arrow Python workers (multimodal decode), the driver gaps between the
learner's jobs and the snapshot store's copy-on-write path carry the
time; front-ends and the server are bypassed.

The first cycle is the warm-up: it collects every anchor's output and
the learner's merges, which the checks compare against DuckDB and the
pure-Python reference learner. The ingest leg is checked against a
DuckDB replay of the same change batches.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter
from statistics import median_low
from contextlib import nullcontext

import ingest
from common import (Context, cpu_jiffies, generate, peak_rss_mb, start_spark,
                    steal_share, stop_spark)
from layers import BATCH_ANCHORS

SCALE = 0.01
BPE_MERGES = 8
STEPS = BATCH_ANCHORS + ("learn_bpe", "ingest")
# Kinds whose lower medians add up to one warm cycle.
CYCLE = BATCH_ANCHORS + ("learn_bpe", "write", "point_read", "scan_read", "compact")


def word_counts(sf_dir: str) -> dict[str, int]:
    """Reference input for ``reference_bpe``: the learner's word split
    (lower-cased, trimmed, split on whitespace), done without Spark."""
    import pyarrow.parquet as pq

    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    return dict(Counter(w for t in texts.column("text").to_pylist()
                        for w in t.lower().strip().split()))


class Steps:
    """Runs one anchor or the learner; in the traced run, in spans."""

    def __init__(self, spark, sf_dir: str, layers=None):
        from karna_spark.operators.bpe import learn_bpe, word_frequencies
        from karna_spark.operators.dedup import release_intermediates
        from karna_spark.queries import REGISTRY
        from karna_spark.queries.registry import table

        self.spark, self.sf_dir, self.layers = spark, sf_dir, layers
        self.registry, self.table = REGISTRY, table
        self.learn_bpe, self.word_frequencies = learn_bpe, word_frequencies
        self.release = release_intermediates

    def _span(self, name: str, layer: str):
        return self.layers.tracer.span(name, layer) if self.layers else nullcontext()

    def run(self, name: str, collect: bool = False):
        """Returns (build_s, action_s, output)."""
        if name == "learn_bpe":
            t0 = time.perf_counter()
            with self._span("bpe.word_frequencies", "queries"):
                wf = self.word_frequencies(self.table(self.spark, self.sf_dir, "documents"))
            t1 = time.perf_counter()
            with self._span("bpe.learn", "bpe") as sp:
                merges = self.learn_bpe(wf, num_merges=BPE_MERGES)
            t2 = time.perf_counter()
            self.bpe_span = sp
            return t1 - t0, t2 - t1, merges
        t0 = time.perf_counter()
        with self._span("anchor.build", "queries"):
            df = self.registry[name].builder(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        with self._span("anchor.action", "spark"):
            if collect:
                out = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        t2 = time.perf_counter()
        self.release(df)
        self.df = df
        return t1 - t0, t2 - t1, out


def traced_step(layers, steps: Steps, name: str, n: int) -> float:
    """One anchor or learner run as a tagged, traced operation."""
    from trace import covered

    with layers.op(steps.spark, f"batch-{n}-{name}", name):
        build, action, out = steps.run(name)
    rec = layers.last
    if name == "learn_bpe":
        sp = steps.bpe_span
        in_learn = [(max(j["start"], sp["start"]), min(j["end"], sp["end"]))
                    for j in rec["jobs"] if j["start"] is not None and j["end"] is not None]
        layers.add("bpe.merges_learned", len(out))
        layers.add("bpe.jobs", len(rec["jobs"]))
        layers.add("bpe.driver_gap_s", (sp["end"] - sp["start"])
                   - covered([j for j in in_learn if j[1] > j[0]]))
    else:
        layers.add(f"anchor.{name}.build_s", build)
        layers.add(f"anchor.{name}.action_s", action)
        # The noop write plans its own copy of the query, out of reach;
        # planning the result once more, outside the operation, gives
        # the Catalyst phase times of the same plan.
        steps.df._jdf.queryExecution().executedPlan()
        layers.phases(None, steps.df)
    return build + action


def run(ctx: Context) -> dict:
    sf_dir = os.path.join(ctx.work, "sf")
    generate(sf_dir, ctx.seed, SCALE, ingest.MAX_BATCHES)
    layers = None
    if ctx.trace:
        from layers import Layers, trace_collect

        layers = Layers(ctx.workload, ctx.seed)
        trace_collect(layers)
    rng = random.Random(ctx.seed)

    t0 = time.perf_counter()
    spark = start_spark(ctx.work)
    if layers:
        layers.add("session.start_s", time.perf_counter() - t0)
        layers.attach(spark)
    steps = Steps(spark, sf_dir, layers)
    leg = ingest.Loop(spark, sf_dir, os.path.join(ctx.work, "store"))
    leg.initial_commit()

    times: dict[str, list[float]] = {k: [] for k in CYCLE}
    reads: list[tuple] = []
    first: dict[str, object] = {}
    state = {"batch": 0, "rows": 0}

    def attempt(name: str, fn, timed: bool):
        """One operation: counted, its failure recorded, its time kept."""
        ctx.attempted += 1
        try:
            secs, out = fn()
        except Exception as e:  # a failed operation is counted; the run goes on
            ctx.fail(f"{name}: {type(e).__name__}: {e}")
            return None
        if timed:
            times[name].append(secs)
        return out

    def ingest_leg(timed: bool) -> None:
        i = state["batch"]
        state["batch"] = i + 1
        n = attempt("write", lambda: leg.write(i), timed)
        prow = attempt("point_read", lambda: leg.point_read(ingest.point_key(sf_dir, i)), timed)
        agg = attempt("scan_read", leg.scan_read, timed)
        reads.append((i, prow, agg))
        attempt("compact", lambda: (leg.compact(), None), timed)
        if timed and n is not None:
            state["rows"] += n

    def step(name: str, n: int, timed: bool) -> None:
        if name == "ingest":
            ingest_leg(timed)
        elif not timed:
            first[name] = attempt(name, lambda: (0.0, steps.run(name, collect=True)[2]), False)
        elif layers:
            attempt(name, lambda: (traced_step(layers, steps, name, n), None), True)
        else:
            attempt(name, lambda: (sum(steps.run(name)[:2]), None), True)
        spark.catalog.clearCache()

    for name in rng.sample(STEPS, len(STEPS)):
        step(name, 0, timed=False)
    setup_s = time.perf_counter() - t0
    leg.layers = layers  # trace the timed legs only
    v0 = leg.store.latest_version()

    jiffies = cpu_jiffies()
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    n = 0
    # Whole cycles only, so every run times the same mix of operations.
    while time.perf_counter() < deadline and state["batch"] < ingest.MAX_BATCHES:
        for name in rng.sample(STEPS, len(STEPS)):
            n += 1
            step(name, n, timed=True)
    window = time.perf_counter() - t_start
    steal = steal_share(jiffies)
    rss = peak_rss_mb(os.getpid())
    if layers:
        layers.add("snapshots.commits", leg.store.latest_version() - v0)

    live = sum(os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
               for f in leg.store.read(spark).inputFiles())
    stored = sum(ingest.tree_sizes(leg.root).values())
    final = leg.store.read(spark)
    final_rows = (final.columns, [tuple(r) for r in final.collect()])

    check(ctx, sf_dir, first)
    ingest.check(ctx, sf_dir, state["batch"], reads, final_rows)
    # Lower medians: with two or three samples per kind, one sample slowed
    # by a neighbour on the host cannot move the estimate upward.
    cycle_s = sum(median_low(v) for v in times.values() if v)
    bpe = times["learn_bpe"]
    ctx.report.update({
        "cycle_s": cycle_s,
        "window_s": window,
        "host_steal_share": steal,
        "samples": {k: len(v) for k, v in times.items()},
        "step_p50_s": {k: median_low(v) for k, v in times.items() if v},
        "bpe_s_per_merge": (median_low(bpe) / len(first["learn_bpe"])
                            if bpe and first.get("learn_bpe") else None),
        "ingest_rows_per_s": state["rows"] / window,
        "bytes_per_live_byte": stored / live,
    })
    e2e = {"setup_s": setup_s, "peak_rss_mb": rss, "op_p50_ms": cycle_s * 1e3,
           "ops_per_s": sum(len(v) for v in times.values()) / window}
    out = layers.metrics(e2e) if layers else e2e
    stop_spark(spark)
    return out


def check(ctx: Context, sf_dir: str, first: dict) -> None:
    """First-cycle outputs against the registry oracles on DuckDB, and the
    learned merges against the pure-Python reference learner."""
    from karna_spark.operators.bpe import reference_bpe
    from karna_spark.oracle import compare_frames, duckdb_connection
    from karna_spark.queries import REGISTRY

    con = duckdb_connection(sf_dir)
    for name, out in first.items():
        if out is None:  # the run failed and is counted already
            continue
        if name == "learn_bpe":
            want = reference_bpe(word_counts(sf_dir), num_merges=BPE_MERGES)
            if [tuple(m) for m in out] != [tuple(m) for m in want]:
                ctx.fail(f"learn_bpe: merges differ from reference_bpe "
                         f"({len(out)} vs {len(want)} merges)")
            continue
        cols, rows = out
        cur = con.execute(REGISTRY[name].oracle)
        res = compare_frames(name, rows, cols, cur.fetchall(), [c[0] for c in cur.description])
        if not res.ok:
            ctx.fail(f"{name}: {res.detail}")
    con.close()
