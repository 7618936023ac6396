"""serve_mixed: ``POST /query`` under three closed-loop clients.

Each client sends its next request only after the previous reply, so a
slower server receives less load. A request is drawn from seven shapes
in equal shares: the five registry front-end texts (SQL, two GraphQL,
two natural language) and two seeded SQL shapes, an ``orders`` point
lookup and a ``lineitem`` group-by with a seeded date cut. Fixed
per-request cost (front-end translation, Catalyst, job launch) carries
the time here; executor work on sf0.01 is small.

The untraced run starts the server as its own process, as a user would
(``python -m karna_spark.server``). The traced run hosts it in-process
through ``create_server`` so the spans are taken on the handler threads.
"""

from __future__ import annotations

import datetime as dt
import http.client
import itertools
import json
import os
import random
import re
import select
import signal
import subprocess
import sys
import threading
import time
from collections import Counter

from common import (Context, cpu_jiffies, descendants, generate, median,
                    peak_rss_mb, percentile, start_spark, steal_share, stop_spark,
                    wait_gone)

SCALE = 0.01
CLIENTS = 3
LIMIT = 100
FRONTEND_QUERIES = (
    "frontend_sql_passthrough",
    "frontend_graphql_filter_join",
    "frontend_graphql_aggregate",
    "frontend_nl_aggregate",
    "frontend_nl_join_aggregate",
)
SHAPES = FRONTEND_QUERIES + ("sql_point", "sql_groupby")
N_ORDERS = int(1_500_000 * SCALE)
GROUPBY_SQL = (
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
    "FROM lineitem WHERE l_shipdate < TIMESTAMP '{cut}' "
    "GROUP BY l_returnflag, l_linestatus"
)


def frontend_requests() -> dict[str, tuple[dict, str]]:
    """Registry front-end text → (request body, oracle SQL)."""
    from karna_spark.queries import REGISTRY
    from karna_spark.queries import frontends_q as fq

    texts = {
        "frontend_sql_passthrough": ("sql", fq._SQL_TEXT),
        "frontend_graphql_filter_join": ("graphql", fq._GQL_FILTER_JOIN),
        "frontend_graphql_aggregate": ("graphql", fq._GQL_AGGREGATE),
        "frontend_nl_aggregate": ("nl", fq._NL_AGG),
        "frontend_nl_join_aggregate": ("nl", fq._NL_JOIN_AGG),
    }
    return {
        name: ({"language": lang, "query": text, "limit": LIMIT}, REGISTRY[name].oracle)
        for name, (lang, text) in texts.items()
    }


class Draws:
    """A client's request stream: each run of seven requests is a seeded
    permutation of the seven shapes, so every window holds them in equal
    shares whatever the seed; SQL shapes get seeded parameters."""

    def __init__(self, rng: random.Random, fixed: dict):
        self.rng, self.fixed, self.queue = rng, fixed, []

    def next(self) -> tuple[str, dict, str]:
        """(shape, body, oracle SQL)."""
        if not self.queue:
            self.queue = self.rng.sample(SHAPES, len(SHAPES))
        shape = self.queue.pop()
        if shape in self.fixed:
            body, oracle = self.fixed[shape]
            return shape, body, oracle
        if shape == "sql_point":
            sql = f"SELECT * FROM orders WHERE o_orderkey = {self.rng.randrange(N_ORDERS)}"
        else:
            cut = dt.datetime(1995, 1, 1) + dt.timedelta(days=self.rng.randrange(2400))
            sql = GROUPBY_SQL.format(cut=cut.strftime("%Y-%m-%d %H:%M:%S"))
        return shape, {"language": "sql", "query": sql, "limit": LIMIT}, sql


def flatten(columns: list[str], rows: list[list]) -> tuple[list[str], list[tuple]]:
    """Expand nested GraphQL objects into their leaf fields."""
    def leaves(name, value):
        if isinstance(value, dict):
            for k, v in value.items():
                yield from leaves(k, v)
        else:
            yield name, value

    out_cols: list[str] | None = None
    out_rows = []
    for row in rows:
        pairs = [p for c, v in zip(columns, row) for p in leaves(c, v)]
        out_cols = out_cols or [c for c, _ in pairs]
        out_rows.append(tuple(v for _, v in pairs))
    return out_cols or list(columns), out_rows


class Oracle:
    """Expected rows from DuckDB over the same input files."""

    def __init__(self, sf_dir: str):
        from karna_spark.oracle import duckdb_connection

        self.con = duckdb_connection(sf_dir)
        self.cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, sql: str):
        if sql not in self.cache:
            cur = self.con.execute(sql)
            self.cache[sql] = ([c[0] for c in cur.description], cur.fetchall())
        return self.cache[sql]

    def check(self, sql: str, payload: dict) -> str | None:
        """None when the page holds ``min(LIMIT, n)`` rows of the
        expected result, compared as multisets of normalized rows."""
        from karna_spark.oracle import _norm_cell

        cols, rows = flatten(payload["columns"], payload["rows"])
        exp_cols, exp_rows = self.expected(sql)
        if sorted(cols) != sorted(exp_cols):
            return f"columns {sorted(cols)} != {sorted(exp_cols)}"

        def norm(cs, rs):
            order = [cs.index(c) for c in sorted(cs)]
            return Counter(tuple(_norm_cell(r[i]) for i in order) for r in rs)

        got, want = norm(cols, rows), norm(exp_cols, exp_rows)
        if len(rows) != min(LIMIT, len(exp_rows)):
            return f"{len(rows)} rows, expected {min(LIMIT, len(exp_rows))}"
        extra = got - want
        if extra:
            return f"row not in expected result: {next(iter(extra))}"
        return None


def post(port: int, body: bytes, headers: dict | None = None) -> tuple[int | None, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/query", body,
                     {"Content-Type": "application/json", **(headers or {})})
        resp = conn.getresponse()
        return resp.status, resp.read()
    except OSError as e:
        return None, str(e).encode()
    finally:
        conn.close()


def start_server(sf_dir: str, work: str) -> tuple[subprocess.Popen, int]:
    log = open(os.path.join(work, "server.log"), "wb")
    proc = subprocess.Popen(
        [sys.executable, "-m", "karna_spark.server", "--fixtures", sf_dir, "--port", "0"],
        stdout=subprocess.PIPE, stderr=log, cwd=work, start_new_session=True)
    log.close()
    deadline = time.monotonic() + 150
    while True:
        ready, _, _ = select.select([proc.stdout], [], [], max(0.0, deadline - time.monotonic()))
        if not ready:
            stop_server(proc)
            raise TimeoutError("server did not report its port within 150 s")
        line = proc.stdout.readline()
        if not line:
            stop_server(proc)
            raise RuntimeError(f"server exited before serving; see {work}/server.log")
        m = re.search(rb"http://[\d.]+:(\d+)", line)
        if m:
            return proc, int(m.group(1))


def stop_server(proc: subprocess.Popen) -> None:
    """Stop the server's process group (Python and its JVM) and wait."""
    pids = [proc.pid] + descendants(proc.pid)
    for sig, wait in ((signal.SIGTERM, 30), (signal.SIGKILL, 10)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        try:
            proc.wait(timeout=wait)
        except subprocess.TimeoutExpired:
            continue
        if not wait_gone(pids, wait):
            break
    proc.stdout.close()


def run_clients(port: int, seed: int, fixed: dict, seconds: float,
                on_request=None) -> tuple[list[tuple], float]:
    """Closed loop: CLIENTS threads until ``seconds`` pass. Returns
    (shape, oracle, start, end, status, payload) per request, the
    window's wall time and the host's CPU steal share over it."""
    results: list[tuple] = []
    lock = threading.Lock()
    jiffies = cpu_jiffies()
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client(i: int) -> None:
        draws = Draws(random.Random(seed * 1000 + i), fixed)
        while time.perf_counter() < deadline:
            shape, body, oracle = draws.next()
            data = json.dumps(body).encode()
            if on_request is None:
                t0 = time.perf_counter()
                status, payload = post(port, data)
                t1 = time.perf_counter()
            else:
                t0, t1, status, payload = on_request(port, data)
            with lock:
                results.append((shape, oracle, t0, t1, status, payload))

    in_threads(client)
    window = time.perf_counter() - t_start
    return results, window, steal_share(jiffies)


def in_threads(client) -> None:
    """Run ``client(i)`` on CLIENTS threads and wait for all of them."""
    threads = [threading.Thread(target=client, args=(i,)) for i in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def warm_up(port: int, fixed: dict, seed: int) -> list[tuple]:
    """Send every shape once, from CLIENTS threads, so first-use
    compilation is set-up work."""
    draws = Draws(random.Random(seed), fixed)
    todo = [draws.next() for _ in SHAPES]
    out: list[tuple] = []
    lock = threading.Lock()

    def client(i: int) -> None:
        for shape, body, oracle in todo[i::CLIENTS]:
            t0 = time.perf_counter()
            status, payload = post(port, json.dumps(body).encode())
            with lock:
                out.append((shape, oracle, t0, time.perf_counter(), status, payload))

    in_threads(client)
    return out


def check_all(ctx: Context, oracle: Oracle, results: list[tuple]) -> int:
    """Count toward attempted/failed; return correct responses."""
    ok = 0
    for shape, sql, _, _, status, payload in results:
        ctx.attempted += 1
        if status != 200:
            ctx.fail(f"{shape}: HTTP {status}: {payload[:200]!r}")
            continue
        err = oracle.check(sql, json.loads(payload))
        if err:
            ctx.fail(f"{shape}: {err}")
        else:
            ok += 1
    return ok


def summarize(ctx: Context, results: list[tuple], window: float, ok: int) -> dict:
    lat_ms = [(t1 - t0) * 1e3 for _, _, t0, t1, _, _ in results]
    ctx.report.update({
        "window_s": window,
        "query_p50_ms": median(lat_ms),
        "query_p95_ms": percentile(lat_ms, 95),
        "query_qps": ok / window,
        "requests": len(lat_ms),
        "by_shape_p50_ms": {
            s: median([(r[3] - r[2]) * 1e3 for r in results if r[0] == s])
            for s in SHAPES if any(r[0] == s for r in results)
        },
    })
    return {"op_p50_ms": ctx.report["query_p50_ms"], "ops_per_s": ctx.report["query_qps"]}


def run(ctx: Context) -> dict:
    sf_dir = os.path.join(ctx.work, "sf")
    generate(sf_dir, ctx.seed, SCALE)
    if ctx.trace:
        return run_traced(ctx, sf_dir)
    fixed = frontend_requests()
    t0 = time.perf_counter()
    proc, port = start_server(sf_dir, ctx.work)
    try:
        warm = warm_up(port, fixed, ctx.seed)
        setup_s = time.perf_counter() - t0
        results, window, steal = run_clients(port, ctx.seed, fixed, ctx.seconds)
        rss = peak_rss_mb(proc.pid)
    finally:
        stop_server(proc)
    oracle = Oracle(sf_dir)
    check_all(ctx, oracle, warm)
    ok = check_all(ctx, oracle, results)
    ctx.report["host_steal_share"] = steal
    return {"setup_s": setup_s, "peak_rss_mb": rss, **summarize(ctx, results, window, ok)}


def run_traced(ctx: Context, sf_dir: str) -> dict:
    import karna_spark.frontends.graphql as graphql_fe
    import karna_spark.frontends.nl as nl_fe
    import karna_spark.frontends.sql as sql_fe
    import karna_spark.server as server_mod
    from karna_spark.catalog import load_fixture_tables

    from common import persistent_rdds
    from layers import Layers, trace_collect

    fixed = frontend_requests()
    layers = Layers(ctx.workload, ctx.seed)
    tracer = layers.tracer
    t0 = time.perf_counter()
    with layers.timed("session.start_s"):
        spark = start_spark(ctx.work)
    layers.attach(spark)
    with layers.timed("catalog.register_s"):
        load_fixture_tables(spark, sf_dir)
    srv = server_mod.create_server(spark, port=0)
    handler = srv.RequestHandlerClass
    orig_post = handler.do_POST

    def do_post(self):
        trace = self.headers.get("X-Trace-Id")
        if trace is None:
            return orig_post(self)
        with tracer.span("server.request", "server", trace=trace,
                         parent=int(self.headers["X-Parent-Span"])):
            with layers.store.tagged(trace):
                return orig_post(self)

    handler.do_POST = do_post
    undo = [
        tracer.wrap(sql_fe, "execute", "frontends.sql", "frontends"),
        tracer.wrap(graphql_fe, "translate", "frontends.graphql", "frontends"),
        tracer.wrap(nl_fe, "ask", "frontends.nl", "frontends"),
        tracer.wrap(server_mod, "_page_payload", "server.page", "server"),
        trace_collect(layers),
    ]
    serving = threading.Thread(target=srv.serve_forever)
    serving.start()
    ids = itertools.count()

    def traced_request(port, data):
        trace = f"serve-{next(ids)}"
        cursor = layers.store.sql_cursor()
        with tracer.span("client.request", "http", trace=trace) as sp:
            status, payload = post(port, data, {"X-Trace-Id": trace,
                                                "X-Parent-Span": str(sp["id"])})
        rec = layers.finish_op(trace, sp, cursor)
        layers.add("server.bytes_out", len(payload))
        layers.add("frontends.jobs", rec["jobs_by_layer"].get("frontends", 0))
        return sp["start"], sp["end"], status, payload

    try:
        warm = warm_up(srv.server_address[1], fixed, ctx.seed)
        setup_s = time.perf_counter() - t0
        rdds_before = persistent_rdds(spark)
        results, window, steal = run_clients(srv.server_address[1], ctx.seed, fixed,
                                             ctx.seconds, traced_request)
        rss = peak_rss_mb(os.getpid())
        layers.end_of_run(spark, rdds_before)
    finally:
        srv.shutdown()
        srv.server_close()
        serving.join(timeout=30)
        handler.do_POST = orig_post
        for u in undo:
            u()
    for name in ("sql", "graphql", "nl"):
        spans = [s for s in tracer.spans if s["name"] == f"frontends.{name}"]
        for s in spans:
            layers.add(f"frontends.{name}_ms", (s["end"] - s["start"]) * 1e3)
    oracle = Oracle(sf_dir)
    check_all(ctx, oracle, warm)
    ok = check_all(ctx, oracle, results)
    ctx.report["host_steal_share"] = steal
    e2e = {"setup_s": setup_s, "peak_rss_mb": rss, **summarize(ctx, results, window, ok)}
    out = layers.metrics(e2e)
    stop_spark(spark)
    return out

