"""HTTP serving layer (karna-server analog).

The reference's single load-bearing sentence promises "a blazingly fast
web interface to query tabular files ... using SQL, GraphQL and Natural
Language" (reference README.md:2) and dedicates a crate to the server
(reference karna-server/src/lib.rs:1-14, template only). This module is
that HTTP layer for the Spark-native engine, deliberately thin: parse
request → translate via the existing front-ends → serve ONE bounded
result page (io.sinks) as JSON. stdlib ``http.server`` only — the
container ships no web framework, and the engine does not need one.

API:
  GET  /                  → minimal HTML query console (the "web
                            interface" of reference README.md:2 —
                            inline CSS; no CDN in the offline sandbox)
  GET  /health            → {"status": "ok"}
  GET  /datasets          → [{name, path, fmt, foreign_keys}, ...]
  POST /datasets          {"name", "path", "fmt"?, "options"?,
                           "foreign_keys"?: [[fk_col, parent, pk], ...]}
  GET  /queries           → saved queries [{name, language, query}, ...]
  POST /queries           {"name", "language"?, "query"} — persist a
                          named query in the metastore catalog
  POST /query             {"language": "sql"|"graphql"|"nl",
                           "query": "...", "limit"?, "offset"?,
                           "order_by"?: [col, ...]}
                          or {"saved": name, ...} to run a saved query
      → {"columns": [...], "rows": [[...], ...], "row_count": n}

NL/GraphQL queries resolve against the live catalog: a dataset
registered via POST /datasets is immediately NL-addressable by name,
and its declared foreign_keys become GraphQL nesting relationships
(rel_schema_from_metastore) and NL join vocabulary.

Errors: a request the server cannot serve as asked — malformed JSON,
a body that is not a JSON object, a query the front-ends cannot
translate, SQL that Spark cannot parse or analyze — answers 4xx with
``{"error": ...}``; a body shorter than its ``Content-Length``, 408
after ``_SOCKET_TIMEOUT_S``. Any other failure is an engine fault (a
dataset's files gone, a JVM or I/O error) and answers 500.

Scale posture: every /query collects at most ``limit`` rows
(hard-capped) through a TakeOrderedAndProject plan, and
``DataFrame.collect()`` moves that page from the JVM as pickled rows
(``collectToPython``). Concurrency is ThreadingHTTPServer — Spark
sessions are thread-safe for reads, and each request is an independent
job.

Page cache: the server keeps the pages it served, JSON-encoded, in an
LRU (``PageCache``) bounded by ``_PAGE_CACHE_ENTRIES`` entries and
``_PAGE_CACHE_BYTES`` bytes. An entry costs its encoded page plus what
its stored plan keeps alive in the JVM: the request body that built it
and the estimated size of its LocalRelation rows (inline ``VALUES``).
A page's key is the canonicalized *optimized* plan of the page
DataFrame — where Catalyst has already folded ``current_timestamp()``,
``current_user()`` and the like into literals — plus the output column
names (canonicalization erases aliases) and ``(path, size, mtime_ns)``
of every file that plan reads. A hit answers without running a Spark
job; the front-ends and the optimizer still run on every request. Only
plans whose result is a function of that key are cached: deterministic,
and every leaf a ``file:`` HadoopFsRelation, a LocalRelation,
OneRowRelation or Range. Anything else (``rand()``, persisted
intermediates, RDDs, DSv2, Hive, remote filesystems, a file that cannot
be stat-ed) bypasses the cache. A temp view's file listing is frozen
when it is registered, so those files are exactly what Spark would
read; re-registering a name builds a new relation and misses. Every
page /query serves carries the header ``X-Karna-Cache:
hit|miss|bypass``. Not measured: a constant the optimizer expands from
short text (``sequence(1, n)`` folded into an array literal) is held by
the stored plan but costs only the request's bytes.
"""

from __future__ import annotations

import json
import logging
import os
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote, urlsplit

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from karna_spark import intermediates
from karna_spark.frontends.graphql import GraphQLError
from karna_spark.frontends.nl import NLError
from karna_spark.frontends.sql import SQLFrontendError

MAX_PAGE = 10_000  # hard cap on rows per response

# Seconds a handler waits on its socket (a request body that does not
# arrive, a client that stops reading) before giving the connection up.
_SOCKET_TIMEOUT_S = 30.0

# Page cache bounds: stored pages, and their bytes (encoded page plus
# the request text and LocalRelation rows its stored plan holds).
_PAGE_CACHE_ENTRIES = 256
_PAGE_CACHE_BYTES = 16 << 20

# Plan leaves whose rows are fixed by the plan itself; a LocalRelation
# holds them, so its rows count against the cache's byte budget.
_LOCAL_RELATION = "org.apache.spark.sql.catalyst.plans.logical.LocalRelation"
_SELF_CONTAINED_LEAVES = frozenset({
    "org.apache.spark.sql.catalyst.plans.logical.OneRowRelation",
    "org.apache.spark.sql.catalyst.plans.logical.Range",
})
_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"

# Failures caused by the request text: the front-ends' translation
# errors, and SQL that Spark cannot parse or analyze (ParseException
# is an AnalysisException). Everything else is an engine fault.
_CLIENT_ERRORS = (SQLFrontendError, GraphQLError, NLError, AnalysisException)

_log = logging.getLogger(__name__)

# The web console: one page, no build step, no external assets. It
# drives exactly the same POST /query contract as any API client.
_INDEX_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>karna-spark</title>
<style>
  body{font-family:system-ui,sans-serif;margin:2rem auto;max-width:60rem;
       color:#1a1a2e}
  h1{font-size:1.2rem} textarea{width:100%;height:6rem;font-family:monospace}
  select,button{font-size:1rem;padding:.3rem .8rem;margin:.4rem .4rem 0 0}
  table{border-collapse:collapse;margin-top:1rem;font-size:.9rem}
  th,td{border:1px solid #cbd5e1;padding:.25rem .6rem;text-align:left}
  th{background:#f1f5f9} #err{color:#b91c1c;white-space:pre-wrap}
  #meta{color:#64748b;font-size:.85rem;margin-top:.5rem}
</style></head>
<body>
<h1>karna-spark query console</h1>
<textarea id="q" placeholder="SELECT ... / query { ... } / total quantity by nation name in lineitem"></textarea>
<div>
  <select id="lang">
    <option value="sql">SQL</option>
    <option value="graphql">GraphQL</option>
    <option value="nl">Natural language</option>
  </select>
  <button onclick="run()">Run</button>
  <span id="meta"></span>
</div>
<div id="err"></div>
<div id="out"></div>
<script>
async function run(){
  const body={language:document.getElementById('lang').value,
              query:document.getElementById('q').value,limit:200};
  const t0=performance.now();
  const resp=await fetch('/query',{method:'POST',
    headers:{'Content-Type':'application/json'},body:JSON.stringify(body)});
  const data=await resp.json();
  const err=document.getElementById('err'),out=document.getElementById('out'),
        meta=document.getElementById('meta');
  err.textContent='';out.innerHTML='';meta.textContent='';
  if(!resp.ok){err.textContent=data.error||('HTTP '+resp.status);return;}
  meta.textContent=data.row_count+' rows · '+
    ((performance.now()-t0)/1000).toFixed(2)+'s';
  const tbl=document.createElement('table');
  const esc=s=>String(s).replace(/[<>&]/g,
    c=>({'<':'&lt;','>':'&gt;','&':'&amp;'}[c]));
  tbl.innerHTML='<tr>'+data.columns.map(c=>'<th>'+esc(c)+'</th>').join('')+
    '</tr>'+
    data.rows.map(r=>'<tr>'+r.map(v=>'<td>'+
      esc(v===null?'∅':JSON.stringify(v))+'</td>').join('')+
      '</tr>').join('');
  out.appendChild(tbl);
}
</script>
</body></html>
"""


class ApiError(ValueError):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _run_query(spark: SparkSession, body: dict, metastore=None) -> DataFrame:
    saved = body.get("saved")
    if saved:
        if not isinstance(saved, str):
            raise ApiError(400, "'saved' must name a saved query")
        if metastore is None:
            raise ApiError(400, "no metastore attached — saved queries unavailable")
        rec = metastore.get_query(saved)
        if rec is None:
            raise ApiError(404, f"no saved query {saved!r}")
        body = {**body, "language": rec.language, "query": rec.text}
    language = body.get("language", "sql")
    query = body.get("query")
    if not query or not isinstance(query, str):
        raise ApiError(400, "body must carry a 'query' string")
    if language == "sql":
        from karna_spark.frontends.sql import execute

        return execute(spark, query)
    if language == "graphql":
        from karna_spark.frontends.graphql import rel_schema_from_metastore, translate

        rel = rel_schema_from_metastore(metastore) if metastore is not None else None
        # the metastore rides along so GraphQL MUTATIONS over HTTP are
        # durable — REST POST /datasets parity (a registerDataset that
        # silently skipped the store would report success and persist
        # nothing)
        return translate(spark, query, rel_schema=rel, metastore=metastore)
    if language == "nl":
        from karna_spark.frontends.nl import ask

        return ask(spark, query, metastore)
    raise ApiError(400, f"unknown language {language!r} (sql|graphql|nl)")


def _fk_list(fks) -> bool:
    """True when ``fks`` is a list of [fk_col, parent_table, parent_col]
    string triples — the shape every front-end unpacks."""
    return isinstance(fks, list) and all(
        isinstance(fk, list) and len(fk) == 3
        and all(isinstance(x, str) for x in fk)
        for fk in fks
    )


class _Page(dict):
    """A /query response body. ``data`` is its JSON encoding, which is
    what the handler sends; ``cache`` says how it was served (``hit``,
    ``miss`` or ``bypass``) for the X-Karna-Cache header."""

    def __init__(self, body: dict, data: bytes | None = None, cache: str = "bypass"):
        super().__init__(body)
        self.data = json.dumps(body).encode("utf-8") if data is None else data
        self.cache = cache


class PageCache:
    """LRU of served pages, bounded by ``_PAGE_CACHE_ENTRIES`` entries
    and ``_PAGE_CACHE_BYTES`` bytes. An entry costs its encoded page
    plus what its stored plan holds: the request that built it and the
    rows of its LocalRelation leaves. Keys come from ``_page_key``; a
    key match counts as a hit only when the stored canonical plan also
    equals the request's."""

    def __init__(self):
        self._lock = threading.Lock()
        self._pages: OrderedDict = OrderedDict()  # key -> (plan, data, nbytes)
        self._bytes = 0

    def get(self, key, plan) -> bytes | None:
        with self._lock:
            entry = self._pages.get(key)
            if entry is None or not entry[0].equals(plan):
                return None
            self._pages.move_to_end(key)
            return entry[1]

    def put(self, key, plan, data: bytes, held: int) -> None:
        nbytes = len(data) + held
        with self._lock:
            old = self._pages.pop(key, None)
            if old is not None:
                self._bytes -= old[2]
            if nbytes > _PAGE_CACHE_BYTES:
                return
            self._pages[key] = (plan, data, nbytes)
            self._bytes += nbytes
            while (self._bytes > _PAGE_CACHE_BYTES
                   or len(self._pages) > _PAGE_CACHE_ENTRIES):
                _, (_, _, n) = self._pages.popitem(last=False)
                self._bytes -= n


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _page_key(out: DataFrame):
    """``(key, canonical plan, held bytes)`` of the page frame ``out``,
    or None when its rows are not a function of the key (see the module
    docstring). The key is the optimized plan's semantic hash, the
    output column names (canonicalization erases them) and the input
    files' versions; held bytes are the LocalRelation rows the plan
    keeps alive."""
    plan = out._jdf.queryExecution().optimizedPlan()
    files, held = set(), 0
    for p in [plan, *_seq(plan.subqueriesAll())]:
        if not p.deterministic():
            return None
        for leaf in _seq(p.collectLeaves()):
            kind = leaf.getClass().getName()
            if kind == _LOCAL_RELATION:
                held += leaf.stats().sizeInBytes()
                continue
            if kind in _SELF_CONTAINED_LEAVES:
                continue
            if kind != _LOGICAL_RELATION:
                return None
            rel = leaf.relation()
            if rel.getClass().getName() != _FS_RELATION:
                return None
            files.update(rel.inputFiles())
    versions = []
    for uri in sorted(files):
        parts = urlsplit(uri)
        if parts.scheme != "file":
            return None
        try:
            st = os.stat(unquote(parts.path))
        except OSError:  # gone: let the collect report it
            return None
        versions.append((uri, st.st_size, st.st_mtime_ns))
    key = (plan.semanticHash(), tuple(out.columns), tuple(versions))
    return key, plan.canonicalized(), held


def _page_frame(df: DataFrame, body: dict) -> DataFrame:
    """The DataFrame of the page ``body`` asks for."""
    from karna_spark.io.sinks import page

    try:
        limit = min(int(body.get("limit", 100)), MAX_PAGE)
        offset = int(body.get("offset", 0))
    except (TypeError, ValueError) as e:
        raise ApiError(400, f"'limit' and 'offset' must be integers: {e}") from e
    order_by = body.get("order_by")
    if order_by:
        if not isinstance(order_by, list):
            raise ApiError(400, "'order_by' must be a list of column names")
        missing = [c for c in order_by if c not in df.columns]
        if missing:
            raise ApiError(400, f"order_by columns not in result: {missing}")
        return page(df, order_by, limit=limit, offset=offset)
    if offset:
        # offset without an ordering is nondeterministic — refuse.
        raise ApiError(400, "offset requires order_by for a stable page")
    return df.limit(limit)


def _page_payload(
    df: DataFrame, body: dict, cache: PageCache | None = None, request_bytes: int = 0
) -> _Page:
    """The page of ``df`` that ``body`` asks for, from ``cache`` when it
    holds one under the same key, else collected (and stored, at a cost
    that counts the ``request_bytes`` that built it)."""
    out = _page_frame(df, body)
    keyed = _page_key(out) if cache is not None else None
    if keyed is None:
        return _Page(_collect_page(out))
    key, plan, held = keyed
    data = cache.get(key, plan)
    if data is not None:
        return _Page(json.loads(data), data, "hit")
    served = _Page(_collect_page(out), cache="miss")
    cache.put(key, plan, served.data, held + request_bytes)
    return served


def _collect_page(out: DataFrame) -> dict:
    rows = out.collect()
    return {
        "columns": out.columns,
        "rows": [[_json_cell(v) for v in r] for r in rows],
        "row_count": len(rows),
    }


def _json_cell(v):
    if isinstance(v, (str, int, float, bool)) or v is None:
        return v
    # Row subclasses tuple — test it FIRST or nested structs lose their
    # field names and serialize as bare lists.
    if hasattr(v, "asDict"):  # Row (struct column)
        return {k: _json_cell(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_cell(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)  # dates, timestamps, Decimal


def create_server(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 8080,
    metastore=None,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server bound to ``spark``. Attach the
    metastore's datasets first when one is given."""
    if metastore is not None:
        metastore.attach(spark)
    pages = PageCache()

    class Handler(BaseHTTPRequestHandler):
        server_version = "karna-spark"
        timeout = _SOCKET_TIMEOUT_S

        def log_message(self, *args):  # keep pytest output clean
            pass

        def _send(self, status: int, payload, headers: dict | None = None) -> None:
            if isinstance(payload, _Page):
                data = payload.data
            else:
                data = json.dumps(payload).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            for name, value in (headers or {}).items():
                self.send_header(name, value)
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> dict:
            try:
                n = int(self.headers.get("Content-Length") or 0)
            except ValueError:
                n = -1
            if n < 0:
                raise ApiError(400, "Content-Length must be a byte count")
            if n == 0:
                raise ApiError(400, "empty request body")
            try:
                raw = self.rfile.read(n)
            except TimeoutError as e:  # fewer bytes than Content-Length
                self.close_connection = True
                raise ApiError(
                    408, f"request body not received within {self.timeout:g} s"
                ) from e
            try:
                body = json.loads(raw)
            except ValueError as e:  # malformed JSON or UTF-8
                raise ApiError(400, f"invalid JSON body: {e}") from e
            if not isinstance(body, dict):
                raise ApiError(400, "request body must be a JSON object")
            return body

        def do_GET(self):
            if self.path in ("/", "/index.html"):
                data = _INDEX_HTML.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                return None
            if self.path == "/health":
                return self._send(200, {"status": "ok"})
            if self.path == "/datasets":
                if metastore is None:
                    return self._send(200, [])
                return self._send(
                    200,
                    [
                        {
                            "name": r.name,
                            "path": r.path,
                            "fmt": r.fmt,
                            "foreign_keys": r.foreign_keys,
                        }
                        for r in metastore.list()
                    ],
                )
            if self.path == "/queries":
                if metastore is None:
                    return self._send(200, [])
                return self._send(
                    200,
                    [
                        {"name": q.name, "language": q.language, "query": q.text}
                        for q in metastore.list_queries()
                    ],
                )
            return self._send(404, {"error": f"no route {self.path}"})

        def do_POST(self):
            try:
                body = self._body()
                if self.path == "/query":
                    # releases what the front-end persisted, on failure too
                    with intermediates.scope():
                        df = _run_query(spark, body, metastore)
                        served = _page_payload(
                            df, body, pages, int(self.headers["Content-Length"])
                        )
                    return self._send(200, served, {"X-Karna-Cache": served.cache})
                if self.path == "/datasets":
                    name, path = body.get("name"), body.get("path")
                    opts = body.get("options") or {}
                    fks = body.get("foreign_keys") or []
                    if not (name and isinstance(name, str)
                            and path and isinstance(path, str)):
                        raise ApiError(400, "body must carry 'name' and 'path'")
                    if not isinstance(opts, dict) or not _fk_list(fks):
                        raise ApiError(
                            400, "'options' must be an object and "
                            "'foreign_keys' a list of [fk_col, parent, pk]"
                        )
                    if metastore is not None:
                        metastore.register(
                            spark, name, path, fmt=body.get("fmt"),
                            foreign_keys=fks, **opts,
                        )
                    else:
                        from karna_spark.catalog import register

                        register(spark, name, path, fmt=body.get("fmt"), **opts)
                    return self._send(201, {"registered": name})
                if self.path == "/queries":
                    if metastore is None:
                        raise ApiError(400, "no metastore attached")
                    name, text = body.get("name"), body.get("query")
                    if not name or not text:
                        raise ApiError(400, "body must carry 'name' and 'query'")
                    try:
                        metastore.save_query(
                            name, body.get("language", "sql"), text
                        )
                    except ValueError as e:  # unknown language
                        raise ApiError(400, str(e)) from e
                    return self._send(201, {"saved": name})
                return self._send(404, {"error": f"no route {self.path}"})
            except ApiError as e:
                return self._send(e.status, {"error": str(e)})
            except _CLIENT_ERRORS as e:
                return self._send(400, {"error": f"{type(e).__name__}: {e}"})
            except Exception as e:  # engine fault: keep serving, report it
                _log.exception("POST %s failed", self.path)
                return self._send(500, {"error": f"{type(e).__name__}: {e}"})

    return ThreadingHTTPServer((host, port), Handler)


def main() -> None:
    """``python -m karna_spark.server [--port N] [--fixtures DIR]``"""
    import argparse

    from karna_spark.metastore import Metastore
    from karna_spark.session import get_spark

    p = argparse.ArgumentParser(description="karna_spark HTTP server")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument("--fixtures", metavar="DIR")
    p.add_argument("--metastore", metavar="PATH")
    args = p.parse_args()

    spark = get_spark(app_name="karna-server")
    if args.fixtures:
        from karna_spark.catalog import load_fixture_tables

        load_fixture_tables(spark, args.fixtures)
    ms = Metastore(args.metastore) if args.metastore else None
    srv = create_server(spark, args.host, args.port, metastore=ms)
    print(f"karna_spark serving on http://{args.host}:{srv.server_address[1]}")
    srv.serve_forever()


if __name__ == "__main__":
    main()
