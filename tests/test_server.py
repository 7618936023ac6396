"""HTTP serving layer: in-process server, one request per front-end
(VERDICT r2 item 3; reference karna-server + README 'web interface'
analog)."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from karna_spark.frontends.sql import session_with_fixtures
    from karna_spark.metastore import Metastore
    from karna_spark.server import create_server

    session_with_fixtures(spark, SF_SMOKE)
    ms = Metastore(str(tmp_path_factory.mktemp("ms") / "metastore.json"))
    srv = create_server(spark, port=0, metastore=ms)  # ephemeral port
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base: str, route: str, body: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        base + route,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base: str, route: str) -> tuple[int, dict]:
    with urllib.request.urlopen(base + route, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def test_health(server):
    status, body = _get(server, "/health")
    assert (status, body) == (200, {"status": "ok"})


def test_query_sql(server):
    status, body = _post(
        server,
        "/query",
        {
            "query": "SELECT r_regionkey, r_name FROM region",
            "order_by": ["r_name"],
            "limit": 3,
        },
    )
    assert status == 200
    assert body["columns"] == ["r_regionkey", "r_name"]
    assert [r[1] for r in body["rows"]] == ["AFRICA", "AMERICA", "ASIA"]
    assert body["row_count"] == 3


def test_query_graphql(server):
    status, body = _post(
        server,
        "/query",
        {
            "language": "graphql",
            "query": "query { nation(orderBy: [{n_nationkey: ASC}], limit: 2) "
            "{ n_nationkey n_name } }",
        },
    )
    assert status == 200
    assert body["row_count"] == 2
    assert body["columns"] == ["n_nationkey", "n_name"]


def test_query_nl(server):
    status, body = _post(
        server,
        "/query",
        {"language": "nl", "query": "count of orders by order status"},
    )
    assert status == 200
    assert dict(zip((r[0] for r in body["rows"]), (r[1] for r in body["rows"])))


def test_register_dataset_then_query(server):
    import os

    status, body = _post(
        server,
        "/datasets",
        {"name": "region_http", "path": os.path.join(SF_SMOKE, "region.parquet")},
    )
    assert (status, body) == (201, {"registered": "region_http"})
    status, body = _get(server, "/datasets")
    assert status == 200 and any(d["name"] == "region_http" for d in body)
    status, body = _post(
        server, "/query", {"query": "SELECT COUNT(*) AS n FROM region_http"}
    )
    assert status == 200 and body["rows"][0][0] == 5


def test_register_with_fks_then_nl_and_graphql(server):
    """A dataset registered over HTTP with declared FK edges is
    immediately queryable on all three surfaces — NL joins and GraphQL
    nesting included (the 'arbitrary tabular files' promise end-to-end
    through the serving layer)."""
    import os

    status, _ = _post(
        server,
        "/datasets",
        {"name": "nation_http", "path": os.path.join(SF_SMOKE, "nation.parquet")},
    )
    assert status == 201
    status, _ = _post(
        server,
        "/datasets",
        {
            "name": "customer_http",
            "path": os.path.join(SF_SMOKE, "customer.parquet"),
            "foreign_keys": [["c_nationkey", "nation_http", "n_nationkey"]],
        },
    )
    assert status == 201
    status, body = _get(server, "/datasets")
    rec = next(d for d in body if d["name"] == "customer_http")
    assert rec["foreign_keys"] == [["c_nationkey", "nation_http", "n_nationkey"]]

    # NL join across the declared edge
    status, body = _post(
        server,
        "/query",
        {"language": "nl", "query": "count of customer_http by nation_http name"},
    )
    assert status == 200 and body["row_count"] > 0
    assert body["columns"] == ["n_name", "count"]

    # GraphQL many-to-one nesting across the same edge
    status, body = _post(
        server,
        "/query",
        {
            "language": "graphql",
            "query": "query { customer_http(orderBy: [{c_custkey: ASC}], limit: 3)"
            " { c_custkey nation_http { n_name } } }",
        },
    )
    assert status == 200 and body["row_count"] == 3
    assert all(isinstance(r[1], dict) and "n_name" in r[1] for r in body["rows"])


def test_saved_queries_roundtrip(server):
    status, body = _post(
        server,
        "/queries",
        {"name": "region_count", "query": "SELECT COUNT(*) AS n FROM region"},
    )
    assert (status, body) == (201, {"saved": "region_count"})
    status, body = _get(server, "/queries")
    assert status == 200 and any(q["name"] == "region_count" for q in body)
    status, body = _post(server, "/query", {"saved": "region_count"})
    assert status == 200 and body["rows"][0][0] == 5
    status, body = _post(server, "/query", {"saved": "nope"})
    assert status == 404


def test_errors_are_json(server):
    status, body = _post(server, "/query", {"query": "DROP TABLE region"})
    assert status == 400 and "read-only" in body["error"]
    status, body = _post(
        server, "/query", {"language": "nl", "query": "gibberish question"}
    )
    assert status == 400 and "grammar" in body["error"]
    status, body = _post(server, "/query", {"query": "SELECT 1", "offset": 5})
    assert status == 400 and "order_by" in body["error"]
    status, body = _post(server, "/nope", {"x": 1})
    assert status == 404
    status, body = _post(server, "/query", ["SELECT 1"])
    assert status == 400 and "JSON object" in body["error"]
    status, body = _post(
        server, "/query", {"language": "graphql", "query": "query { region {"}
    )
    assert status == 400 and body["error"].startswith("GraphQLError")
    status, body = _post(server, "/query", {"query": "SELECT nope FROM region"})
    assert status == 400 and "AnalysisException" in body["error"]
    status, body = _post(server, "/query", {"query": "SELEC 1"})
    assert status == 400 and "ParseException" in body["error"]
    status, body = _post(server, "/query", {"query": "SELECT 1", "limit": "x"})
    assert status == 400 and "limit" in body["error"]
    status, body = _post(
        server,
        "/datasets",
        {"name": "bad_fk", "path": SF_SMOKE, "foreign_keys": [["only_col"]]},
    )
    assert status == 400 and "foreign_keys" in body["error"]


@pytest.mark.parametrize(
    "query, error",
    [
        ("query { part(where: {OR: []}) { p_partkey } }",
         "GraphQLError: OR takes a non-empty list"),
        ("query { part(where: {NOT: [{p_size: {eq: 1}}]}) { p_partkey } }",
         "GraphQLError: a filter must be an object"),
        ("query { part(orderBy: {p_size: DESC}) { p_partkey } }",
         "GraphQLError: orderBy takes a list"),
        ("query { part(orderBy: [{p_size: SIDEWAYS}]) { p_partkey } }",
         "GraphQLError: orderBy direction"),
        ('query { part(limit: "abc") { p_partkey } }',
         "GraphQLError: limit must be a non-negative integer"),
        ("query { part(limit: -1) { p_partkey } }",
         "GraphQLError: limit must be a non-negative integer"),
        ("query { part(offset: 5) { p_partkey } }",
         "GraphQLError: offset requires orderBy"),
        ("query { part(where: {p_size: {eq: [1, 2]}}) { p_partkey } }",
         "GraphQLError: filter values must be scalars"),
        ("query { part(where: {p_size: {isNull: 1}}) { p_partkey } }",
         "GraphQLError: isNull on 'p_size' takes a boolean"),
        ("query { part(having: 1) { p_partkey } }",
         "GraphQLError: part has no argument"),
        ("query { part(where: {no_such_column: {eq: 1}}) { p_partkey } }",
         "AnalysisException: [UNRESOLVED_COLUMN"),
        ("query { part { p_partkey no_such_column } }",
         "AnalysisException: [UNRESOLVED_COLUMN"),
        ('query { part_aggregate(groupBy: ["p_brand`"]) { count } }',
         "AnalysisException: [UNRESOLVED_COLUMN"),
    ],
)
def test_malformed_graphql_is_400(server, query, error):
    """A malformed GraphQL argument or an unknown column is the client's
    fault: 400 naming the error, not 500 "engine fault"."""
    status, body = _post(server, "/query", {"language": "graphql", "query": query})
    assert status == 400 and body["error"].startswith(error), body


def test_engine_fault_is_500(server, spark, tmp_path):
    """A failure that is not the request's fault — here a registered
    dataset whose file was deleted after registration — answers 500,
    not 400."""
    path = tmp_path / "vanishing.csv"
    path.write_text("k,v\n1,a\n2,b\n")
    status, _ = _post(
        server, "/datasets", {"name": "vanishing", "path": str(path)}
    )
    assert status == 201
    path.unlink()
    try:
        status, body = _post(
            server, "/query", {"query": "SELECT * FROM vanishing"}
        )
        assert status == 500 and "FILE_NOT_EXIST" in body["error"]
    finally:
        spark.catalog.dropTempView("vanishing")


def test_index_serves_console(server):
    req = urllib.request.Request(server + "/", method="GET")
    with urllib.request.urlopen(req, timeout=60) as resp:
        assert resp.status == 200
        assert "text/html" in resp.headers["Content-Type"]
        html = resp.read().decode()
    assert "query console" in html and "/query" in html


def _persisting_front_end(monkeypatch, serve=None, fail=False) -> list:
    """Make each POST /query front-end call persist a frame through
    ``intermediates``, as the dedup and BM25 builders do, before it
    answers with ``serve(persisted)`` (default: the real front-end) or
    raises an engine fault. Returns the frames it persisted."""
    import karna_spark.server as server_mod
    from pyspark.storagelevel import StorageLevel

    from karna_spark import intermediates

    real = server_mod._run_query
    persisted = []

    def run_query(spark, body, metastore=None):
        df = intermediates.persist(spark.range(10), StorageLevel.MEMORY_AND_DISK)
        df.count()
        persisted.append(df)
        if fail:
            raise RuntimeError("engine fault after persisting")
        return serve(df) if serve else real(spark, body, metastore)

    monkeypatch.setattr(server_mod, "_run_query", run_query)
    return persisted


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_page_payload_releases_persisted_intermediates(server, spark, monkeypatch):
    """A request releases what its front-end persisted once the page is
    built: here the page reads the persisted frame, so it bypasses the
    cache."""
    start = _persistent_rdds(spark)
    persisted = _persisting_front_end(
        monkeypatch, serve=lambda df: df.selectExpr("id * 2 AS x")
    )
    status, out, cache = _query(server, {"query": "ignored", "limit": 5})
    assert (status, cache, out["row_count"]) == (200, "bypass", 5)
    assert persisted[0].storageLevel.useMemory is False  # unpersisted
    assert _persistent_rdds(spark) == start


def test_failed_request_releases_persisted_intermediates(server, spark, monkeypatch):
    """A request that fails after its front-end persisted answers 500
    and still releases what it persisted."""
    start = _persistent_rdds(spark)
    persisted = _persisting_front_end(monkeypatch, fail=True)
    status, out, _ = _query(server, {"query": "SELECT 1 AS one"})
    assert status == 500 and "engine fault" in out["error"]
    assert persisted[0].storageLevel.useMemory is False
    assert _persistent_rdds(spark) == start


def _query(base: str, body: dict) -> tuple[int, dict, str | None]:
    """POST /query: (status, JSON body, X-Karna-Cache header)."""
    req = urllib.request.Request(
        base + "/query",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read()), resp.headers["X-Karna-Cache"]
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read()), e.headers["X-Karna-Cache"]


def _last_job_id(spark) -> int:
    """Highest job ID in Spark's status store once every posted event
    reached it (the listener bus is asynchronous)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _register(base: str, name: str, path) -> None:
    status, _ = _post(base, "/datasets", {"name": name, "path": str(path)})
    assert status == 201


def test_body_shorter_than_content_length_is_408(spark, monkeypatch):
    """A body that never reaches its Content-Length answers 408 once the
    socket timeout passes, and the connection is closed, instead of
    holding a handler thread until the client goes away."""
    import socket
    import time

    import karna_spark.server as server_mod

    monkeypatch.setattr(server_mod, "_SOCKET_TIMEOUT_S", 1.0)
    srv = server_mod.create_server(spark, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        addr = ("127.0.0.1", srv.server_address[1])
        with socket.create_connection(addr, timeout=10) as sock:
            t0 = time.perf_counter()
            sock.sendall(
                b"POST /query HTTP/1.1\r\nHost: localhost\r\n"
                b"Content-Type: application/json\r\n"
                b"Content-Length: 100\r\n\r\n{}"
            )
            reply = sock.makefile("rb")
            status_line = reply.readline()
            waited = time.perf_counter() - t0
            rest = reply.read()  # returns once the server closes
        assert status_line.split()[1] == b"408"
        assert 0.9 <= waited < 9
        assert b"not received" in rest
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.mark.parametrize("header", ["abc", "-1"])
def test_malformed_content_length_is_400(server, header):
    """A Content-Length that is not a byte count answers 400 at once —
    it used to answer 500 (``abc``) or block reading the body (``-1``)."""
    import socket
    from urllib.parse import urlsplit

    url = urlsplit(server)
    with socket.create_connection((url.hostname, url.port), timeout=10) as sock:
        sock.sendall(
            b"POST /query HTTP/1.1\r\nHost: localhost\r\n"
            b"Content-Type: application/json\r\n"
            b"Content-Length: " + header.encode() + b"\r\n\r\n"
        )
        status_line = sock.makefile("rb").readline()
    assert status_line.split()[1] == b"400"


def test_repeated_query_is_a_cache_hit(server, spark):
    """The same request twice: the second is served from the page cache
    with an identical body and without starting a Spark job."""
    body = {
        "query": "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 3",
        "order_by": ["n_nationkey"],
    }
    before = _last_job_id(spark)
    status, first, cache = _query(server, body)
    assert (status, cache) == (200, "miss") and first["row_count"] == 5
    after_miss = _last_job_id(spark)
    assert after_miss > before
    status, second, cache = _query(server, body)
    assert (status, cache) == (200, "hit")
    assert second == first
    assert _last_job_id(spark) == after_miss


def test_touched_input_file_misses(server, spark, tmp_path):
    """A changed mtime on an input file is a new key."""
    import os
    import shutil

    path = tmp_path / "region_touch.parquet"
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), path)
    _register(server, "region_touch", path)
    body = {"query": "SELECT COUNT(*) AS n FROM region_touch"}
    try:
        assert _query(server, body)[2] == "miss"
        assert _query(server, body)[2] == "hit"
        st = path.stat()
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        status, out, cache = _query(server, body)
        assert (status, cache, out["rows"]) == (200, "miss", [[5]])
    finally:
        spark.catalog.dropTempView("region_touch")


def test_reregistered_name_serves_new_rows(server, spark, tmp_path):
    old, new = tmp_path / "old.csv", tmp_path / "new.csv"
    old.write_text("k,v\n1,a\n2,b\n")
    new.write_text("k,v\n7,x\n8,y\n9,z\n")
    body = {"query": "SELECT k, v FROM swapped", "order_by": ["k"]}
    try:
        _register(server, "swapped", old)
        assert _query(server, body)[1]["rows"] == [[1, "a"], [2, "b"]]
        _register(server, "swapped", new)
        status, out, cache = _query(server, body)
        assert (status, cache) == (200, "miss")
        assert out["rows"] == [[7, "x"], [8, "y"], [9, "z"]]
    finally:
        spark.catalog.dropTempView("swapped")


def test_deleted_cached_file_is_500(server, spark, tmp_path):
    """A page cached over a file that is then deleted is not served:
    the request runs and fails as an engine fault."""
    path = tmp_path / "cached_then_gone.csv"
    path.write_text("k,v\n1,a\n")
    _register(server, "cached_then_gone", path)
    body = {"query": "SELECT * FROM cached_then_gone"}
    try:
        assert _query(server, body)[2] == "miss"
        assert _query(server, body)[2] == "hit"
        path.unlink()
        status, out, _ = _query(server, body)
        assert status == 500 and "FILE_NOT_EXIST" in out["error"]
    finally:
        spark.catalog.dropTempView("cached_then_gone")


def test_nondeterministic_and_cached_plans_bypass(server, spark):
    from karna_spark.server import PageCache, _page_payload

    body = {"query": "SELECT r_regionkey, rand() AS r FROM region"}
    states = [_query(server, body)[2] for _ in range(2)]
    assert states == ["bypass", "bypass"]
    cached = spark.range(10).persist()
    try:
        page = _page_payload(cached.selectExpr("id * 2 AS x"), {}, PageCache())
        assert page.cache == "bypass" and page["row_count"] == 10
    finally:
        cached.unpersist()


def test_output_names_are_part_of_the_key(server):
    """Canonical plans erase alias names: two requests that differ only
    in them share a plan, but each gets its own column names."""
    sql = "SELECT COUNT(*) AS {} FROM region WHERE r_regionkey < 3"
    first = _query(server, {"query": sql.format("n")})
    second = _query(server, {"query": sql.format("total")})
    assert (first[0], first[2], first[1]["columns"]) == (200, "miss", ["n"])
    assert (second[0], second[2], second[1]["columns"]) == (200, "miss", ["total"])
    again = _query(server, {"query": sql.format("total")})
    assert (again[2], again[1]) == ("hit", second[1])


def test_large_request_plans_do_not_stay_resident(server, monkeypatch):
    """A stored plan keeps what the request built alive in the JVM, so
    an entry costs the request's bytes and its LocalRelation rows: a
    large inline VALUES or IN list is served but not stored, while a
    small page under the same budget is."""
    import karna_spark.server as server_mod

    monkeypatch.setattr(server_mod, "_PAGE_CACHE_BYTES", 32 << 10)
    values = ", ".join(f"({i})" for i in range(3000))
    in_list = ", ".join(str(i) for i in range(6000))
    large = [
        f"SELECT SUM(x) AS s FROM VALUES {values} AS t(x)",
        f"SELECT COUNT(*) AS n FROM region WHERE r_regionkey IN ({in_list})",
    ]
    for sql in large:
        assert len(sql) > 16 << 10
        states = [_query(server, {"query": sql})[2] for _ in range(2)]
        assert states == ["miss", "miss"]
    small = "SELECT SUM(x) AS s FROM VALUES (1), (2) AS t(x)"
    states = [_query(server, {"query": small})[2] for _ in range(2)]
    assert states == ["miss", "hit"]


def test_current_timestamp_is_never_stale(server):
    import time

    body = {"query": "SELECT current_timestamp() AS t"}
    first = _query(server, body)
    time.sleep(0.01)
    second = _query(server, body)
    assert first[0] == second[0] == 200
    assert first[1]["rows"] != second[1]["rows"]


def test_page_shape_is_part_of_the_key(server):
    """limit, offset and order_by each select their own entry."""
    sql = "SELECT r_regionkey, r_name FROM region"
    shapes = [
        {"limit": 2, "order_by": ["r_regionkey"]},
        {"limit": 3, "order_by": ["r_regionkey"]},
        {"limit": 2, "offset": 1, "order_by": ["r_regionkey"]},
        {"limit": 2, "order_by": ["r_name"]},
    ]
    pages = []
    for shape in shapes:
        status, out, cache = _query(server, {"query": sql, **shape})
        assert (status, cache) == (200, "miss")
        pages.append(out["rows"])
    assert pages == [
        [[0, "AFRICA"], [1, "AMERICA"]],
        [[0, "AFRICA"], [1, "AMERICA"], [2, "ASIA"]],
        [[1, "AMERICA"], [2, "ASIA"]],
        [[0, "AFRICA"], [1, "AMERICA"]],
    ]
    status, out, cache = _query(server, {"query": sql, **shapes[2]})
    assert (cache, out["rows"]) == ("hit", pages[2])


@pytest.mark.parametrize("bound", ["bytes", "entries"])
def test_cache_evicts_least_recently_used(spark, monkeypatch, bound):
    import karna_spark.server as server_mod
    from karna_spark.server import PageCache, _page_payload

    def serve(letter):
        df = spark.sql(f"SELECT '{letter}' AS x")
        return _page_payload(df, {}, cache).cache

    cache = PageCache()
    one_page = len(_page_payload(spark.sql("SELECT 'a' AS x"), {}).data)
    if bound == "bytes":
        monkeypatch.setattr(server_mod, "_PAGE_CACHE_BYTES", 2 * one_page)
    else:
        monkeypatch.setattr(server_mod, "_PAGE_CACHE_ENTRIES", 2)
    assert [serve(c) for c in "abc"] == ["miss", "miss", "miss"]
    assert serve("b") == "hit"  # b and c fit; a, the oldest, went
    assert serve("a") == "miss"  # and evicts c, now the oldest
    assert [serve("b"), serve("c")] == ["hit", "miss"]


def test_cache_hit_releases_persisted_intermediates(server, spark, monkeypatch):
    """Served from the cache or not, a request drops what its front-end
    persisted."""
    start = _persistent_rdds(spark)
    persisted = _persisting_front_end(monkeypatch)
    body = {"query": "SELECT r_name FROM region WHERE r_regionkey > 2", "limit": 2}
    states = []
    for i in range(2):
        status, _, cache = _query(server, body)
        assert status == 200
        states.append(cache)
        assert persisted[i].storageLevel.useMemory is False
        assert _persistent_rdds(spark) == start
    assert states == ["miss", "hit"]


def test_page_cache_bounds_hold_under_concurrent_use(monkeypatch):
    """Handler threads share one PageCache: its byte count and entry cap
    stay exact, and every hit is the page stored under that key."""
    import sys

    import karna_spark.server as server_mod

    class Plan:  # stands in for a canonical JVM plan
        def __init__(self, k):
            self.k = k

        def equals(self, other):
            return self.k == other.k

    monkeypatch.setattr(server_mod, "_PAGE_CACHE_ENTRIES", 8)
    cache = server_mod.PageCache()
    wrong = []

    def work(t):
        for i in range(300):
            k = (t * 7 + i) % 20
            page = json.dumps({"rows": [[k]] * (k + 1)}).encode()
            hit = cache.get(k, Plan(k))
            if hit is None:
                cache.put(k, Plan(k), page, k)
            elif hit != page:
                wrong.append(k)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(cache._pages) <= 8
    assert cache._bytes == sum(n for _, _, n in cache._pages.values())
