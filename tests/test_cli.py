"""CLI entry (karna-cli analog): subprocess tests asserting output rows
of known queries through all three front-ends."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*argv: str) -> list[dict]:
    """Run ``python -m karna_spark`` in a fresh process; parse JSONL."""
    proc = subprocess.run(
        [sys.executable, "-m", "karna_spark", *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return [json.loads(line) for line in proc.stdout.splitlines() if line.strip()]


@pytest.mark.slow
def test_cli_all_frontends_one_process(tmp_path):
    """One subprocess round-trip per front-end would cost 3 JVM starts;
    the SQL case also covers --register persistence via the metastore,
    then GraphQL/NL run as separate invocations reattaching from it."""
    store = str(tmp_path / "ms.json")

    rows = run_cli(
        "SELECT r_name FROM region ORDER BY r_name",
        "--fixtures", SF_SMOKE,
        "--metastore", store,
        "--register", f"region_ms={os.path.join(SF_SMOKE, 'region.parquet')}",
    )
    assert [r["r_name"] for r in rows] == [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"
    ]

    # The registration persisted: a NEW process resolves region_ms with
    # no --fixtures at all.
    rows = run_cli(
        "SELECT COUNT(*) AS n FROM region_ms",
        "--metastore", store,
    )
    assert rows[0]["n"] == 5

    listed = run_cli("--list-datasets", "--metastore", store)
    assert [d["name"] for d in listed] == ["region_ms"]


@pytest.mark.slow
def test_cli_graphql_and_nl():
    rows = run_cli(
        "--graphql",
        "query { nation(orderBy: [{n_nationkey: ASC}], limit: 2) { n_name } }",
        "--fixtures", SF_SMOKE,
    )
    assert len(rows) == 2 and "n_name" in rows[0]

    rows = run_cli(
        "--nl", "count of orders by order status", "--fixtures", SF_SMOKE
    )
    assert {r["o_orderstatus"] for r in rows} == {"F", "O", "P"}


@pytest.mark.slow
def test_cli_rejects_writes_and_bad_grammar():
    proc = subprocess.run(
        [sys.executable, "-m", "karna_spark", "DROP TABLE nation",
         "--fixtures", SF_SMOKE],
        capture_output=True, text=True, cwd=REPO, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 1
    assert "read-only" in proc.stderr


@pytest.mark.slow
def test_cli_nl_joins_through_metastore_fk(tmp_path):
    """--nl resolves against the attached metastore, as POST /query
    does: a declared FK edge lets the question group by a column of
    the parent table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"zone_id": [1, 2], "zone_name": ["north", "south"]}),
        str(tmp_path / "zone.parquet"),
    )
    pq.write_table(
        pa.table({
            "trip_id": [10, 11, 12],
            "zone_id": [1, 1, 2],
            "fare": [7.5, 2.5, 4.0],
        }),
        str(tmp_path / "trip.parquet"),
    )

    def rec(name, fks):
        return {
            "name": name, "path": str(tmp_path / f"{name}.parquet"),
            "fmt": "parquet", "options": {}, "schema_json": None,
            "foreign_keys": fks,
        }

    store = tmp_path / "ms.json"
    store.write_text(json.dumps({
        "version": 1,
        "datasets": [
            rec("zone", []), rec("trip", [["zone_id", "zone", "zone_id"]])
        ],
        "queries": [],
    }))
    rows = run_cli(
        "--nl", "total fare by zone name in trip", "--metastore", str(store)
    )
    assert {r["zone_name"]: r["sum_fare"] for r in rows} == {
        "north": 10.0, "south": 4.0
    }
