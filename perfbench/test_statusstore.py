"""Status-store reader checks. Run: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from statusstore import StatusStore, parse_metric  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-statusstore-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_parse_metric_forms():
    assert parse_metric("100,000") == 100000
    assert parse_metric("19 ms") == pytest.approx(0.019)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "4.8 s (1.2 s, 1.2 s, 1.2 s (stage 0.0: task 1))") == 4.8
    assert parse_metric("1.5 KiB") == 1536


def test_concurrent_tags_do_not_share_jobs(spark):
    from pyspark.sql import functions as F

    store = StatusStore(spark)
    start = threading.Barrier(2, timeout=60)
    errors: list[BaseException] = []

    def op(tag: str, mod: int) -> None:
        try:
            with store.tagged(tag):
                start.wait()
                for _ in range(3):
                    spark.range(200_000).groupBy(F.col("id") % mod).count().collect()
        except BaseException as e:  # reported by the assertion below
            errors.append(e)

    cursor = store.sql_cursor()
    threads = [threading.Thread(target=op, args=(f"t-{i}", 3 + i)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    a, b = (store.read(f"t-{i}", cursor) for i in range(2))
    ids_a = {j["id"] for j in a["jobs"]}
    ids_b = {j["id"] for j in b["jobs"]}
    assert ids_a and ids_b
    assert not ids_a & ids_b
    for rec in (a, b):
        assert rec["tasks"] > 0 and rec["exec_run_s"] >= 0
        assert all(j["status"] == "SUCCEEDED" for j in rec["jobs"])
