"""Oracle-differential tests: every registered query with an oracle is
compared against DuckDB at sf0.01 — the same comparison the driver's
t2 gate performs (row count + schema + order-insensitive values).

Queries without an oracle get a rows-materialize smoke check. Every
check is also a leak witness: no RDD the builder persisted or
checkpointed may still be registered once ``check_query`` returns.
"""

from __future__ import annotations

import pytest

from karna_spark.oracle import check_query
from karna_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE

ALL = sorted(REGISTRY)


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_parity(spark, duck, name):
    before = persistent_rdd_ids(spark)
    res = check_query(spark, duck, name, SF_ORACLE)
    assert res.ok, f"{name}: {res.detail}"
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"{name} left persisted RDDs {sorted(leaked)}"
