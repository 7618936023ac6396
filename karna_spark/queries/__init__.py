"""Driver-checked query registry.

Each module in this package registers named queries: a PySpark builder
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) a DuckDB
oracle string. ``__spark_entry__.py`` exposes the registry to the
driver; tests run the same parity comparison locally.

Import order == registry order; importing this package populates
``registry.REGISTRY``.
"""

from karna_spark.queries import registry  # noqa: F401

# Query modules self-register on import.
from karna_spark.queries import (  # noqa: F401,E402
    tpch,
    tpch_ext,
    relational,
    aggregates,
    aggregates_ext,
    windows,
    timeseries,
    functions_lib,
    text_pipeline,
    dedup,
    vectors,
    frontends_q,
    sources_q,
    udx,
    streaming_q,
    analytics,
)

REGISTRY = registry.REGISTRY
