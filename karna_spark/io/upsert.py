"""Partition-scoped upsert into a parquet store (S8 depth).

The lakehouse ingestion primitive: merge a delta of keyed rows into a
Hive-partitioned parquet table, rewriting ONLY the partitions the
delta touches. Composition:

1. affected partitions = distinct partition values in the delta (a
   collect of at most |partitions| scalars — bounded by layout, not
   data);
2. read the existing store partition-pruned to those values;
3. anti-join out the keys the delta replaces, union the delta (delta
   wins — last-writer semantics);
4. write with ``partitionOverwriteMode=dynamic``: Spark replaces only
   the partition directories present in the written data, leaving
   every untouched partition's files byte-identical on disk.

At 100 TB the cost is proportional to the affected partitions plus the
delta — never the table. This is the same partition-level mechanics a
table format (Delta/Iceberg/Hudi) wraps in a transaction log; plain
parquet gives no atomicity across partitions, which production
deployments add via the table format while keeping this exact plan
shape underneath.

The merged frame is locally checkpointed before the write: Spark
refuses to overwrite a path that feeds the running plan, and the
checkpoint bounds the materialization to the affected partitions —
which is precisely the working set a partition-scoped upsert implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karna_spark import intermediates


def upsert_partitioned(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
) -> list:
    """Merge ``delta`` into the partitioned parquet store at ``path``.
    Rows sharing ``key_cols`` with a delta row are replaced; all other
    rows — in affected partitions and untouched ones alike — survive.
    Returns the affected partition values (for observability/tests)."""
    affected = [
        r[0] for r in delta.select(partition_col).distinct().collect()
    ]
    existing = spark.read.parquet(path).filter(
        F.col(partition_col).isin(affected)
    )
    keep = existing.join(
        delta.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    with intermediates.scope():
        merged = intermediates.checkpoint(keep.unionByName(delta), eager=True)
        original = spark.conf.get(conf_key, "static")
        spark.conf.set(conf_key, "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        finally:
            spark.conf.set(conf_key, original)
    return affected
