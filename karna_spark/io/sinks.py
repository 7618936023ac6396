"""Result sinks (SURVEY.md §2.1 S7-S8).

S7 — serving a result page to a web/CLI client (reference README.md:2
"web interface"; karna-cli is the workspace's only binary,
Cargo.toml:7-9). The scale rule: the driver only ever materializes one
*page*, never the full result — pagination composes ``orderBy`` (for a
stable page ordering) + ``offset`` + ``limit`` so Catalyst plans a
top-(offset+limit) instead of a full sort, and the transfer to Python
uses Arrow (`spark.sql.execution.arrow.pyspark.enabled`, session.py).

S8 — file export back to storage (MinIO is writable in the reference's
infra, docker-compose.yaml:21-40). ``df.write`` with an explicit mode;
partition columns optional; works identically for ``file://`` and
``s3a://`` destinations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def page(
    df: DataFrame,
    order_by: list[Column | str],
    limit: int = 100,
    offset: int = 0,
) -> DataFrame:
    """S7: one stable result page. ORDER BY must include a unique key
    for deterministic paging under distributed execution."""
    out = df.orderBy(*order_by)
    if offset:
        out = out.offset(offset)
    return out.limit(limit)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """S8: persist a result set as parquet/csv/tsv/json files.

    ``partition_by`` writes a Hive-partitioned layout — at 100 TB this
    is the difference between full scans and partition-pruned reads for
    downstream consumers.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer.options(header="true", **options).csv(path)
    elif fmt == "tsv":
        writer.options(header="true", sep="\t", **options).csv(path)
    elif fmt == "json":
        writer.options(**options).json(path)
    elif fmt == "orc":
        writer.options(**options).orc(path)
    else:
        writer.options(**options).parquet(path)
