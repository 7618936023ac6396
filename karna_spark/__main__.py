"""CLI entry point (karna-cli analog).

The reference workspace's only binary is its CLI (reference
Cargo.toml:7-9; karna-cli/src/main.rs:1-3 — the template "Hello,
world!"), intended as the terminal path into the same engine the web
server fronts (SURVEY.md §3.1). This module is that path for the
Spark-native engine:

    python -m karna_spark "SELECT n_name FROM nation ORDER BY n_name" \
        --fixtures /root/testdata/sf0.001
    python -m karna_spark --nl "count of orders by order status" ...
    python -m karna_spark --graphql "query { nation { n_name } }" ...
    python -m karna_spark --register sales=/data/sales.parquet \
        --metastore ~/.karna_spark/metastore.json "SELECT ... FROM sales"

All three front-ends converge on the same session catalog; results are
fetched as ONE bounded page (io.sinks) — the CLI never collects an
unbounded result set.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m karna_spark",
        description="Query tabular files (CSV/TSV/Parquet) with SQL, GraphQL "
        "or natural language on Spark.",
    )
    p.add_argument("query", nargs="?", help="query text (SQL unless --graphql/--nl)")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--graphql", action="store_true", help="treat query as GraphQL")
    mode.add_argument("--nl", action="store_true", help="treat query as natural language")
    p.add_argument(
        "--register",
        action="append",
        default=[],
        metavar="NAME=PATH",
        help="register a dataset before running (repeatable); persisted "
        "when --metastore is given, session-only otherwise",
    )
    p.add_argument("--fixtures", metavar="DIR", help="register the fixture tables from DIR")
    p.add_argument("--metastore", metavar="PATH", help="attach datasets from a durable metastore")
    p.add_argument("--limit", type=int, default=100, help="max rows to print (default 100)")
    p.add_argument(
        "--format",
        choices=("jsonl", "table"),
        default="jsonl",
        dest="fmt",
        help="output format: JSON lines (default) or an ASCII table",
    )
    p.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    p.add_argument("--list-datasets", action="store_true", help="list metastore datasets and exit")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from karna_spark.metastore import Metastore

    if args.list_datasets:
        ms = Metastore(args.metastore) if args.metastore else Metastore()
        for rec in ms.list():
            print(json.dumps({"name": rec.name, "path": rec.path, "fmt": rec.fmt}))
        return 0

    if not args.query:
        print("error: no query given (see --help)", file=sys.stderr)
        return 2

    from karna_spark import intermediates
    from karna_spark.catalog import load_fixture_tables, register
    from karna_spark.session import get_spark

    spark = get_spark(app_name="karna-cli")

    ms = Metastore(args.metastore) if args.metastore else None
    if ms:
        ms.attach(spark)
    if args.fixtures:
        load_fixture_tables(spark, args.fixtures)
    for spec in args.register:
        name, _, path = spec.partition("=")
        if not path:
            print(f"error: --register wants NAME=PATH, got {spec!r}", file=sys.stderr)
            return 2
        if ms:
            ms.register(spark, name, path)
        else:
            register(spark, name, path)

    # The HTTP route's dispatch: --metastore rides along, so GraphQL
    # mutations are durable, FK edges nest and NL questions join
    # through them, as over POST /query.
    from karna_spark.server import _run_query

    language = "graphql" if args.graphql else "nl" if args.nl else "sql"
    # What the front-end persists to build the result is released once
    # it is printed (karna_spark.intermediates).
    with intermediates.scope():
        try:
            df = _run_query(spark, {"language": language, "query": args.query}, ms)
        except Exception as e:  # translator/parse errors are user errors
            print(f"error: {e}", file=sys.stderr)
            return 1

        if args.explain:
            print(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ))
            return 0

        if args.fmt == "table":
            df.show(args.limit, truncate=False)
            return 0
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(recursive=True), default=str, sort_keys=True))
        return 0


if __name__ == "__main__":
    sys.exit(main())
