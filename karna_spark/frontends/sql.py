"""SQL front-end: the primary declared query surface.

"query tabular files like CSV, TSV or parquet using SQL" (reference
README.md:2). On Spark this surface is essentially free — parser,
analyzer, optimizer, and execution are the built-in Catalyst lifecycle
(SURVEY.md §3.2) — so this module is deliberately thin: registration +
execution + a guard that keeps the surface read-only (the reference is
a query engine over files, not a mutable store).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from karna_spark.catalog import load_fixture_tables, register

# Statements a query-over-files engine must not accept: anything that
# mutates state. (SELECT/WITH/VALUES/EXPLAIN/SHOW/DESCRIBE are fine.)
_FORBIDDEN_PREFIXES = (
    "insert",
    "update",
    "delete",
    "merge",
    "drop",
    "create",
    "alter",
    "truncate",
    "set",
)


class SQLFrontendError(ValueError):
    pass


# Iceberg/Delta SQL time-travel clauses over snapshot-store tables:
#   SELECT ... FROM t VERSION AS OF 3 [AS alias]
#   SELECT ... FROM t TIMESTAMP AS OF '2026-01-01T00:00:00' [AS alias]
# The optional trailing alias is captured so a user-written alias is
# preserved instead of being glued onto the rewritten view name.
_KEYWORDS = (
    "WHERE|GROUP|ORDER|JOIN|LEFT|RIGHT|FULL|INNER|CROSS|ON|UNION|"
    "EXCEPT|INTERSECT|LIMIT|HAVING|WINDOW|VERSION|TIMESTAMP|AND|OR"
)
_ALIAS = rf"(?:\s+(?:AS\s+)?(?!(?:{_KEYWORDS})\b)(\w+))?"
_VERSION_RE = re.compile(
    rf"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+){_ALIAS}", re.I
)
# the timestamp itself is a string literal; after literal-masking it
# appears as a \x00<idx>\x01 placeholder, which this pattern matches
_TS_RE = re.compile(
    rf"\b(\w+)\s+TIMESTAMP\s+AS\s+OF\s+\x00(\d+)\x01{_ALIAS}", re.I
)
# bare snapshot references are only resolved in relation position
_FROM_POS = "(?:FROM|JOIN)"
# single-quoted SQL string literals ('' is the escaped quote)
_LITERAL_RE = re.compile(r"'(?:[^']|'')*'")


def _read_only_guard(spark: SparkSession, sql_text: str) -> None:
    """Reject mutating statements. The cheap prefix check catches the
    plain forms; the parser check catches the smuggled ones (e.g. a
    leading WITH clause in front of an INSERT — ``WITH x AS (...)
    INSERT ...`` starts with an allowed token but is still DML). The
    parsed plan's node class names a command; pure queries and the
    explicitly allowed inspection commands pass."""
    head = sql_text.lstrip().split(None, 1)
    if head and head[0].lower() in _FORBIDDEN_PREFIXES:
        raise SQLFrontendError(
            f"read-only surface: {head[0].upper()} not allowed"
        )
    try:
        plan = (
            spark._jsparkSession.sessionState()
            .sqlParser()
            .parsePlan(sql_text)
        )
        node = plan.getClass().getSimpleName()
        tree = plan.toString()
    except SQLFrontendError:
        raise
    except Exception:
        # parser internals unreachable (e.g. a Connect session): the
        # prefix check above remains the guard, and spark.sql itself
        # will reject unparseable text
        return
    allowed = ("Explain", "Show", "Describe", "Desc")
    if node.startswith(allowed):
        return
    if (
        node.endswith(("Command", "Statement"))
        or "Insert" in node
        or "Write" in node
    ):
        raise SQLFrontendError(
            f"read-only surface: statement parses to {node}, "
            "which mutates state"
        )
    # the root alone is not enough: a CTE wraps its body, so
    # 'WITH x AS (...) INSERT ...' roots at UnresolvedWith — scan the
    # parsed TREE for mutating nodes (node names start at a line head
    # or after the tree-drawing prefix, so a table named 'insert_log'
    # inside UnresolvedRelation [...] cannot false-positive)
    mutating = re.compile(
        r"(?:^|[-: ])'?(?:InsertInto\w*|CreateTable\w*|DropTable\w*|"
        r"AlterTable\w*|DeleteFrom\w*|UpdateTable\w*|MergeInto\w*|"
        r"TruncateTable\w*|WriteTo\w*)\b",
        re.M,
    )
    m = mutating.search(tree)
    if m:
        raise SQLFrontendError(
            f"read-only surface: statement contains a mutating "
            f"operation ({m.group(0).strip().lstrip(chr(39))})"
        )


def _mask_literals(sql_text: str) -> tuple[str, list[str]]:
    """Replace every string literal with a ``\\x00<idx>\\x01``
    placeholder so rewrites never touch literal contents (a literal
    containing 'VERSION AS OF' is data, not syntax), while the
    TIMESTAMP clause — whose timestamp IS a literal — can still be
    recognized via its placeholder."""
    lits: list[str] = []

    def keep(m: "re.Match") -> str:
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x01"

    return _LITERAL_RE.sub(keep, sql_text), lits


def _unmask_literals(masked: str, lits: list[str]) -> str:
    return re.sub(
        "\x00(\\d+)\x01", lambda m: lits[int(m.group(1))], masked
    )


def execute(
    spark: SparkSession,
    sql_text: str,
    snapshots: "dict | None" = None,
) -> DataFrame:
    """Run one read-only SQL statement against registered datasets.

    ``snapshots`` maps table names to ``SnapshotStore`` instances and
    enables Iceberg's SQL time-travel syntax over them: ``t VERSION AS
    OF <n>`` reads the pinned manifest version, ``t TIMESTAMP AS OF
    '<iso>'`` resolves the newest version committed at or before the
    (UTC) timestamp, and a bare ``t`` in FROM/JOIN position reads the
    latest. Each pinned reference becomes its own temp view aliased
    back to the original name (user-written aliases are preserved), so
    qualified columns like ``t.k`` keep resolving and ONE statement
    can join or EXCEPT several versions of the same table — the SQL
    form of a snapshot diff. (Two pins of one table in the SAME scope
    need explicit aliases, exactly as in Iceberg.) Rewrites skip
    string literals. Resolution is manifest-only (driver-side JSON
    reads); the scan itself stays partition-pruned exactly like
    ``store.read``.

    ``DESCRIBE HISTORY <t>`` (Delta's audit verb) returns the bound
    store's operation log as a DataFrame (:meth:`SnapshotStore.
    history_df`) — driver-side manifest reads only, zero data I/O."""
    m = re.match(r"(?i)^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*$", sql_text)
    if m:
        name = m.group(1)
        if not snapshots or name not in snapshots:
            raise SQLFrontendError(
                f"DESCRIBE HISTORY on unregistered snapshot table {name!r}"
            )
        return snapshots[name].history_df(spark)
    _read_only_guard(spark, sql_text)
    if snapshots:
        def _resolve_ts_version(store, ts: str) -> int:
            import datetime

            try:
                dt = datetime.datetime.fromisoformat(ts)
            except ValueError as e:
                raise SQLFrontendError(f"bad timestamp literal {ts!r}: {e}")
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=datetime.timezone.utc)
            try:
                return store.version_as_of(dt.timestamp())
            except ValueError:
                raise SQLFrontendError(
                    f"no snapshot version committed at or before {ts!r}"
                ) from None

        def _version_view(name: str, v: int, alias: "str | None") -> str:
            if name not in snapshots:
                raise SQLFrontendError(
                    f"time travel on unregistered snapshot table {name!r}"
                )
            view = f"{name}__v{v}"
            snapshots[name].read(spark, version=v).createOrReplaceTempView(view)
            return f"{view} AS {alias or name}"

        def _pin_version(m: "re.Match") -> str:
            return _version_view(m.group(1), int(m.group(2)), m.group(3))

        masked, lits = _mask_literals(sql_text)

        def _pin_ts(m: "re.Match") -> str:
            name, alias = m.group(1), m.group(3)
            if name not in snapshots:
                raise SQLFrontendError(
                    f"time travel on unregistered snapshot table {name!r}"
                )
            # unwrap the masked literal ('' is the escaped quote)
            ts = lits[int(m.group(2))][1:-1].replace("''", "'")
            return _version_view(name, _resolve_ts_version(snapshots[name], ts), alias)

        masked = _VERSION_RE.sub(_pin_version, masked)
        masked = _TS_RE.sub(_pin_ts, masked)
        for name, store in snapshots.items():
            # bare references read the latest — resolved only in
            # relation (FROM/JOIN) position and outside literals, so a
            # same-named column or a literal mention cannot clobber an
            # existing session view
            pat = re.compile(
                rf"\b{_FROM_POS}\s+{re.escape(name)}\b", re.I
            )
            if pat.search(masked):
                store.read(spark).createOrReplaceTempView(name)
        sql_text = _unmask_literals(masked, lits)
    return spark.sql(sql_text)


def session_with_fixtures(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Register the fixture tables and return the session — the one-call
    setup all three front-ends (SQL / GraphQL / NL) share."""
    load_fixture_tables(spark, sf_dir)
    return spark


__all__ = ["execute", "register", "session_with_fixtures", "SQLFrontendError"]
