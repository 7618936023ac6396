"""GraphQL front-end: GraphQL query text → Spark DataFrame plan.

The reference declares GraphQL as one of its three query surfaces
("query tabular files like CSV, TSV or parquet using SQL, GraphQL and
Natural Language", reference README.md:2) with no implementation
(karna-core/src/lib.rs:1-14 is the cargo template). This module is the
Spark-native realization (SURVEY.md §2.10): parse with the public
``graphql-core`` library, walk the selection set, and emit *declarative*
DataFrame operations — Catalyst then owns pushdown, join strategy and
limit fusion exactly as it does for the SQL surface.

Mapping (hasura-inspired, all public GraphQL syntax):

- root field           → registered table (catalog.FIXTURE_TABLES or
                         any temp view)
- scalar selections    → ``select`` (column pruning reaches the scan)
- ``where:`` argument  → ``filter``; operators eq/neq/gt/gte/lt/lte/
                         in_/like/isNull, combinators AND/OR/NOT
- ``orderBy:``         → ``orderBy`` (list of {col: ASC|DESC})
- ``limit:``/``offset:`` → ``limit``/``offset`` (Catalyst plans
                         TakeOrderedAndProject when fused with orderBy)
- nested many-to-one   → broadcast left join to the parent dimension;
                         emitted as a struct column (API mode) or as
                         flattened leaf columns (``flat=True``, the
                         oracle-checkable mode)
- nested one-to-many   → groupBy(parent keys) + sorted collect_list of
                         structs (relay-style nesting)
- ``<table>_aggregate(groupBy: [...])`` → groupBy + count/sum/avg/
                         min/max sub-selections, flat output
- ``$variables``       → resolved against the caller's bindings (+
                         declared defaults) before translation
- fragments            → named (``...f``) and inline (``... { }``)
                         spreads expanded before translation

Scale: joins to dimension parents are explicitly ``F.broadcast`` —
every relationship in REL_SCHEMA points at a dimension table orders of
magnitude smaller than the fact side, so at 100 TB the plan stays
shuffle-free for nesting; one-to-many nesting shuffles once on the
parent key (unavoidable for the semantics). The translator itself is
driver-side metadata work only.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # public graphql-core; gated so the engine imports without it
    from graphql import GraphQLSyntaxError
    from graphql import parse as gql_parse
    from graphql.language import ast as gql_ast

    HAVE_GRAPHQL = True
except Exception:  # pragma: no cover
    HAVE_GRAPHQL = False


@dataclass(frozen=True)
class ManyToOne:
    """child.fk_col → parent_table.parent_col (dimension lookup)."""

    fk_col: str
    parent_table: str
    parent_col: str


@dataclass(frozen=True)
class OneToMany:
    """parent.parent_col ← child_table.child_col (fact expansion)."""

    child_table: str
    child_col: str
    parent_col: str


# Relationship vocabulary over the fixture star schema (FIXTURES.md).
# Field name → relationship; resolved against the session catalog.
# User-registered datasets extend it via ``rel_schema_from_metastore``
# (declared FK edges on DatasetRecord) — scalar queries over any
# registered view need no relationship metadata at all.
REL_SCHEMA: dict[str, dict[str, ManyToOne | OneToMany]] = {
    "nation": {
        "region": ManyToOne("n_regionkey", "region", "r_regionkey"),
        "customers": OneToMany("customer", "c_nationkey", "n_nationkey"),
        "suppliers": OneToMany("supplier", "s_nationkey", "n_nationkey"),
    },
    "customer": {
        "nation": ManyToOne("c_nationkey", "nation", "n_nationkey"),
        "orders": OneToMany("orders", "o_custkey", "c_custkey"),
    },
    "supplier": {
        "nation": ManyToOne("s_nationkey", "nation", "n_nationkey"),
        "lineitems": OneToMany("lineitem", "l_suppkey", "s_suppkey"),
    },
    "orders": {
        "customer": ManyToOne("o_custkey", "customer", "c_custkey"),
        "lineitems": OneToMany("lineitem", "l_orderkey", "o_orderkey"),
    },
    "lineitem": {
        "order": ManyToOne("l_orderkey", "orders", "o_orderkey"),
        "part": ManyToOne("l_partkey", "part", "p_partkey"),
        "supplier": ManyToOne("l_suppkey", "supplier", "s_suppkey"),
    },
    "part": {
        "lineitems": OneToMany("lineitem", "l_partkey", "p_partkey"),
    },
}

def rel_schema_from_metastore(metastore) -> dict:
    """Fixture REL_SCHEMA extended with relationships derived from the
    metastore's declared FK edges: each ``[fk_col, parent_table,
    parent_col]`` on a registered dataset yields a many-to-one field
    named after the parent table on the child, and a one-to-many field
    named after the child (pluralized) on the parent — the same
    hasura-style convention the fixture schema uses."""
    schema = {t: dict(fields) for t, fields in REL_SCHEMA.items()}
    for rec in metastore.list():
        child = rec.name.lower()
        for fk_col, parent_table, parent_col in rec.foreign_keys:
            parent = parent_table.lower()
            schema.setdefault(child, {}).setdefault(
                parent, ManyToOne(fk_col, parent, parent_col)
            )
            reverse = child if child.endswith("s") else child + "s"
            schema.setdefault(parent, {}).setdefault(
                reverse, OneToMany(child, fk_col, parent_col)
            )
    return schema


_COMPARISONS = {
    "eq": lambda c, v: c == v,
    "neq": lambda c, v: c != v,
    "gt": lambda c, v: c > v,
    "gte": lambda c, v: c >= v,
    "lt": lambda c, v: c < v,
    "lte": lambda c, v: c <= v,
    "in_": lambda c, v: c.isin(v),
    "like": lambda c, v: c.like(v),
    "isNull": lambda c, v: c.isNull() if v else c.isNotNull(),
}


class GraphQLError(ValueError):
    pass


def _value(node, variables: dict | None = None) -> object:
    """GraphQL value AST → Python value. ``variables`` holds the
    operation's resolved variable bindings; a ``$var`` reference
    outside the declared set is an error (never a silent null)."""
    if isinstance(node, gql_ast.VariableNode):
        if variables is None or node.name.value not in variables:
            raise GraphQLError(f"unbound variable ${node.name.value}")
        return variables[node.name.value]
    if isinstance(node, gql_ast.IntValueNode):
        return int(node.value)
    if isinstance(node, gql_ast.FloatValueNode):
        return float(node.value)
    if isinstance(node, gql_ast.StringValueNode):
        return node.value
    if isinstance(node, gql_ast.BooleanValueNode):
        return node.value
    if isinstance(node, gql_ast.NullValueNode):
        return None
    if isinstance(node, gql_ast.EnumValueNode):
        return node.value
    if isinstance(node, gql_ast.ListValueNode):
        return [_value(v, variables) for v in node.values]
    if isinstance(node, gql_ast.ObjectValueNode):
        return {f.name.value: _value(f.value, variables) for f in node.fields}
    raise GraphQLError(f"unsupported GraphQL value: {node!r}")


def _resolve_variables(op, provided: dict | None) -> dict:
    """Operation variable definitions + caller-provided values →
    {name: python value}. Defaults fill omitted variables; a missing
    non-null variable and a provided-but-undeclared name both error
    (the two mistakes real GraphQL clients actually make)."""
    remaining = dict(provided or {})
    resolved: dict[str, object] = {}
    for vd in op.variable_definitions or ():
        vname = vd.variable.name.value
        if vname in remaining:
            resolved[vname] = remaining.pop(vname)
        elif vd.default_value is not None:
            resolved[vname] = _value(vd.default_value)
        elif isinstance(vd.type, gql_ast.NonNullTypeNode):
            raise GraphQLError(f"missing required variable ${vname}")
        else:
            resolved[vname] = None
    if remaining:
        raise GraphQLError(f"undeclared variables: {sorted(remaining)}")
    return resolved


def _directive_keeps(sel, variables: dict | None) -> bool:
    """Evaluate ``@skip(if:)`` / ``@include(if:)`` on a selection —
    the two spec-defined execution directives every client library
    emits (conditional fields are how clients share one query across
    UI states). The argument may be a literal boolean or a ``$var``;
    per spec, a selection with both directives is kept only when
    @skip says keep AND @include says keep. Unknown directives error
    loudly rather than silently altering results."""
    keep = True
    for d in getattr(sel, "directives", None) or ():
        dname = d.name.value
        if dname not in ("skip", "include"):
            raise GraphQLError(f"unsupported directive @{dname}")
        args = {a.name.value: _value(a.value, variables) for a in d.arguments}
        if set(args) != {"if"} or not isinstance(args["if"], bool):
            raise GraphQLError(f"@{dname} requires a boolean 'if' argument")
        keep = keep and (not args["if"] if dname == "skip" else args["if"])
    return keep


def _inline_fragments(
    sel_set, fragments: dict, variables: dict | None = None, depth: int = 0
) -> None:
    """Replace every FragmentSpread / InlineFragment in ``sel_set``
    (recursively) with the fragment's own selections, in place, so the
    translator walks plain fields only — dropping any selection whose
    @skip/@include directives exclude it (evaluated here, against the
    resolved variables, so the emitted plan is byte-identical to the
    hand-pruned query). Type conditions are not
    enforced — this engine has no GraphQL type system; a fragment's
    selections must name real columns/relationships of wherever it is
    spread, and resolution errors surface exactly as for inline
    fields. Depth cap catches fragment cycles (A spreads B spreads A),
    which the GraphQL spec forbids."""
    if sel_set is None:
        return
    if depth > 32:
        raise GraphQLError("fragment nesting too deep (cycle?)")
    new_sels: list = []
    for sel in sel_set.selections:
        if not _directive_keeps(sel, variables):
            continue
        if isinstance(sel, gql_ast.FragmentSpreadNode):
            frag = fragments.get(sel.name.value)
            if frag is None:
                raise GraphQLError(f"unknown fragment ...{sel.name.value}")
            _inline_fragments(frag.selection_set, fragments, variables, depth + 1)
            new_sels.extend(frag.selection_set.selections)
        elif isinstance(sel, gql_ast.InlineFragmentNode):
            _inline_fragments(sel.selection_set, fragments, variables, depth + 1)
            new_sels.extend(sel.selection_set.selections)
        else:
            _inline_fragments(sel.selection_set, fragments, variables, depth)
            new_sels.append(sel)
    sel_set.selections = tuple(new_sels)


def _where_expr(cond: dict) -> Column:
    """``where:`` object → boolean Column. Keys are ANDed; AND/OR/NOT
    combinators recurse."""
    terms: list[Column] = []
    for key, val in cond.items():
        if key == "AND":
            terms.extend(_where_expr(c) for c in val)
        elif key == "OR":
            ors = [_where_expr(c) for c in val]
            acc = ors[0]
            for o in ors[1:]:
                acc = acc | o
            terms.append(acc)
        elif key == "NOT":
            terms.append(~_where_expr(val))
        else:  # column → {op: value, ...}
            if not isinstance(val, dict):
                raise GraphQLError(f"filter for {key!r} must be an operator object")
            for op, v in val.items():
                if op not in _COMPARISONS:
                    raise GraphQLError(f"unknown operator {op!r} on {key!r}")
                terms.append(_COMPARISONS[op](F.col(key), v))
    if not terms:
        return F.lit(True)
    acc = terms[0]
    for t in terms[1:]:
        acc = acc & t
    return acc


def _order_cols(order_by: list) -> list[Column]:
    cols = []
    for item in order_by:
        for col, direction in item.items():
            c = F.col(col)
            cols.append(c.desc() if str(direction).upper() == "DESC" else c.asc())
    return cols


def _field_args(field, variables: dict | None = None) -> dict:
    return {a.name.value: _value(a.value, variables) for a in field.arguments or ()}


def _read(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)


def _translate_table_field(
    spark: SparkSession,
    field,
    table: str,
    flat: bool,
    rel_schema: dict,
    variables: dict | None = None,
) -> DataFrame:
    """One root (or nested) table field → DataFrame."""
    df = _read(spark, table)
    args = _field_args(field, variables)
    if "where" in args:
        df = df.filter(_where_expr(args["where"]))

    rels = rel_schema.get(table, {})
    out_cols: list[Column] = []
    list_fields: list[tuple[str, OneToMany, object]] = []
    for sel in field.selection_set.selections:
        fname = sel.name.value
        if sel.selection_set is None:  # scalar leaf
            out_cols.append(F.col(fname))
            continue
        rel = rels.get(fname)
        if rel is None:
            raise GraphQLError(f"unknown relationship {table}.{fname}")
        if isinstance(rel, ManyToOne):
            parent_leafs = [
                s.name.value for s in sel.selection_set.selections if s.selection_set is None
            ]
            nested_rels = [
                s for s in sel.selection_set.selections if s.selection_set is not None
            ]
            parent = _read(spark, rel.parent_table)
            # second-level many-to-one nesting (e.g. customer→nation→region)
            for nsel in nested_rels:
                nrel = rel_schema.get(rel.parent_table, {}).get(nsel.name.value)
                if not isinstance(nrel, ManyToOne):
                    raise GraphQLError(
                        f"unsupported nesting {rel.parent_table}.{nsel.name.value}"
                    )
                nleafs = [
                    s.name.value
                    for s in nsel.selection_set.selections
                    if s.selection_set is None
                ]
                gparent = _read(spark, nrel.parent_table).select(nrel.parent_col, *nleafs)
                parent = parent.join(
                    F.broadcast(gparent),
                    parent[nrel.fk_col] == gparent[nrel.parent_col],
                    "left",
                ).drop(gparent[nrel.parent_col])
                parent_leafs.extend(nleafs)
            parent = parent.select(rel.parent_col, *parent_leafs)
            # Dimension side is small by construction → broadcast: no
            # shuffle of the (potentially 100 TB) child side.
            df = df.join(
                F.broadcast(parent), df[rel.fk_col] == parent[rel.parent_col], "left"
            ).drop(parent[rel.parent_col])
            if flat:
                out_cols.extend(F.col(c) for c in parent_leafs)
            else:
                out_cols.append(F.struct(*[F.col(c) for c in parent_leafs]).alias(fname))
        else:  # OneToMany → relay-style nested list
            list_fields.append((fname, rel, sel))

    if not list_fields:
        out = df.select(*out_cols)
    else:
        # One-to-many nesting: one shuffle on the parent key, then the
        # children arrive as a deterministic (sorted) array of structs.
        out = df
        scalar_names = [c for c in out.columns]
        for fname, rel, sel in list_fields:
            leafs = [
                s.name.value for s in sel.selection_set.selections if s.selection_set is None
            ]
            child = _read(spark, rel.child_table).select(rel.child_col, *leafs)
            child_agg = (
                child.groupBy(rel.child_col)
                .agg(
                    F.sort_array(
                        F.collect_list(F.struct(*[F.col(c) for c in leafs]))
                    ).alias(fname)
                )
            )
            list_type = child_agg.schema[fname].dataType
            out = out.join(
                child_agg, out[rel.parent_col] == child_agg[rel.child_col], "left"
            ).drop(child_agg[rel.child_col])
            # A parent with zero children misses the join entirely →
            # NULL array. GraphQL list semantics (and SQL's
            # list(...) FILTER idiom) say empty list, not null.
            out = out.withColumn(
                fname, F.coalesce(F.col(fname), F.array().cast(list_type))
            )
        keep = [c for c in out_cols] + [F.col(f) for f, _, _ in list_fields]
        out = out.select(*keep)

    if "orderBy" in args:
        out = out.orderBy(*_order_cols(args["orderBy"]))
    if "offset" in args:
        out = out.offset(int(args["offset"]))
    if "limit" in args:
        out = out.limit(int(args["limit"]))
    return out


_AGG_FNS = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}


def _translate_aggregate_field(
    spark: SparkSession, field, table: str, variables: dict | None = None
) -> DataFrame:
    """``<table>_aggregate(groupBy: [...])`` → groupBy + aggregates.

    Catalyst compiles this to the standard partial/final hash aggregate
    — map-side combine first, so the shuffle carries one row per
    (partition, group), not per input row.
    """
    df = _read(spark, table)
    args = _field_args(field, variables)
    if "where" in args:
        df = df.filter(_where_expr(args["where"]))
    group_cols = [str(c) for c in args.get("groupBy", [])]

    aggs: list[Column] = []
    for sel in field.selection_set.selections:
        fname = sel.name.value
        if fname == "count":
            aggs.append(F.count(F.lit(1)).alias("count"))
        elif fname in _AGG_FNS:
            if sel.selection_set is None:
                raise GraphQLError(f"{fname} needs a column selection set")
            for leaf in sel.selection_set.selections:
                col = leaf.name.value
                aggs.append(_AGG_FNS[fname](F.col(col)).alias(f"{fname}_{col}"))
        elif sel.selection_set is None and fname in group_cols:
            continue  # group key re-selected — always emitted
        else:
            raise GraphQLError(f"unsupported aggregate selection {fname!r}")
    if not aggs:
        raise GraphQLError("aggregate field selects no aggregates")

    if group_cols:
        out = df.groupBy(*group_cols).agg(*aggs)
    else:
        out = df.agg(*aggs)
    if "orderBy" in args:
        out = out.orderBy(*_order_cols(args["orderBy"]))
    if "limit" in args:
        out = out.limit(int(args["limit"]))
    return out


def _translate_mutation(
    spark: SparkSession, root, variables: dict | None, metastore
) -> DataFrame:
    """GraphQL MUTATION surface (r11 verdict item 6): the write verbs
    the reference's web console implies (Postgres-backed catalog,
    reference docker-compose.yaml:2-19) exposed through GraphQL with
    plan/behavior parity to the REST paths (``POST /datasets`` /
    ``POST /queries`` in server.py — same metastore calls, same
    catalog effects, asserted in tests/test_frontends.py):

    - ``registerDataset(name, path, fmt, foreignKeys: [{column,
      refTable, refColumn}])`` → durable metastore record (or
      session-only catalog bind when no metastore is attached) +
      immediate session registration — the dataset is instantly
      queryable by every front-end;
    - ``saveQuery(name, language, query)`` → named saved query;
    - ``dropDataset(name)`` / ``dropQuery(name)`` → removal.

    Each returns a 1-row DataFrame of the mutation's selection fields
    (GraphQL's mutation-payload shape) — driver-side metadata work
    only, zero cluster jobs."""
    name = root.name.value
    args = _field_args(root, variables)
    sels = [s.name.value for s in (root.selection_set.selections
                                   if root.selection_set else ())] or ["name"]
    result: dict[str, object]
    if name == "registerDataset":
        ds = args.get("name")
        path = args.get("path")
        if not ds or not path:
            raise GraphQLError(
                "registerDataset needs 'name' and 'path' arguments"
            )
        # FK edges in metastore triple form [fk_col, parent_table,
        # parent_col] — accepts GraphQL object fields or plain triples
        # (the REST body shape), so both surfaces feed the same record
        fks = []
        for f in args.get("foreignKeys") or []:
            if isinstance(f, (list, tuple)):
                fks.append(list(f))
            elif isinstance(f, dict) and "column" in f:
                fks.append(
                    [f["column"], f.get("refTable"), f.get("refColumn")]
                )
            else:
                raise GraphQLError(
                    "each foreignKeys entry needs {column, refTable, "
                    "refColumn}" + f" (got {f!r})"
                )
        if metastore is not None:
            metastore.register(
                spark, ds, path, fmt=args.get("fmt"), foreign_keys=fks
            )
        else:
            if fks:
                raise GraphQLError(
                    "foreignKeys need a metastore (durable FK edges); "
                    "attach one or register without them"
                )
            from karna_spark.catalog import register

            register(spark, ds, path, fmt=args.get("fmt"))
        result = {"name": ds, "registered": True, "path": path}
    elif name == "saveQuery":
        if metastore is None:
            raise GraphQLError("saveQuery needs an attached metastore")
        ds, text = args.get("name"), args.get("query")
        if not ds or not text:
            raise GraphQLError("saveQuery needs 'name' and 'query'")
        metastore.save_query(ds, args.get("language", "sql"), text)
        result = {"name": ds, "saved": True}
    elif name == "dropDataset":
        if metastore is None:
            raise GraphQLError("dropDataset needs an attached metastore")
        result = {
            "name": args.get("name"),
            "dropped": metastore.drop(args.get("name")),
        }
    elif name == "dropQuery":
        if metastore is None:
            raise GraphQLError("dropQuery needs an attached metastore")
        result = {
            "name": args.get("name"),
            "dropped": metastore.drop_query(args.get("name")),
        }
    else:
        raise GraphQLError(
            f"unknown mutation {name!r}: supported are registerDataset, "
            "saveQuery, dropDataset, dropQuery"
        )
    unknown = [s for s in sels if s not in result]
    if unknown:
        raise GraphQLError(
            f"mutation {name!r} has no payload field(s) {unknown}; "
            f"available: {sorted(result)}"
        )
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField(
            s,
            BooleanType() if isinstance(result[s], bool) else StringType(),
            True,
        )
        for s in sels
    ])
    return spark.createDataFrame([tuple(result[s] for s in sels)], schema)


def translate(
    spark: SparkSession,
    query_text: str,
    flat: bool = False,
    rel_schema: dict | None = None,
    variables: dict | None = None,
    metastore=None,
) -> DataFrame:
    """GraphQL query document → DataFrame (single root field).

    ``flat=True`` flattens many-to-one nesting into leaf columns (the
    shape plain SQL joins produce — used by the oracle-checked parity
    queries); default emits nested structs/arrays (the API shape).

    The root field may name ANY table registered in the session catalog
    (scalar selections, where/orderBy/limit and ``_aggregate`` need no
    metadata). Relationship fields resolve against ``rel_schema`` —
    defaults to the fixture star schema; pass
    ``rel_schema_from_metastore(ms)`` to nest user-registered datasets
    along their declared FK edges.

    ``variables`` binds the operation's declared ``$variables`` —
    the wire shape every real GraphQL client library sends
    (query text + separate JSON variables). Defaults declared in the
    operation fill omitted names; a missing non-null variable or an
    undeclared provided name is an error. Named fragments
    (``fragment f on T { ... }`` + ``...f``) and inline fragments are
    expanded before translation, so fragment-factored clients (Relay,
    Apollo codegen) work unchanged. Variable substitution and fragment
    inlining are driver-side text/AST work — the emitted plan is
    byte-identical to the equivalent inline query, so Catalyst sees no
    difference at any scale.
    """
    if not HAVE_GRAPHQL:  # pragma: no cover
        raise GraphQLError("graphql-core not available in this environment")
    if rel_schema is None:
        rel_schema = REL_SCHEMA
    try:
        doc = gql_parse(query_text)
    except GraphQLSyntaxError as e:
        raise GraphQLError(str(e)) from e
    ops = [d for d in doc.definitions if isinstance(d, gql_ast.OperationDefinitionNode)]
    if len(ops) != 1 or ops[0].operation.value not in ("query", "mutation"):
        raise GraphQLError("expected exactly one query or mutation operation")
    if ops[0].operation.value == "mutation":
        roots_m = ops[0].selection_set.selections
        if len(roots_m) != 1:
            raise GraphQLError("expected exactly one mutation root field")
        return _translate_mutation(
            spark, roots_m[0], _resolve_variables(ops[0], variables),
            metastore,
        )
    fragments = {
        d.name.value: d
        for d in doc.definitions
        if isinstance(d, gql_ast.FragmentDefinitionNode)
    }
    resolved_vars = _resolve_variables(ops[0], variables)
    _inline_fragments(ops[0].selection_set, fragments, resolved_vars)
    roots = ops[0].selection_set.selections
    if len(roots) != 1:
        raise GraphQLError("expected exactly one root field")
    root = roots[0]
    name = root.name.value
    if name.endswith("_aggregate"):
        return _translate_aggregate_field(
            spark, root, name[: -len("_aggregate")], resolved_vars
        )
    return _translate_table_field(
        spark, root, name, flat, rel_schema, resolved_vars
    )
