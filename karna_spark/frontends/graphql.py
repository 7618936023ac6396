"""GraphQL front-end: GraphQL query text → one SQL text + bound parameters.

The reference declares GraphQL as one of its three query surfaces
("query tabular files like CSV, TSV or parquet using SQL, GraphQL and
Natural Language", reference README.md:2) with no implementation
(karna-core/src/lib.rs:1-14 is the cargo template). This module is the
Spark-native realization (SURVEY.md §2.10): parse with the public
``graphql-core`` library, resolve variables, fragments and
``@skip``/``@include`` on the AST, and emit one SQL text (``to_sql``),
the target the NL front-end compiles to as well. ``spark.sql`` analyzes
it once; Catalyst then owns pushdown, join strategy and limit fusion
exactly as it does for the SQL surface.

Mapping (hasura-inspired, all public GraphQL syntax; ``t0`` aliases the
root table, ``:pN`` are bound parameters):

- root field ``t``, scalar ``c`` → ``SELECT t0.`c` … FROM `t` t0``
  (any table or temp view in the session catalog)
- ``where:`` → ``WHERE`` over t0: eq/neq/gt/gte/lt/lte/like →
  ``= <> > >= < <= LIKE :pN``; ``in_`` → ``IN (:p0, …)`` (``[]`` →
  ``FALSE``); isNull → ``IS [NOT] NULL``; AND/OR/NOT combine
- ``orderBy:``/``limit:``/``offset:`` → ``ORDER BY `c` ASC|DESC``/
  ``LIMIT n``/``OFFSET n`` (offset needs orderBy)
- nested many-to-one → ``/*+ BROADCAST */ LEFT JOIN`` to the parent,
  selected as ``struct(...)`` of its leafs (API mode) or as the plain
  leafs (``flat=True``, the oracle-checkable mode); a deeper
  many-to-one level adds its leafs to the same struct
- nested one-to-many → ``LEFT JOIN`` to a ``GROUP BY child_col``
  subquery of ``sort_array(collect_list(struct(...)))``, selected as
  ``coalesce(…, array())``
- ``<t>_aggregate(groupBy: [...])`` → ``GROUP BY`` with
  ``COUNT(1) AS count`` and ``sum_<c>``-style sum/avg/min/max aliases

Every user value is a named parameter (``:p0``, ``:p1``, …), never
spliced into the text. Every identifier is backquoted with inner
backticks doubled: ``groupBy:`` names and variable-supplied keys are
arbitrary strings. Malformed arguments raise ``GraphQLError``.
Mutations are metastore calls, not queries, and run directly.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

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
    emitter walks plain fields only — dropping any selection whose
    @skip/@include directives exclude it (evaluated here, against the
    resolved variables, so the emitted SQL is that of the
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


_COMPARE = {"eq": "=", "neq": "<>", "gt": ">", "gte": ">=", "lt": "<", "lte": "<=", "like": "LIKE"}


def _ident(name) -> str:
    """Backquoted SQL identifier; a backtick inside it is doubled."""
    if not isinstance(name, str):
        raise GraphQLError(f"expected a column or table name, got {name!r}")
    return "`" + name.replace("`", "``") + "`"


def _field_args(field, variables: dict | None = None) -> dict:
    return {a.name.value: _value(a.value, variables) for a in field.arguments or ()}


def _selections(field) -> tuple:
    """A field's sub-selections; only root fields take arguments."""
    sels = field.selection_set.selections if field.selection_set else ()
    if not sels:
        raise GraphQLError(f"{field.name.value} selects no fields")
    for s in sels:
        if s.arguments:
            raise GraphQLError(f"nested field {s.name.value!r} takes no arguments")
    return sels


class _Emitter:
    """Emits the SQL text of one root field; ``args`` collects the
    values its ``:pN`` parameters bind. ``tN`` are its table aliases."""

    def __init__(self, rel_schema: dict, variables: dict):
        self.rel_schema, self.variables = rel_schema, variables
        self.args: dict[str, object] = {}
        self.aliases = map("t{}".format, itertools.count())

    def param(self, value) -> str:
        if not isinstance(value, (str, int, float, bool, type(None))):
            raise GraphQLError(f"filter values must be scalars, got {value!r}")
        name = f"p{len(self.args)}"
        self.args[name] = value
        return ":" + name

    def root_args(self, field, allowed: tuple) -> dict:
        args = _field_args(field, self.variables)
        unknown = sorted(set(args) - set(allowed))
        if unknown:
            raise GraphQLError(f"{field.name.value} has no argument(s) {unknown}")
        return args

    def where(self, cond, t: str) -> str:
        """``where:`` object → parenthesized predicate over alias ``t``.
        Keys are ANDed; AND/OR/NOT combinators recurse."""
        if not isinstance(cond, dict):
            raise GraphQLError(f"a filter must be an object, got {cond!r}")
        terms = []
        for key, val in cond.items():
            if key in ("AND", "OR"):
                if not isinstance(val, list) or (key == "OR" and not val):
                    raise GraphQLError(f"{key} takes a non-empty list of filter objects")
                parts = [self.where(c, t) for c in val]
                terms += parts if key == "AND" else ["(" + " OR ".join(parts) + ")"]
            elif key == "NOT":
                terms.append("NOT " + self.where(val, t))
            elif not isinstance(val, dict):
                raise GraphQLError(f"filter for {key!r} must be an operator object")
            else:
                terms += [self.compare(f"{t}.{_ident(key)}", key, op, v) for op, v in val.items()]
        return "(" + " AND ".join(terms) + ")" if terms else "TRUE"

    def compare(self, col: str, key: str, op: str, v) -> str:
        if op in _COMPARE:
            return f"{col} {_COMPARE[op]} {self.param(v)}"
        if op == "in_":  # a single value coerces to a one-item list
            vals = v if isinstance(v, list) else [v]
            # Spark's parser rejects IN (); no value matches an empty list
            return f"{col} IN ({', '.join(map(self.param, vals))})" if vals else "FALSE"
        if op == "isNull":
            if not isinstance(v, bool):
                raise GraphQLError(f"isNull on {key!r} takes a boolean")
            return f"{col} IS {'' if v else 'NOT '}NULL"
        raise GraphQLError(f"unknown operator {op!r} on {key!r}")

    def filter_and_tail(self, sql: str, args: dict, t: str, group: list, sort: dict) -> str:
        """``sql`` + WHERE, GROUP BY, ORDER BY, LIMIT and OFFSET. An
        ``orderBy`` name is the expression ``sort`` maps it to, else a
        column of the root table ``t``."""
        if "where" in args:
            sql += " WHERE " + self.where(args["where"], t)
        if group:
            sql += " GROUP BY " + ", ".join(group)
        order = args.get("orderBy", [])
        if not isinstance(order, list) or not all(isinstance(o, dict) for o in order):
            raise GraphQLError("orderBy takes a list of {column: ASC|DESC} objects")
        keys = []
        for col, direction in (kv for o in order for kv in o.items()):
            if not isinstance(direction, str) or direction.upper() not in ("ASC", "DESC"):
                raise GraphQLError(f"orderBy direction of {col!r} must be ASC or DESC")
            expr = sort.get(col) or f"{t}.{_ident(col)}"
            keys.append(f"{expr} {direction.upper()}")
        if keys:
            sql += " ORDER BY " + ", ".join(keys)
        for arg in ("limit", "offset"):
            n = args.get(arg, 0)
            if type(n) is not int or n < 0:
                raise GraphQLError(f"{arg} must be a non-negative integer, got {n!r}")
            if arg in args:
                sql += f" {arg.upper()} {n}"
        if args.get("offset") and not keys:
            # the rule POST /query applies to its own offset
            raise GraphQLError("offset requires orderBy for a stable page")
        return sql

    def table(self, field, table: str, flat: bool) -> str:
        """A table root field → SELECT over it and its relationships."""
        args = self.root_args(field, ("where", "orderBy", "limit", "offset"))
        t = next(self.aliases)
        cols, lists, joins, broadcast = [], [], [], []
        sort = {}  # orderBy names that are not root columns
        for sel in _selections(field):
            name = sel.name.value
            if sel.selection_set is None:  # scalar leaf
                cols.append(f"{t}.{_ident(name)}")
                continue
            rel = self.rel_schema.get(table, {}).get(name)
            if rel is None:
                raise GraphQLError(f"unknown relationship {table}.{name}")
            sort[name] = _ident(name)
            if isinstance(rel, ManyToOne):
                leafs = self.parent(t, rel, sel, joins, broadcast)
                sort.update(leafs)
                exprs = list(leafs.values())
                cols += exprs if flat else [f"struct({', '.join(exprs)}) AS {_ident(name)}"]
            else:  # OneToMany → relay-style nested list, after the scalars
                lists.append(self.children(t, name, rel, sel, joins))
        # Every REL_SCHEMA parent is a dimension table, orders of
        # magnitude smaller than the child → broadcast: no shuffle of
        # the (potentially 100 TB) child side.
        hint = f"/*+ BROADCAST({', '.join(broadcast)}) */ " if broadcast else ""
        sql = f"SELECT {hint}{', '.join(cols + lists)} FROM {_ident(table)} {t}"
        return self.filter_and_tail(" ".join([sql, *joins]), args, t, [], sort)

    def parent(self, child: str, rel: ManyToOne, sel, joins: list, broadcast: list) -> dict:
        """LEFT JOIN the parent of a many-to-one field; returns {name:
        column} of its selected leafs, then of its own many-to-one
        fields' leafs."""
        t = next(self.aliases)
        broadcast.append(t)
        joins.append(
            f"LEFT JOIN {_ident(rel.parent_table)} {t} "
            f"ON {child}.{_ident(rel.fk_col)} = {t}.{_ident(rel.parent_col)}"
        )
        sels = _selections(sel)
        leafs = {s.name.value: f"{t}.{_ident(s.name.value)}"
                 for s in sels if s.selection_set is None}
        for s in [s for s in sels if s.selection_set is not None]:
            nrel = self.rel_schema.get(rel.parent_table, {}).get(s.name.value)
            if not isinstance(nrel, ManyToOne):
                raise GraphQLError(f"unsupported nesting {rel.parent_table}.{s.name.value}")
            leafs.update(self.parent(t, nrel, s, joins, broadcast))
        return leafs

    def children(self, parent: str, name: str, rel: OneToMany, sel, joins: list) -> str:
        """LEFT JOIN a one-to-many field's children, grouped on the
        parent key (one shuffle, which the semantics need) into a sorted
        array of structs; a parent with no children gets ``[]``, not
        NULL."""
        t = next(self.aliases)
        sels = _selections(sel)
        nested = [s.name.value for s in sels if s.selection_set is not None]
        if nested:
            raise GraphQLError(f"unsupported nesting {rel.child_table}.{nested[0]}")
        leafs = [_ident(s.name.value) for s in sels]
        key, out = _ident(rel.child_col), _ident(name)
        joins.append(
            f"LEFT JOIN (SELECT {key}, sort_array(collect_list(struct({', '.join(leafs)})))"
            f" AS {out} FROM {_ident(rel.child_table)} GROUP BY {key}) {t}"
            f" ON {parent}.{_ident(rel.parent_col)} = {t}.{key}"
        )
        return f"coalesce({t}.{out}, array()) AS {out}"

    def aggregate(self, field, table: str) -> str:
        """``<table>_aggregate(groupBy: [...])`` → GROUP BY with
        count/sum/avg/min/max. Catalyst plans the partial/final hash
        aggregate, so the shuffle carries one row per (partition,
        group)."""
        args = self.root_args(field, ("where", "groupBy", "orderBy", "limit", "offset"))
        t = next(self.aliases)
        group = args.get("groupBy", [])
        if not isinstance(group, list):
            raise GraphQLError("groupBy takes a list of column names")
        keys = [f"{t}.{_ident(c)}" for c in group]
        aggs = {}  # output name → aggregate
        for sel in _selections(field):
            name = sel.name.value
            if name == "count" and sel.selection_set is None:
                aggs["count"] = "COUNT(1)"
            elif name in ("sum", "avg", "min", "max") and sel.selection_set is not None:
                for c in (leaf.name.value for leaf in _selections(sel)):
                    aggs[f"{name}_{c}"] = f"{name.upper()}({t}.{_ident(c)})"
            elif sel.selection_set is None and name in group:
                continue  # group key re-selected — always emitted
            else:
                raise GraphQLError(f"unsupported aggregate selection {name!r}")
        if not aggs:
            raise GraphQLError("aggregate field selects no aggregates")
        outs = keys + [f"{e} AS {_ident(n)}" for n, e in aggs.items()]
        sql = f"SELECT {', '.join(outs)} FROM {_ident(table)} {t}"
        return self.filter_and_tail(sql, args, t, keys, {n: _ident(n) for n in aggs})


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


def _parse(query_text: str, variables: dict | None) -> tuple:
    """Parse → (operation kind, its one root field, resolved
    variables). A query's fragments and @skip/@include are resolved
    on the AST here."""
    if not HAVE_GRAPHQL:  # pragma: no cover
        raise GraphQLError("graphql-core not available in this environment")
    try:
        doc = gql_parse(query_text)
    except GraphQLSyntaxError as e:
        raise GraphQLError(str(e)) from e
    ops = [d for d in doc.definitions if isinstance(d, gql_ast.OperationDefinitionNode)]
    if len(ops) != 1 or ops[0].operation.value not in ("query", "mutation"):
        raise GraphQLError("expected exactly one query or mutation operation")
    op, kind = ops[0], ops[0].operation.value
    resolved_vars = _resolve_variables(op, variables)
    if kind == "query":
        frags = [d for d in doc.definitions if isinstance(d, gql_ast.FragmentDefinitionNode)]
        _inline_fragments(op.selection_set, {d.name.value: d for d in frags}, resolved_vars)
    roots = op.selection_set.selections
    if len(roots) != 1:
        raise GraphQLError(f"expected exactly one {kind} root field")
    return kind, roots[0], resolved_vars


def _sql(root, flat: bool, rel_schema: dict | None, variables: dict) -> tuple[str, dict]:
    emit = _Emitter(REL_SCHEMA if rel_schema is None else rel_schema, variables)
    name = root.name.value
    if name.endswith("_aggregate"):
        return emit.aggregate(root, name[: -len("_aggregate")]), emit.args
    return emit.table(root, name, flat), emit.args


def to_sql(
    query_text: str,
    flat: bool = False,
    rel_schema: dict | None = None,
    variables: dict | None = None,
) -> tuple[str, dict]:
    """GraphQL query document (single root field) → ``(sql, args)``
    for ``spark.sql(sql, args=args)``; ``args`` holds the user values.

    ``flat=True`` flattens many-to-one nesting into leaf columns (the
    shape plain SQL joins produce — used by the oracle-checked parity
    queries); default emits nested structs/arrays (the API shape).
    The root field may name ANY table in the session catalog;
    relationship fields resolve against ``rel_schema`` (the fixture
    star schema by default; ``rel_schema_from_metastore(ms)`` adds
    registered datasets' declared FK edges).

    ``variables`` binds the operation's declared ``$variables``;
    declared defaults fill omitted names. The wire form and the
    equivalent inline query give the same SQL text and equal args,
    hence the byte-identical plan.
    """
    kind, root, resolved_vars = _parse(query_text, variables)
    if kind == "mutation":
        raise GraphQLError("a mutation is a metastore call with no SQL form; use translate")
    return _sql(root, flat, rel_schema, resolved_vars)


def translate(
    spark: SparkSession,
    query_text: str,
    flat: bool = False,
    rel_schema: dict | None = None,
    variables: dict | None = None,
    metastore=None,
) -> DataFrame:
    """GraphQL document → DataFrame. A query runs as ``spark.sql`` over
    ``to_sql``'s text and args (see ``to_sql`` for ``flat``,
    ``rel_schema`` and ``variables``); a mutation runs its metastore
    call against ``metastore``."""
    kind, root, resolved_vars = _parse(query_text, variables)
    if kind == "mutation":
        return _translate_mutation(spark, root, resolved_vars, metastore)
    sql, args = _sql(root, flat, rel_schema, resolved_vars)
    return spark.sql(sql, args=args)
