"""Unit tests for the three front-end surfaces (SURVEY.md §2.10, §5.2).

Oracle parity for the front-ends is covered by the registry entries in
karna_spark/queries/frontends_q.py; these tests cover what the oracle
can't: nested (struct/array) GraphQL output shapes, translator error
behavior, NL→SQL round-trip exactness, and the read-only SQL guard.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def fixtures(spark):
    from karna_spark.frontends.sql import session_with_fixtures

    return session_with_fixtures(spark, SF_SMOKE)


# ------------------------------------------------------------------ GraphQL
def test_graphql_nested_struct_shape(fixtures):
    from karna_spark.frontends.graphql import translate

    df = translate(
        fixtures,
        """
        query {
          customer(where: {c_acctbal: {gte: 0}}, orderBy: [{c_custkey: ASC}], limit: 5) {
            c_custkey
            c_name
            nation { n_name }
          }
        }
        """,
    )
    rows = df.collect()
    assert len(rows) == 5
    assert df.columns == ["c_custkey", "c_name", "nation"]
    # nested many-to-one is a struct with the selected leafs
    assert rows[0]["nation"].__fields__ == ["n_name"]


def test_graphql_order_by_nested_leaf(fixtures):
    """orderBy may name a leaf of a nested many-to-one field even when
    the leaf is inside a struct and not an output column."""
    from karna_spark.frontends.graphql import translate

    rows = translate(
        fixtures,
        "query { customer(orderBy: [{n_name: DESC}, {c_custkey: ASC}]) "
        "{ c_custkey nation { n_name } } }",
    ).collect()
    keys = [(r["nation"]["n_name"], -r["c_custkey"]) for r in rows]
    assert len(rows) > 1 and keys == sorted(keys, reverse=True)


def test_graphql_one_to_many_list(fixtures):
    from karna_spark.frontends.graphql import translate

    df = translate(
        fixtures,
        """
        query {
          nation(orderBy: [{n_nationkey: ASC}], limit: 3) {
            n_nationkey
            n_name
            customers { c_custkey c_name }
          }
        }
        """,
    )
    rows = df.collect()
    assert len(rows) == 3
    row = rows[0]
    # relay-style: children as sorted array of structs
    assert isinstance(row["customers"], list)
    custkeys = [c["c_custkey"] for c in row["customers"]]
    assert custkeys == sorted(custkeys)
    # cross-check one nation's customer count against a direct filter
    direct = (
        fixtures.table("customer")
        .filter(f"c_nationkey = {row['n_nationkey']}")
        .count()
    )
    assert len(row["customers"]) == direct


def test_graphql_one_to_many_empty_parent(spark):
    """A parent with ZERO children must get an empty list, not NULL —
    fixture-independent (synthetic 2-nation / 1-customer views)."""
    from karna_spark.frontends.graphql import translate

    spark.createDataFrame(
        [(1, "HASCHILD"), (2, "CHILDLESS")], "n_nationkey int, n_name string"
    ).createOrReplaceTempView("nation")
    spark.createDataFrame(
        [(10, "cust-a", 1)], "c_custkey int, c_name string, c_nationkey int"
    ).createOrReplaceTempView("customer")
    try:
        df = translate(
            spark,
            """
            query {
              nation(orderBy: [{n_nationkey: ASC}]) {
                n_nationkey
                customers { c_name }
              }
            }
            """,
        )
        rows = {r["n_nationkey"]: r["customers"] for r in df.collect()}
        assert [c["c_name"] for c in rows[1]] == ["cust-a"]
        assert rows[2] == []  # empty list, not None
    finally:
        # Restore the real fixture views for the rest of the module.
        from karna_spark.frontends.sql import session_with_fixtures

        session_with_fixtures(spark, SF_SMOKE)


def test_graphql_where_operators(fixtures):
    from karna_spark.frontends.graphql import translate

    df = translate(
        fixtures,
        """
        query {
          part(where: {OR: [{p_size: {lte: 5}}, {p_brand: {eq: "Brand#1"}}],
                       p_retailprice: {gt: 0}}) {
            p_partkey p_size p_brand
          }
        }
        """,
    )
    for r in df.collect():
        assert r["p_size"] <= 5 or r["p_brand"] == "Brand#1"


def test_graphql_errors(fixtures):
    from karna_spark.frontends.graphql import GraphQLError, translate

    with pytest.raises(GraphQLError):
        translate(fixtures, "query { orders { o_orderkey bogus_relation { x } } }")
    with pytest.raises(GraphQLError):
        translate(
            fixtures, "query { orders(where: {o_orderkey: {wrongop: 1}}) { o_orderkey } }"
        )


# ----------------------------------------------- variables + fragments
_GQL_WIRE = """
query Orders($minTotal: Float!, $status: String!, $page: Int = 10) {
  orders(
    where: {o_totalprice: {gte: $minTotal}, o_orderstatus: {eq: $status}},
    orderBy: [{o_orderkey: ASC}],
    limit: $page
  ) {
    ...orderCore
    customer { ...customerCore }
  }
}
fragment orderCore on orders { o_orderkey o_totalprice }
fragment customerCore on customer { c_name }
"""

_GQL_INLINE = """
query {
  orders(
    where: {o_totalprice: {gte: 150000}, o_orderstatus: {eq: "O"}},
    orderBy: [{o_orderkey: ASC}],
    limit: 10
  ) {
    o_orderkey o_totalprice
    customer { c_name }
  }
}
"""


def test_graphql_variables_fragments_roundtrip(fixtures):
    """The wire shape (variables + fragments) must produce the exact
    rows AND the exact plan of the equivalent inline query — the
    substitution happens before translation, so Catalyst never sees a
    difference."""
    from karna_spark.frontends.graphql import translate

    wire = translate(
        fixtures, _GQL_WIRE, flat=True, variables={"minTotal": 150000, "status": "O"}
    )
    inline = translate(fixtures, _GQL_INLINE, flat=True)
    assert wire.schema == inline.schema
    assert wire.collect() == inline.collect()
    # $page came from its declared default (10), not a binding.
    assert len(wire.collect()) <= 10


def test_graphql_variable_in_list_and_nested(fixtures):
    """Variables substitute inside list values and nested where objects."""
    from karna_spark.frontends.graphql import translate

    df = translate(
        fixtures,
        """
        query Sizes($sizes: [Int!]!, $floor: Float) {
          part(where: {p_size: {in_: $sizes},
                       OR: [{p_retailprice: {gte: $floor}},
                            {p_brand: {eq: "Brand#1"}}]}) {
            p_partkey p_size p_brand p_retailprice
          }
        }
        """,
        variables={"sizes": [1, 2, 3], "floor": 1500.0},
    )
    for r in df.collect():
        assert r["p_size"] in (1, 2, 3)
        assert r["p_retailprice"] >= 1500.0 or r["p_brand"] == "Brand#1"


def test_graphql_inline_fragment(fixtures):
    from karna_spark.frontends.graphql import translate

    df = translate(
        fixtures,
        """
        query {
          region { r_regionkey ... on region { r_name } }
        }
        """,
    )
    assert sorted(df.columns) == ["r_name", "r_regionkey"]
    assert df.count() == fixtures.table("region").count()


def test_graphql_variable_errors(fixtures):
    from karna_spark.frontends.graphql import GraphQLError, translate

    q = "query Q($n: Int!) { region(limit: $n) { r_name } }"
    with pytest.raises(GraphQLError, match="missing required variable"):
        translate(fixtures, q)
    with pytest.raises(GraphQLError, match="undeclared variables"):
        translate(fixtures, q, variables={"n": 1, "bogus": 2})
    # a $ref that was never declared on the operation
    with pytest.raises(GraphQLError, match="unbound variable"):
        translate(fixtures, "query { region(limit: $n) { r_name } }")


def test_graphql_fragment_errors(fixtures):
    from karna_spark.frontends.graphql import GraphQLError, translate

    with pytest.raises(GraphQLError, match="unknown fragment"):
        translate(fixtures, "query { region { ...nope } }")
    cyc = """
    query { region { ...a } }
    fragment a on region { ...b }
    fragment b on region { ...a }
    """
    with pytest.raises(GraphQLError, match="nesting too deep"):
        translate(fixtures, cyc)


# ------------------------------------------------------- SQL emission
def test_graphql_wire_and_inline_emit_the_same_sql():
    """Variables and fragments resolve on the AST: the wire form and the
    inline query compile to the same SQL text and equal args, which is
    what makes their plans identical."""
    from karna_spark.frontends.graphql import to_sql

    wire = to_sql(_GQL_WIRE, flat=True, variables={"minTotal": 150000, "status": "O"})
    inline = to_sql(_GQL_INLINE, flat=True)
    assert wire[0] == inline[0]
    assert wire[1] == inline[1] == {"p0": 150000, "p1": "O"}
    assert [type(v) for v in wire[1].values()] == [int, str]
    # user values are bound, never spliced into the text
    assert "150000" not in wire[0] and "'O'" not in wire[0]


_INJECTIONS = ["it's", "a`b", "x -- y", "back\\slash", "q' OR '1'='1", "all'`--\\"]


@pytest.mark.parametrize("value", _INJECTIONS)
def test_graphql_string_argument_stays_data(spark, value):
    """A quote, backtick, comment marker or backslash inside a string
    argument is data: the rows equal a DataFrame filter on that value,
    whether the value comes as a literal or as a variable."""
    import json

    from pyspark.sql import functions as F

    from karna_spark.frontends.graphql import translate

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([*_INJECTIONS, "plain"])], "id int, s string"
    )
    df.createOrReplaceTempView("gql_strings")
    try:
        want = df.filter(F.col("s") == value).collect()
        assert len(want) == 1
        literal = translate(
            spark,
            f"query {{ gql_strings(where: {{s: {{eq: {json.dumps(value)}}}}}) {{ id s }} }}",
        ).collect()
        bound = translate(
            spark,
            "query Q($v: String!) { gql_strings(where: {s: {eq: $v}}) { id s } }",
            variables={"v": value},
        ).collect()
        assert literal == bound == want
    finally:
        spark.catalog.dropTempView("gql_strings")


def test_graphql_backtick_group_name_is_one_identifier(fixtures):
    """A ``groupBy:`` name is a user string: a backtick in it is doubled,
    so the whole name stays one (unknown) column and cannot close the
    identifier to splice SQL."""
    from pyspark.errors import AnalysisException

    from karna_spark.frontends.graphql import to_sql, translate

    q = 'query { part_aggregate(groupBy: ["p_brand`, p_size"]) { count } }'
    assert "t0.`p_brand``, p_size`" in to_sql(q)[0]
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        translate(fixtures, q)


def test_graphql_empty_in_list_matches_nothing(fixtures):
    from karna_spark.frontends.graphql import to_sql, translate

    q = "query { part(where: {p_size: {in_: []}}) { p_partkey } }"
    assert "FALSE" in to_sql(q)[0]
    assert translate(fixtures, q).count() == 0


# ----------------------------------------------------------------------- NL
def test_nl_roundtrip_sql_text():
    from karna_spark.frontends.nl import to_sql

    assert to_sql("total quantity by return flag in lineitem") == (
        "SELECT lineitem.l_returnflag, SUM(lineitem.l_quantity) AS sum_l_quantity "
        "FROM lineitem "
        "GROUP BY lineitem.l_returnflag ORDER BY lineitem.l_returnflag"
    )
    assert to_sql("count of orders by order status") == (
        "SELECT orders.o_orderstatus, COUNT(*) AS count FROM orders "
        "GROUP BY orders.o_orderstatus ORDER BY orders.o_orderstatus"
    )
    assert to_sql("top 15 customers by acctbal") == (
        "SELECT * FROM customer "
        "ORDER BY customer.c_acctbal DESC, customer.c_custkey LIMIT 15"
    )
    # filters + top-N in the aggregate form
    assert to_sql(
        "average total price by order priority in orders where order status is F top 3"
    ) == (
        "SELECT orders.o_orderpriority, AVG(orders.o_totalprice) AS avg_o_totalprice "
        "FROM orders "
        "WHERE orders.o_orderstatus = 'F' GROUP BY orders.o_orderpriority "
        "ORDER BY avg_o_totalprice DESC, orders.o_orderpriority LIMIT 3"
    )


def test_nl_join_dimension_forms():
    from karna_spark.frontends.nl import NLError, to_sql

    # one-hop join (customer → nation)
    assert to_sql("total acctbal by nation name in customer") == (
        "SELECT nation.n_name, SUM(customer.c_acctbal) AS sum_c_acctbal "
        "FROM customer "
        "JOIN nation ON customer.c_nationkey = nation.n_nationkey "
        "GROUP BY nation.n_name ORDER BY nation.n_name"
    )
    # two-hop shortest path (lineitem → supplier → nation, not the
    # 3-hop route through orders → customer)
    assert to_sql("total quantity by nation name in lineitem") == (
        "SELECT nation.n_name, SUM(lineitem.l_quantity) AS sum_l_quantity "
        "FROM lineitem "
        "JOIN supplier ON lineitem.l_suppkey = supplier.s_suppkey "
        "JOIN nation ON supplier.s_nationkey = nation.n_nationkey "
        "GROUP BY nation.n_name ORDER BY nation.n_name"
    )
    # count form with a joined dimension + filter
    assert to_sql("count of customer by region name with acctbal over 0") == (
        "SELECT region.r_name, COUNT(*) AS count FROM customer "
        "JOIN nation ON customer.c_nationkey = nation.n_nationkey "
        "JOIN region ON nation.n_regionkey = region.r_regionkey "
        "WHERE customer.c_acctbal >= 0 GROUP BY region.r_name ORDER BY region.r_name"
    )
    # same-table resolution still wins over the join reading
    assert "JOIN" not in to_sql("total quantity by return flag in lineitem")
    # unreachable dimension refuses rather than guessing
    with pytest.raises(NLError):
        to_sql("total value by nation name in events")


def test_nl_refuses_out_of_grammar():
    from karna_spark.frontends.nl import NLError, to_sql

    with pytest.raises(NLError):
        to_sql("please delete everything")
    with pytest.raises(NLError):
        to_sql("total bogus_column by name in customer")


def test_nl_executes(fixtures):
    from karna_spark.frontends.nl import ask

    rows = ask(fixtures, "count of customers").collect()
    assert rows[0]["count"] == fixtures.table("customer").count()


# ------------------------------------------- dynamic (non-fixture) schemas
def test_nl_over_registered_dataset(fixtures, tmp_path):
    """A dataset registered at runtime is NL-queryable by name — the
    vocabulary comes from the session catalog, not the fixture dicts."""
    from karna_spark.frontends.nl import NLError, ask, to_sql

    fixtures.range(0, 50).selectExpr(
        "id AS ride_id", "id % 5 AS zone", "CAST(id * 2.5 AS DOUBLE) AS fare"
    ).createOrReplaceTempView("taxi_rides")
    try:
        rows = ask(fixtures, "count of taxi rides").collect()
        assert rows[0]["count"] == 50
        agg = ask(fixtures, "total fare by zone in taxi_rides").collect()
        assert len(agg) == 5
        top = ask(fixtures, "top 3 taxi_rides by fare").collect()
        assert [r["ride_id"] for r in top] == [49, 48, 47]
        # the pure-text default vocabulary still refuses unknown tables
        with pytest.raises(NLError):
            to_sql("count of taxi_rides")
    finally:
        fixtures.catalog.dropTempView("taxi_rides")


def _jobs_seen(spark) -> int:
    """Jobs in Spark's in-process status store, once every event
    already posted has reached it (the listener bus is asynchronous)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def test_nl_ask_runs_no_spark_job(fixtures):
    """Translating a question reads only catalog metadata and plan
    analysis: ``ask`` returns a lazy DataFrame without starting a job
    (listing tables through ``spark.catalog.listTables()`` cost five)."""
    from karna_spark.frontends.nl import ask

    before = _jobs_seen(fixtures)
    df = ask(fixtures, "total quantity by nation name in lineitem")
    assert _jobs_seen(fixtures) == before
    assert df.columns == ["n_name", "sum_l_quantity"]


def test_nl_vocabulary_lists_same_tables_as_catalog(fixtures):
    """The vocabulary's table listing names exactly what the public
    catalog API lists — temp views and persistent tables alike."""
    from karna_spark.frontends.nl import TABLE_COLUMNS, vocabulary_from_session

    fixtures.range(3).createOrReplaceTempView("nl_extra_view")
    fixtures.sql("DROP TABLE IF EXISTS nl_extra_table")
    fixtures.range(3).write.saveAsTable("nl_extra_table")
    try:
        listed = {t.name for t in fixtures.catalog.listTables()}
        assert {"nl_extra_view", "nl_extra_table"} <= listed
        vocab = vocabulary_from_session(fixtures)
        assert set(vocab.table_columns) == set(TABLE_COLUMNS) | {
            n.lower() for n in listed
        }
        assert vocab.table_columns["nl_extra_table"] == ("id",)
    finally:
        fixtures.catalog.dropTempView("nl_extra_view")
        fixtures.sql("DROP TABLE IF EXISTS nl_extra_table")


def test_frontends_over_metastore_fk_edges(fixtures, tmp_path):
    """Datasets registered with declared FK edges join via NL and nest
    via GraphQL — the reference promises all three surfaces over
    arbitrary tabular files, not just the fixture star schema."""
    from karna_spark.frontends.graphql import rel_schema_from_metastore, translate
    from karna_spark.frontends.nl import ask, vocabulary_from_session
    from karna_spark.metastore import Metastore

    fixtures.createDataFrame(
        [(1, "north"), (2, "south")], "zone_id long, zone_name string"
    ).write.mode("overwrite").parquet(str(tmp_path / "zones"))
    fixtures.createDataFrame(
        [(10, 1, 7.5), (11, 1, 2.5), (12, 2, 4.0)],
        "trip_id long, zone_id long, fare double",
    ).write.mode("overwrite").parquet(str(tmp_path / "trips"))

    ms = Metastore(str(tmp_path / "meta.json"))
    ms.register(fixtures, "zone", str(tmp_path / "zones"))
    ms.register(
        fixtures, "trip", str(tmp_path / "trips"),
        foreign_keys=[["zone_id", "zone", "zone_id"]],
    )
    try:
        # NL: grouping column reached through the declared FK edge
        vocab = vocabulary_from_session(fixtures, ms)
        rows = {
            r["zone_name"]: r["sum_fare"]
            for r in ask(fixtures, "total fare by zone name in trip", ms).collect()
        }
        assert rows == {"north": 10.0, "south": 4.0}
        assert vocab.join_edges["trip"] == [("zone", "zone_id", "zone_id")]

        # GraphQL: many-to-one nesting along the same edge...
        nested = translate(
            fixtures,
            "query { trip(orderBy: [{trip_id: ASC}]) { trip_id fare zone { zone_name } } }",
            rel_schema=rel_schema_from_metastore(ms),
        ).collect()
        assert [r["zone"]["zone_name"] for r in nested] == ["north", "north", "south"]

        # ...and the reverse one-to-many field on the parent
        rev = translate(
            fixtures,
            "query { zone(orderBy: [{zone_id: ASC}]) { zone_name trips { trip_id } } }",
            rel_schema=rel_schema_from_metastore(ms),
        ).collect()
        assert [len(r["trips"]) for r in rev] == [2, 1]
    finally:
        fixtures.catalog.dropTempView("trip")
        fixtures.catalog.dropTempView("zone")


# ---------------------------------------------------------------------- SQL
def test_sql_guard_blocks_writes(fixtures):
    from karna_spark.frontends.sql import SQLFrontendError, execute

    for stmt in ("DROP TABLE customer", "insert into x values (1)", "SET a=1"):
        with pytest.raises(SQLFrontendError):
            execute(fixtures, stmt)
    assert execute(fixtures, "SELECT 1 AS one").collect()[0]["one"] == 1


# ------------------------------------------------- operator-backed NL
def test_nl_dedup_intent_phrasings_and_guard(fixtures):
    from karna_spark import intermediates
    from karna_spark.frontends.nl import NLError, ask

    with intermediates.scope():
        a = ask(fixtures, "find near-duplicate documents")
        b = ask(fixtures, "Near duplicates in documents?")
        rows_a = sorted((r["id_a"], r["id_b"]) for r in a.collect())
        rows_b = sorted((r["id_a"], r["id_b"]) for r in b.collect())
    assert rows_a and rows_a == rows_b  # phrasing-invariant dispatch
    # A table with no text-bearing column refuses with a clear error
    # instead of guessing a column.
    with pytest.raises(NLError, match="text column"):
        ask(fixtures, "find near-duplicates in customer")


def test_nl_exact_dedup_intent(fixtures):
    from karna_spark.frontends.nl import NLError, ask

    a = ask(fixtures, "deduplicate documents exactly")
    b = ask(fixtures, "remove exact duplicates from documents")
    assert sorted(a.columns) == ["fp", "keep_id", "n_copies"]
    rows_a = sorted(tuple(r) for r in a.collect())
    assert rows_a and rows_a == sorted(tuple(r) for r in b.collect())
    # every group's survivor is its min id — replayable keep-rule
    docs = fixtures.table("documents")
    assert a.count() == docs.selectExpr("md5(cast(text as binary))").distinct().count()
    with pytest.raises(NLError, match="text column"):
        ask(fixtures, "dedupe nation")


def test_nl_stratified_sample_intent(fixtures):
    from karna_spark.frontends.nl import NLError, ask

    s = ask(fixtures, "sample 20% of documents stratified by lang")
    docs = fixtures.table("documents")
    assert s.columns == docs.columns  # full usable rows, not a report
    import math

    per = {r["lang"]: r["cnt"] for r in
           docs.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    got = {r["lang"]: r["cnt"] for r in
           s.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    for lang, n in per.items():
        assert got.get(lang, 0) == math.ceil(n * 0.2)
    with pytest.raises(NLError, match="out of range"):
        ask(fixtures, "sample 150% of documents stratified by lang")


def test_nl_bm25_intent(fixtures):
    from karna_spark.frontends.nl import ask

    top = ask(fixtures, "top 5 documents matching query data").collect()
    assert len(top) == 5
    scores = [r["bm25"] for r in top]
    assert scores == sorted(scores, reverse=True)
    # parity with the operator called directly
    from karna_spark.operators.retrieval import bm25_topk

    direct = bm25_topk(
        fixtures.table("documents"), "doc_id", "text", ["query", "data"], 5
    ).collect()
    assert [tuple(r) for r in top] == [tuple(r) for r in direct]


def test_graphql_skip_include_directives(fixtures):
    """@skip/@include (the two spec execution directives every client
    library emits) prune selections BEFORE translation: the directive
    form must produce the exact rows and plan of the hand-pruned
    query, whether driven by literals or variables, on fields and on
    fragment spreads; both-directives composition follows the spec
    (kept only if @skip keeps AND @include keeps)."""
    import pytest

    from karna_spark.frontends.graphql import GraphQLError, translate

    directive = translate(
        fixtures,
        """
        query Q($wantSize: Boolean!, $dropBrand: Boolean!) {
          part {
            p_partkey
            p_size @include(if: $wantSize)
            p_brand @skip(if: $dropBrand)
            p_retailprice @skip(if: false) @include(if: true)
            p_type @include(if: false)
          }
        }
        """,
        flat=True,
        variables={"wantSize": True, "dropBrand": True},
    )
    pruned = translate(
        fixtures,
        "query { part { p_partkey p_size p_retailprice } }",
        flat=True,
    )
    assert directive.schema == pruned.schema
    assert directive.collect() == pruned.collect()

    # Directives on a fragment spread drop the whole fragment.
    frag = translate(
        fixtures,
        """
        query { part { p_partkey ...extra @skip(if: true) } }
        fragment extra on part { p_size p_brand }
        """,
        flat=True,
    )
    only_key = translate(fixtures, "query { part { p_partkey } }", flat=True)
    assert frag.schema == only_key.schema

    with pytest.raises(GraphQLError, match="unsupported directive"):
        translate(
            fixtures,
            'query { part { p_partkey @deprecated(reason: "x") } }',
            flat=True,
        )
    with pytest.raises(GraphQLError, match="boolean 'if'"):
        translate(fixtures, "query { part { p_partkey @skip(if: 3) } }", flat=True)


# -------------------------------------------------------- GraphQL mutations
def test_graphql_mutation_register_and_query(fixtures, tmp_path):
    """r11 verdict item 6: registerDataset via GraphQL MUTATION has
    behavior parity with REST POST /datasets — same metastore record,
    same immediate queryability through every front-end."""
    from karna_spark.frontends.graphql import translate
    from karna_spark.metastore import Metastore

    fixtures.createDataFrame(
        [(1, "a", 2.0), (2, "b", 3.5)], "pid long, tag string, w double"
    ).write.mode("overwrite").parquet(str(tmp_path / "probes"))
    ms = Metastore(str(tmp_path / "meta.json"))
    out = translate(
        fixtures,
        f"""
        mutation {{
          registerDataset(name: "probes", path: "{tmp_path / 'probes'}",
                          fmt: "parquet") {{ name registered path }}
        }}
        """,
        metastore=ms,
    ).collect()
    assert out[0]["name"] == "probes" and out[0]["registered"] is True
    # immediately queryable through the GraphQL READ surface
    rows = translate(
        fixtures,
        "query { probes(orderBy: [{pid: ASC}]) { pid tag } }",
    ).collect()
    assert [r["pid"] for r in rows] == [1, 2]
    # REST-path parity: the metastore record matches what POST
    # /datasets would write (same register() call underneath)
    rec = ms.get("probes")
    assert rec is not None and rec.fmt == "parquet"
    assert rec.path == str(tmp_path / "probes")
    # a fresh metastore instance attaches it (durability)
    ms2 = Metastore(str(tmp_path / "meta.json"))
    assert [d.name for d in ms2.list()] == ["probes"]
    fixtures.catalog.dropTempView("probes")


def test_graphql_mutation_save_drop_and_errors(fixtures, tmp_path):
    from karna_spark.frontends.graphql import GraphQLError, translate
    from karna_spark.metastore import Metastore

    ms = Metastore(str(tmp_path / "meta.json"))
    out = translate(
        fixtures,
        'mutation { saveQuery(name: "q1", language: "sql", '
        'query: "SELECT 1 AS one") { name saved } }',
        metastore=ms,
    ).collect()
    assert out[0]["saved"] is True
    assert ms.get_query("q1").text == "SELECT 1 AS one"
    out = translate(
        fixtures,
        'mutation { dropQuery(name: "q1") { name dropped } }',
        metastore=ms,
    ).collect()
    assert out[0]["dropped"] is True and ms.get_query("q1") is None
    # variables bind in mutations exactly as in queries
    fixtures.createDataFrame([(1,)], "x long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "v"))
    out = translate(
        fixtures,
        'mutation Reg($p: String!) { registerDataset(name: "vds", '
        "path: $p) { registered } }",
        variables={"p": str(tmp_path / "v")},
        metastore=ms,
    ).collect()
    assert out[0]["registered"] is True
    out = translate(
        fixtures,
        'mutation { dropDataset(name: "vds") { dropped } }',
        metastore=ms,
    ).collect()
    assert out[0]["dropped"] is True
    fixtures.catalog.dropTempView("vds")
    # errors: unknown mutation, missing args, unknown payload field,
    # metastore-needing verbs without one
    with pytest.raises(GraphQLError, match="unknown mutation"):
        translate(fixtures, "mutation { frobnicate(name: \"x\") { name } }")
    with pytest.raises(GraphQLError, match="needs 'name' and 'path'"):
        translate(fixtures, "mutation { registerDataset(name: \"x\") { name } }")
    with pytest.raises(GraphQLError, match="no payload field"):
        translate(
            fixtures,
            'mutation { saveQuery(name: "q", query: "SELECT 1") { bogus } }',
            metastore=ms,
        )
    with pytest.raises(GraphQLError, match="metastore"):
        translate(fixtures, 'mutation { saveQuery(name: "q", query: "x") { name } }')


def test_graphql_mutation_fk_edges_nest(fixtures, tmp_path):
    """FK edges declared through the mutation nest in GraphQL reads —
    the full register→relate→query cycle on one surface."""
    from karna_spark.frontends.graphql import (
        rel_schema_from_metastore,
        translate,
    )
    from karna_spark.metastore import Metastore

    fixtures.createDataFrame(
        [(1, "north"), (2, "south")], "zone_id long, zone_name string"
    ).write.mode("overwrite").parquet(str(tmp_path / "zones2"))
    fixtures.createDataFrame(
        [(10, 1, 7.5), (12, 2, 4.0)],
        "trip_id long, zone_id long, fare double",
    ).write.mode("overwrite").parquet(str(tmp_path / "trips2"))
    ms = Metastore(str(tmp_path / "meta.json"))
    translate(
        fixtures,
        f'mutation {{ registerDataset(name: "zones2", '
        f'path: "{tmp_path / "zones2"}") {{ name }} }}',
        metastore=ms,
    ).collect()
    translate(
        fixtures,
        f'mutation {{ registerDataset(name: "trips2", '
        f'path: "{tmp_path / "trips2"}", foreignKeys: [{{column: '
        f'"zone_id", refTable: "zones2", refColumn: "zone_id"}}]) '
        f"{{ name registered }} }}",
        metastore=ms,
    ).collect()
    rows = translate(
        fixtures,
        "query { trips2(orderBy: [{trip_id: ASC}]) "
        "{ trip_id zones2 { zone_name } } }",
        rel_schema=rel_schema_from_metastore(ms),
    ).collect()
    assert [(r["trip_id"], r["zones2"]["zone_name"]) for r in rows] == [
        (10, "north"), (12, "south"),
    ]
    fixtures.catalog.dropTempView("zones2")
    fixtures.catalog.dropTempView("trips2")


# ------------------------------------------------- NL operator intents (r12)
def test_nl_boolean_search_intent(fixtures):
    from karna_spark.frontends.nl import ask

    fixtures.createDataFrame(
        [(1, "fast vector stream"), (2, "vector stream slow"),
         (3, "vector only here")],
        "doc_id long, text string",
    ).createOrReplaceTempView("notes")
    try:
        rows = ask(
            fixtures, "notes containing vector and stream but not slow"
        ).collect()
        assert [r["doc_id"] for r in rows] == [1]
        assert rows[0]["score"] == 2
        # top-k form limits; without 'but not' no NOT terms
        rows = ask(fixtures, "top 2 notes containing vector").collect()
        assert [r["doc_id"] for r in rows] == [1, 2]
    finally:
        fixtures.catalog.dropTempView("notes")


def test_nl_funnel_intent(fixtures):
    from karna_spark.frontends.nl import NLError, ask

    fixtures.createDataFrame(
        [
            (1, 100, "view", 1.0), (2, 100, "click", 2.0),
            (3, 100, "purchase", 3.0),
            (4, 200, "view", 1.0), (5, 200, "purchase", 2.0),
            (6, 300, "click", 1.0), (7, 300, "view", 2.0),
            (8, 300, "error", 3.0), (9, 300, "click", 4.0),
            (10, 300, "purchase", 5.0),
        ],
        "event_id long, user_id long, event_type string, ts double",
    ).createOrReplaceTempView("clicks")
    try:
        n = ask(
            fixtures,
            "how many users did view then click then purchase in clicks",
        ).collect()
        # user 100 (contiguous) and 300 (with gaps) match; 200 lacks click
        assert n[0]["n_users"] == 2
        # a table without the event columns refuses loudly
        with pytest.raises(NLError, match="funnel intent"):
            ask(fixtures, "how many users did view then click in region")
    finally:
        fixtures.catalog.dropTempView("clicks")


# ----------------------------------------------- r12 review-fix regressions
def test_nl_intents_case_insensitive_connectors(fixtures):
    """(?i) intent regexes must pair with (?i) connector splits —
    'vector AND stream' / 'view Then click' must parse, not silently
    become one never-matching term/step."""
    from karna_spark.frontends.nl import ask

    fixtures.createDataFrame(
        [(1, "fast vector stream")], "doc_id long, text string"
    ).createOrReplaceTempView("notes_ci")
    fixtures.createDataFrame(
        [(1, 100, "view", 1.0), (2, 100, "click", 2.0)],
        "event_id long, user_id long, event_type string, ts double",
    ).createOrReplaceTempView("clicks_ci")
    try:
        rows = ask(fixtures, "notes_ci containing vector AND stream").collect()
        assert [r["doc_id"] for r in rows] == [1]
        n = ask(
            fixtures, "how many users did view Then click in clicks_ci"
        ).collect()
        assert n[0]["n_users"] == 1
    finally:
        fixtures.catalog.dropTempView("notes_ci")
        fixtures.catalog.dropTempView("clicks_ci")


def test_boolean_search_dup_and_clashing_terms(fixtures):
    """A repeated term must not alias two tf_<term> columns (ambiguous
    reference); a term in both polarities is refused."""
    import pytest as _pytest

    from karna_spark.operators.retrieval import boolean_search

    df = fixtures.createDataFrame(
        [(1, "vector vector stream")], "doc_id long, text string"
    )
    rows = boolean_search(df, "doc_id", "text", ["vector", "vector"]).collect()
    assert rows[0]["tf_vector"] == 2 and rows[0]["score"] == 2
    with _pytest.raises(ValueError, match="both must and must-not"):
        boolean_search(df, "doc_id", "text", ["vector"], ["vector"])


def test_funnel_empty_frame_counts_zero(fixtures):
    from karna_spark.operators.patterns import funnel_user_count

    empty = fixtures.createDataFrame(
        [], "event_id long, user_id long, event_type string, ts double"
    )
    assert funnel_user_count(empty, ["view", "click"]).collect()[0][
        "n_users"
    ] == 0


def test_http_graphql_mutation_is_durable(fixtures, tmp_path):
    """The server's graphql route passes its metastore into
    translate(): a registerDataset over HTTP persists the record —
    REST POST /datasets parity (the review found it silently dropped
    the store)."""
    from karna_spark.metastore import Metastore
    from karna_spark.server import _run_query

    fixtures.createDataFrame([(1, "x")], "pid long, tag string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "httpds"))
    ms = Metastore(str(tmp_path / "meta.json"))
    _run_query(
        fixtures,
        {
            "language": "graphql",
            "query": (
                f'mutation {{ registerDataset(name: "httpds", '
                f'path: "{tmp_path / "httpds"}") {{ registered }} }}'
            ),
        },
        ms,
    ).collect()
    assert Metastore(str(tmp_path / "meta.json")).get("httpds") is not None
    # saveQuery over the same route reaches the attached store too
    _run_query(
        fixtures,
        {
            "language": "graphql",
            "query": 'mutation { saveQuery(name: "hq", language: "sql", '
                     'query: "SELECT 2 AS two") { saved } }',
        },
        ms,
    ).collect()
    assert ms.get_query("hq").text == "SELECT 2 AS two"
    fixtures.catalog.dropTempView("httpds")


def test_nl_hybrid_search_intent(fixtures):
    # 'hybrid matching ... near document N' fuses the BM25 list with a
    # dense cosine list anchored at N's embedding (RRF, F35); the plain
    # 'matching' form must still route to BM25 (intent precedence).
    from karna_spark.frontends.nl import ask

    fixtures.createDataFrame(
        [(1, "fast vector stream"), (2, "vector db joins"),
         (3, "nothing relevant here")],
        "doc_id long, text string",
    ).createOrReplaceTempView("notes")
    fixtures.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
         (3, [0.8, 0.2])],
        "vec_id long, embedding array<float>",
    ).createOrReplaceTempView("embeddings")
    try:
        rows = ask(
            fixtures, "top 2 notes hybrid matching vector near document 0"
        ).collect()
        # doc 1 is in both lists (lex rank 1 by id tiebreak, dense rank
        # 1); doc 2 is lex rank 2 + dense rank 3; doc 3 dense-only
        assert [r["doc_id"] for r in rows] == [1, 2]
        assert [r["fused_rank"] for r in rows] == [1, 2]
        assert rows[0]["r_lex"] == 1 and rows[0]["r_dense"] == 1
        # precedence: without 'hybrid ... near' the bm25 intent matches
        bm = ask(fixtures, "top 2 notes matching vector").collect()
        assert {c for c in bm[0].asDict()} >= {"doc_id", "bm25"}
    finally:
        fixtures.catalog.dropTempView("notes")
        fixtures.catalog.dropTempView("embeddings")


def test_sql_time_travel_versions_and_timestamp(fixtures, tmp_path):
    from karna_spark.frontends.sql import SQLFrontendError, execute
    from karna_spark.io.snapshots import SnapshotStore

    clock = iter([1000.0, 2000.0, 3000.0]).__next__
    store = SnapshotStore(str(tmp_path / "t"), "p", clock=clock)
    from pyspark.sql import Row

    store.commit(fixtures.createDataFrame(
        [Row(k=1, p="a", val=10), Row(k=2, p="b", val=20)]))
    store.upsert(
        fixtures,
        fixtures.createDataFrame([Row(k=1, p="a", val=11)]), ["k"],
    )
    # two pinned versions of ONE table in one statement: the SQL diff
    rows = execute(
        fixtures,
        "SELECT k, val FROM (SELECT * FROM tt VERSION AS OF 2 "
        "EXCEPT SELECT * FROM tt VERSION AS OF 1) ORDER BY k",
        snapshots={"tt": store},
    ).collect()
    assert [(r.k, r.val) for r in rows] == [(1, 11)]
    # bare name reads latest
    rows = execute(
        fixtures, "SELECT SUM(val) AS s FROM tt", snapshots={"tt": store}
    ).collect()
    assert rows[0].s == 31
    # timestamp travel resolves by commit stamps (injected clock:
    # v1@1000, v2@2000) — epoch 1500 pins v1
    import datetime

    ts = datetime.datetime.fromtimestamp(
        1500.0, tz=datetime.timezone.utc
    ).isoformat()
    rows = execute(
        fixtures,
        f"SELECT SUM(val) AS s FROM tt TIMESTAMP AS OF '{ts}'",
        snapshots={"tt": store},
    ).collect()
    assert rows[0].s == 30
    # unregistered snapshot name fails loudly
    import pytest

    with pytest.raises(SQLFrontendError, match="unregistered"):
        execute(
            fixtures,
            "SELECT * FROM nope VERSION AS OF 1",
            snapshots={"tt": store},
        )
    # the read-only guard still applies with snapshots attached
    with pytest.raises(SQLFrontendError, match="read-only"):
        execute(fixtures, "DROP TABLE tt", snapshots={"tt": store})


def test_sql_guard_rejects_smuggled_dml_and_protects_literals(
    fixtures, tmp_path
):
    import pytest

    from karna_spark.frontends.sql import SQLFrontendError, execute
    from karna_spark.io.snapshots import SnapshotStore
    from pyspark.sql import Row

    store = SnapshotStore(str(tmp_path / "t"), "p")
    store.commit(fixtures.createDataFrame([Row(k=1, p="a", val=10)]))
    # a leading WITH clause must not smuggle DML past the guard
    with pytest.raises(SQLFrontendError, match="read-only"):
        execute(
            fixtures,
            "WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY "
            f"'{tmp_path}/out' USING parquet SELECT * FROM x",
        )
    # a literal containing the clause text is data, not syntax
    rows = execute(
        fixtures,
        "SELECT 'tt VERSION AS OF 1' AS s",
        snapshots={"tt": store},
    ).collect()
    assert rows[0].s == "tt VERSION AS OF 1"
    # ...and an unknown table name inside a literal must not raise
    rows = execute(
        fixtures,
        "SELECT 'orders VERSION AS OF 3 broke' AS s",
        snapshots={"tt": store},
    ).collect()
    assert rows[0].s == "orders VERSION AS OF 3 broke"
    # qualified column references keep working (the pinned view is
    # aliased back to the table name)...
    rows = execute(
        fixtures,
        "SELECT tt.k, tt.val FROM tt VERSION AS OF 1 WHERE tt.k = 1",
        snapshots={"tt": store},
    ).collect()
    assert (rows[0].k, rows[0].val) == (1, 10)
    # ...and a user-written alias is preserved
    rows = execute(
        fixtures,
        "SELECT x.val FROM tt VERSION AS OF 1 AS x",
        snapshots={"tt": store},
    ).collect()
    assert rows[0].val == 10
    # bare-name resolution happens only in FROM/JOIN position: a
    # same-named COLUMN must not clobber an existing session view
    fixtures.createDataFrame([Row(tt=5)]).createOrReplaceTempView(
        "summary_tbl"
    )
    fixtures.createDataFrame([Row(z=1)]).createOrReplaceTempView("tt")
    try:
        rows = execute(
            fixtures,
            "SELECT tt FROM summary_tbl",
            snapshots={"tt": store},
        ).collect()
        assert rows[0].tt == 5
        # the session view named tt was NOT overwritten
        assert fixtures.table("tt").columns == ["z"]
    finally:
        fixtures.catalog.dropTempView("summary_tbl")
        fixtures.catalog.dropTempView("tt")


def test_nl_decontaminate_intent(fixtures):
    from karna_spark.frontends.nl import NLError, ask

    out = ask(fixtures, "Flag contaminated documents against src0")
    rows = {r["doc_id"]: r["n_flagged"] for r in out.collect()}
    # every train doc reports a count — some flagged, the rest zero
    assert rows and any(v >= 1 for v in rows.values())
    assert any(v == 0 for v in rows.values())
    # phrasing-invariant dispatch
    alt = ask(fixtures, "contaminated documents vs source src0?")
    assert {r["doc_id"]: r["n_flagged"] for r in alt.collect()} == rows
    # guards: a text table without a source column, and an unknown
    # tag, both refuse loudly
    fixtures.createDataFrame(
        [(1, "alpha beta gamma delta")], "id long, text string"
    ).createOrReplaceTempView("notes")
    with pytest.raises(NLError, match="'source' column"):
        ask(fixtures, "flag contaminated notes against src0")
    with pytest.raises(NLError, match="benchmark side"):
        ask(fixtures, "flag contaminated documents against nope99")


def test_sql_describe_history(fixtures, tmp_path):
    from karna_spark.frontends.sql import SQLFrontendError, execute
    from karna_spark.io.snapshots import SnapshotStore

    clock = iter([1000.0, 2000.0]).__next__
    store = SnapshotStore(str(tmp_path / "t"), "p", clock=clock)
    from pyspark.sql import Row

    store.commit(fixtures.createDataFrame([Row(k=1, p="a", val=10)]))
    store.upsert(
        fixtures, fixtures.createDataFrame([Row(k=1, p="a", val=11)]), ["k"]
    )
    rows = execute(
        fixtures, "DESCRIBE HISTORY tt", snapshots={"tt": store}
    ).orderBy("version").collect()
    assert [(r.version, r.operation) for r in rows] == [
        (1, "commit"), (2, "upsert")]
    assert [r.committed_at for r in rows] == [1000.0, 2000.0]
    import pytest

    with pytest.raises(SQLFrontendError, match="unregistered"):
        execute(fixtures, "describe history nope", snapshots={"tt": store})
    with pytest.raises(SQLFrontendError, match="unregistered"):
        execute(fixtures, "DESCRIBE HISTORY tt")
