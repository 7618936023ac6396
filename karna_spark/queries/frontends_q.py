"""Front-end surfaces as oracle-checked queries (SURVEY.md §2.10, M5).

The reference's single load-bearing sentence declares three query
surfaces — SQL, GraphQL, Natural Language (reference README.md:2).
Each entry here drives a full front-end round trip: surface text →
translator → DataFrame plan → results, hash-compared against a
hand-written DuckDB oracle. This is the round-trip test SURVEY.md §5.2
calls for, run at driver level.

All three surfaces converge on the same Catalyst lifecycle (§3.2), so
the scale posture is inherited: broadcast dimension joins, partial
aggregation, TakeOrderedAndProject for top-k — checked once in the
relational core, reused here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from karna_spark.catalog import load_fixture_tables
from karna_spark.queries.vectors import RRF_ORACLE_SQL as _RRF_ORACLE
from karna_spark.queries.registry import register_query

_NON_EVENT_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
)


def _fixtures(spark: SparkSession, sf_dir: str) -> None:
    # events excluded: its ns-precision ts needs the registry's special
    # reader (registry.table) and no front-end query here touches it.
    load_fixture_tables(spark, sf_dir, _NON_EVENT_TABLES)


# ---------------------------------------------------------------- SQL surface
_SQL_TEXT = """
SELECT
  n_name,
  o_orderpriority,
  COUNT(*) AS order_count,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
GROUP BY n_name, o_orderpriority
"""


@register_query(
    "frontend_sql_passthrough",
    oracle=_SQL_TEXT,
    tags="S6 P1 P2 J1 A1",
)
def frontend_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: identical text through karna's read-only SQL
    surface and the DuckDB oracle — the purest statement of 'the SQL
    surface is ANSI SQL'. Joins to nation/customer broadcast (dims);
    the one shuffle is the group-by key."""
    from karna_spark.frontends import sql as sql_fe

    _fixtures(spark, sf_dir)
    return sql_fe.execute(spark, _SQL_TEXT)


# ------------------------------------------------------------ GraphQL surface
_GQL_FILTER_JOIN = """
query {
  orders(
    where: {o_totalprice: {gte: 200000}, o_orderstatus: {neq: "P"}},
    orderBy: [{o_totalprice: DESC}, {o_orderkey: ASC}],
    limit: 25
  ) {
    o_orderkey
    o_orderstatus
    o_totalprice
    customer {
      c_name
      c_mktsegment
      nation { n_name }
    }
  }
}
"""


@register_query(
    "frontend_graphql_filter_join",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, c_name, c_mktsegment, n_name
    FROM orders
    LEFT JOIN customer ON o_custkey = c_custkey
    LEFT JOIN nation ON c_nationkey = n_nationkey
    WHERE o_totalprice >= 200000 AND o_orderstatus <> 'P'
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags="S6 P1 P2 J2 J7 O1 O3",
)
def frontend_graphql_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphQL front-end: where/orderBy/limit arguments + two-level
    many-to-one nesting (orders→customer→nation), flattened to the
    SQL-join shape for the oracle. Both dimension joins broadcast —
    the fact side never shuffles; orderBy+limit fuses to a
    TakeOrderedAndProject (top-k, no full sort at 100 TB)."""
    from karna_spark.frontends.graphql import translate

    _fixtures(spark, sf_dir)
    return translate(spark, _GQL_FILTER_JOIN, flat=True)


_GQL_AGGREGATE = """
query {
  part_aggregate(
    groupBy: ["p_brand"],
    where: {p_size: {lte: 40}},
    orderBy: [{p_brand: ASC}]
  ) {
    count
    sum { p_size }
    min { p_retailprice }
    max { p_retailprice }
  }
}
"""


@register_query(
    "frontend_graphql_aggregate",
    oracle="""
    SELECT
      p_brand,
      COUNT(*) AS count,
      CAST(SUM(p_size) AS BIGINT) AS sum_p_size,
      MIN(p_retailprice) AS min_p_retailprice,
      MAX(p_retailprice) AS max_p_retailprice
    FROM part
    WHERE p_size <= 40
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    tags="S6 A1 A2 P2",
)
def frontend_graphql_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphQL aggregate field (hasura-style `<table>_aggregate`):
    groupBy + count/sum/min/max sub-selections. sum over an integer
    column and min/max (no arithmetic) keep values engine-exact.
    Partial/final hash-agg → shuffle carries one row per group."""
    from karna_spark.frontends.graphql import translate

    _fixtures(spark, sf_dir)
    return translate(spark, _GQL_AGGREGATE)


# ------------------------------------------------- Natural-language surface
_NL_AGG = "total quantity by return flag in lineitem with discount under 0.05"
# → SELECT l_returnflag, SUM(l_quantity) AS sum_l_quantity FROM lineitem
#   WHERE l_discount <= 0.05 GROUP BY l_returnflag ORDER BY l_returnflag
# (l_quantity is whole-valued in the fixtures — SUM of whole doubles is
# exact integer arithmetic below 2^53, order-independent.)

@register_query(
    "frontend_nl_aggregate",
    oracle=(
        "SELECT l_returnflag, SUM(l_quantity) AS sum_l_quantity FROM lineitem "
        "WHERE l_discount <= 0.05 GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    tags="S6 A1 P2",
)
def frontend_nl_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, aggregate form: the grammar resolves 'quantity' /
    'return flag' / 'discount' against the lineitem schema and emits
    SQL; the oracle is the SQL the translator is expected to produce
    (round-trip equality, SURVEY.md §5.2)."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(spark, _NL_AGG)


_NL_JOIN_AGG = "total quantity by nation name in lineitem"


@register_query(
    "frontend_nl_join_aggregate",
    oracle=(
        "SELECT n_name, SUM(l_quantity) AS sum_l_quantity FROM lineitem "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name"
    ),
    tags="S6 A1 J1 J7",
)
def frontend_nl_join_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, cross-table form: 'nation name' is not a lineitem
    column, so the grammar walks the FK join vocabulary (lineitem →
    supplier → nation, shortest path) and emits the JOINs. Both hops
    are dimension joins Catalyst broadcasts; l_quantity is whole-valued
    so the SUM is engine-exact."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(spark, _NL_JOIN_AGG)


_GQL_NESTED_LIST = """
query {
  nation(orderBy: [{n_name: ASC}]) {
    n_nationkey
    n_name
    customers { c_name }
  }
}
"""


@register_query(
    "frontend_graphql_nested_list",
    oracle="""
    SELECT n_nationkey, n_name,
           coalesce(array_to_string(
             list_sort(list(c_name) FILTER (WHERE c_name IS NOT NULL)),
             '|'), '') AS customer_names
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    ORDER BY n_name
    """,
    tags="S6 J2 A9 O1",
)
def frontend_graphql_nested_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphQL one-to-many (relay-style) nesting: each nation carries
    its customers as a nested list. The translator plans one shuffle on
    the parent key (groupBy + sorted collect_list) then a left join —
    at 100 TB that is the minimal movement the semantics allow (children
    must co-locate with their parent). For the oracle hash the struct
    array is flattened to a sorted '|'-joined scalar (the driver's
    canonicalizer cannot hash bare array columns); the struct shape
    itself is covered by tests/test_frontends.py."""
    from pyspark.sql import functions as F

    from karna_spark.frontends.graphql import translate

    _fixtures(spark, sf_dir)
    nested = translate(spark, _GQL_NESTED_LIST)
    names = F.transform("customers", lambda s: s.getField("c_name"))
    return nested.select(
        "n_nationkey",
        "n_name",
        F.concat_ws(
            "|", F.sort_array(F.filter(names, lambda x: x.isNotNull()))
        ).alias("customer_names"),
    )


# ------------------------------------- dynamic (runtime-registered) schemas
#
# The reference promises its query surfaces over *arbitrary* tabular
# files (reference README.md:2), not a fixed star schema. These two
# entries certify that at driver level: a table that exists only as a
# runtime temp view is NL-queryable by name (vocabulary derived from
# the session catalog), and GraphQL nests across a relationship that
# exists only as runtime metadata (rel_schema extension — the same
# structure rel_schema_from_metastore derives from declared FK edges).


@register_query(
    "frontend_nl_dynamic_view",
    oracle=(
        "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars "
        "FROM documents GROUP BY lang ORDER BY lang"
    ),
    tags="S6 A1 FE-NL",
)
def frontend_nl_dynamic_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL over a runtime-registered view: ``corpus_profile`` is not in
    the fixture vocabulary — ``ask`` derives table and column names
    from the live session catalog, honoring the reference's promise of
    NL over arbitrary registered tabular data."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    spark.table("documents").select(
        "doc_id", "lang", "source", "n_chars"
    ).createOrReplaceTempView("corpus_profile")
    return ask(spark, "total n chars by lang in corpus_profile")


@register_query(
    "frontend_graphql_dynamic_rel",
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, s.n_docs
    FROM documents d JOIN s USING (source)
    WHERE d.doc_id < 100
    """,
    tags="S6 J1 A1 FE-GQL",
)
def frontend_graphql_dynamic_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphQL many-to-one nesting across a relationship declared at
    runtime: ``docs_v.src`` points at a derived per-source stats view,
    neither of which exists in the fixture REL_SCHEMA. The rel_schema
    override is exactly what ``rel_schema_from_metastore`` builds from
    declared FK edges; the broadcast dimension-join plan is the same
    as for fixture relationships."""
    from karna_spark.frontends.graphql import REL_SCHEMA, ManyToOne, translate

    _fixtures(spark, sf_dir)
    docs = spark.table("documents")
    docs.createOrReplaceTempView("docs_v")
    docs.groupBy("source").agg(
        F.count("*").alias("n_docs")
    ).createOrReplaceTempView("doc_source_stats")
    rel = {**REL_SCHEMA, "docs_v": {"src": ManyToOne("source", "doc_source_stats", "source")}}
    return translate(
        spark,
        """
        query {
          docs_v(where: {doc_id: {lt: 100}}) {
            doc_id
            source
            src { n_docs }
          }
        }
        """,
        flat=True,
        rel_schema=rel,
    )


@register_query(
    "frontend_nl_dedup_exact",
    oracle="""
    SELECT md5(text) AS fp,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags="V1 J8 FE-NL",
)
def frontend_nl_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent: 'deduplicate documents
    exactly' dispatches the exact-dedup summary operator — one row per
    distinct content fingerprint with the deterministic survivor (min
    doc_id) and multiplicity. The shuffle key is md5(text), a 32-byte
    digest, so the dedup of a 100 TB corpus moves fingerprints, never
    documents. Hash-certified against DuckDB's md5/group-by."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(spark, "deduplicate documents exactly")


@register_query(
    "frontend_nl_stratified_sample",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM (
      SELECT *,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    WHERE rn <= ceil(n * 0.3)
    """,
    tags="V1 O6 W1 FE-NL",
)
def frontend_nl_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent: 'sample 30% of documents
    stratified by source' dispatches the deterministic stratified
    quota sampler (operators/sampling.py — same operator as
    `sample_stratified_quota`, different stratum/fraction, reached
    through natural language). Returns the full sampled rows: the
    intent's answer is a usable dataset, not a report."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(spark, "sample 30% of documents stratified by source")


@register_query(
    "frontend_nl_bm25_topk",
    oracle="""
    WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
    dl AS (SELECT doc_id, len(ws) AS dl FROM d),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS term FROM d)
      WHERE term IN ('query', 'data')
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term,
             ln(1 + (s.n_docs - count(DISTINCT doc_id) + 0.5)
                    / (count(DISTINCT doc_id) + 0.5)) AS idf
      FROM tf, stats s GROUP BY term, s.n_docs
    )
    SELECT tf.doc_id,
           ROUND(SUM(idf.idf * tf.tf * 2.2
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 4)
             AS bm25
    FROM tf
    JOIN idf USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id, stats s
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 10
    """,
    tags="V1 F9 O3 FE-NL",
)
def frontend_nl_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent: 'top 10 documents
    matching shuffle broadcast' dispatches BM25 top-k retrieval
    (operators/retrieval.py — the `text_bm25_scores` scorer plus a
    TakeOrderedAndProject cut). Ordering uses the ROUNDED score with a
    doc_id tie-break, so the cut line is identical across engines and
    at any parallelism."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(spark, "top 10 documents matching query data")


# Idiomatic client shape: operation with typed variables + named
# fragments (Relay/Apollo codegen always factor selections this way).
_GQL_VARS = """
query HighValueOrders($minTotal: Float!, $status: String!, $page: Int = 25) {
  orders(
    where: {o_totalprice: {gte: $minTotal}, o_orderstatus: {eq: $status}},
    orderBy: [{o_totalprice: DESC}, {o_orderkey: ASC}],
    limit: $page
  ) {
    ...orderCore
    customer {
      ...customerCore
      nation { n_name }
    }
  }
}
fragment orderCore on orders { o_orderkey o_orderstatus o_totalprice }
fragment customerCore on customer { c_name c_mktsegment }
"""


@register_query(
    "frontend_graphql_variables",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, c_name, c_mktsegment, n_name
    FROM orders
    LEFT JOIN customer ON o_custkey = c_custkey
    LEFT JOIN nation ON c_nationkey = n_nationkey
    WHERE o_totalprice >= 150000 AND o_orderstatus = 'O'
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags="S6 FE-GQL P2 J2 O1 O3",
)
def frontend_graphql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphQL front-end, wire-protocol shape: operation variables
    ($minTotal/$status bound by the caller, $page from its declared
    default) plus named fragments spread at two nesting levels — the
    request every real GraphQL client library (Relay, Apollo) sends.
    Substitution and fragment inlining happen before translation, so
    the plan is identical to the inline-literal query: both dimension
    joins broadcast, orderBy+limit fuses to TakeOrderedAndProject.
    tests/test_frontends.py asserts plan parity with the inline
    formulation; the oracle certifies the values."""
    from karna_spark.frontends.graphql import translate

    _fixtures(spark, sf_dir)
    return translate(
        spark,
        _GQL_VARS,
        flat=True,
        variables={"minTotal": 150000, "status": "O"},
    )


@register_query(
    "frontend_nl_near_duplicates",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text,' '))-1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
             )) AS sh
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
    tags="V1 J9 F7",
)
def frontend_nl_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent: 'find near-duplicate
    documents' dispatches to the certified MinHash-LSH pair operator
    instead of a SQL translation — the reference's NL surface promises
    answers over tabular files, and a curation engine's most-asked NL
    question is not an aggregate. The intent resolves the table
    through the same live vocabulary as every grammar question (any
    registered table with an id + text column works), and the hash is
    checked against the exact all-pairs Jaccard oracle — identical
    certification to `dedup_minhash_lsh`, now reached through natural
    language."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(spark, "find near-duplicate documents")


# ------------------------------------------------- NL: boolean retrieval
@register_query(
    "frontend_nl_boolean_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    hits AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN token = 'vector' THEN 1 ELSE 0 END) AS BIGINT) AS tf_vector,
             CAST(SUM(CASE WHEN token = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS tf_stream,
             CAST(SUM(CASE WHEN token = 'filter' THEN 1 ELSE 0 END) AS BIGINT) AS tf_filter,
             CAST(SUM(CASE WHEN token = 'slow'   THEN 1 ELSE 0 END) AS BIGINT) AS tf_slow
      FROM toks
      WHERE token IN ('vector', 'stream', 'filter', 'slow')
      GROUP BY doc_id
    )
    SELECT doc_id, tf_vector, tf_stream, tf_filter,
           tf_vector + tf_stream + tf_filter AS score
    FROM hits
    WHERE tf_vector > 0 AND tf_stream > 0 AND tf_filter > 0 AND tf_slow = 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    tags="V1 F33",
)
def frontend_nl_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent (r11 verdict item 9):
    'top 20 documents containing vector and stream and filter but not
    slow' dispatches to the certified F33 boolean-retrieval operator
    (operators/retrieval.py:boolean_search — inverted-index AND/NOT in
    one grouped conditional aggregate, query-term filter under the
    shuffle). Same oracle as `text_boolean_search`, now reached
    through natural language: the exact search question a corpus
    curator types at the console."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(
        spark,
        "top 20 documents containing vector and stream and filter "
        "but not slow",
    )


# ------------------------------------------------- NL: funnel pattern
@register_query(
    "frontend_nl_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id FROM events
    )
    SELECT CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM e a
    JOIN e b ON b.user_id = a.user_id
            AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
    JOIN e c ON c.user_id = b.user_id
            AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_id > b.event_id))
    WHERE a.event_type = 'view' AND b.event_type = 'click'
      AND c.event_type = 'purchase'
    """,
    tags="V1 T19 A9",
)
def frontend_nl_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent (r11 verdict item 9):
    'how many users did view then click then purchase' dispatches to
    the sequence-pattern family (operators/patterns.py:
    funnel_user_count) — subsequence containment with skip-to
    semantics over per-user chronological event-type arrays, ONE
    shuffle (the per-user collect) + a JVM-side fold, no k-way
    self-join ladder and no symbol-alphabet assumption. The oracle
    derives the same count through an ordered 3-way EXISTS join
    (independent derivation of subsequence existence), so the hash
    certifies the fold semantics, including same-timestamp
    tie-breaking on event_id."""
    from karna_spark.frontends.nl import ask
    from karna_spark.queries.registry import table as _table

    _fixtures(spark, sf_dir)
    _table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return ask(spark, "how many users did view then click then purchase")


@register_query(
    "frontend_nl_hybrid_search",
    # same oracle text as retrieval_rrf_fusion — ONE operator
    # implementation (hybrid_rrf), one oracle, two surfaces
    oracle=_RRF_ORACLE,
    tags="V1 F35",
)
def frontend_nl_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent: 'top 10 documents hybrid
    matching query and join and shuffle near document 0' dispatches to
    the certified F35 reciprocal-rank-fusion pipeline — the BM25
    lexical list fused with a dense cosine list anchored at document
    0's embedding, each truncated top-100 by TakeOrdered before its
    rank window. Same oracle as `retrieval_rrf_fusion`, now reached
    through natural language: the hybrid-search question a RAG builder
    types at the console."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(
        spark,
        "top 10 documents hybrid matching query and join and shuffle "
        "near document 0",
    )


@register_query(
    "frontend_sql_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, year(o_orderdate) AS o_year,
             o_orderkey % 97 AS val
      FROM orders
    )
    SELECT CAST(o_year AS INTEGER) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_changed,
           CAST(SUM(val + 1000) AS BIGINT) AS sum_new_val
    FROM base WHERE k % 7 = 0
    GROUP BY o_year ORDER BY o_year
    """,
    tags="S6 S12 S14",
)
def frontend_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface time travel (frontends/sql.py): Iceberg's
    ``VERSION AS OF`` syntax over a snapshot-store table, with TWO
    pinned versions of the same table in ONE statement — the SQL form
    of a snapshot diff. v1 commits orders keyed by year, v2 upserts
    every 7th key (+1000); the statement EXCEPTs v1 from v2 and
    aggregates the changed rows per year, which the oracle re-derives
    from the base table and the upsert predicate alone. Version
    resolution is manifest-only (driver-side JSON), and each pinned
    reference is partition-pruned exactly like store.read. At 100 TB:
    time travel costs nothing at query time beyond reading the pinned
    manifest — the engine's cross-version analytics (S14 changelog,
    S19 corpus diff) become ad-hoc SQL."""
    import shutil

    from karna_spark.frontends.sql import execute
    from karna_spark.io.snapshots import SnapshotStore
    from karna_spark.queries.registry import table
    from karna_spark.queries.sources_q import _export_dir

    base = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.year("o_orderdate").cast("int").alias("o_year"),
        (F.col("o_orderkey") % 97).alias("val"),
    )
    root = _export_dir(sf_dir, "orders_sql_tt")
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotStore(root, "o_year")
    store.commit(base)                                            # v1
    store.upsert(
        spark,
        base.filter(F.col("k") % 7 == 0)
        .withColumn("val", F.col("val") + 1000),
        key_cols=["k"],
    )                                                             # v2
    return execute(
        spark,
        """
        SELECT o_year,
               CAST(COUNT(*) AS BIGINT) AS n_changed,
               CAST(SUM(val) AS BIGINT) AS sum_new_val
        FROM (
          SELECT * FROM ott VERSION AS OF 2
          EXCEPT
          SELECT * FROM ott VERSION AS OF 1
        )
        GROUP BY o_year ORDER BY o_year
        """,
        snapshots={"ott": store},
    )


# ------------------------------------------- NL: Bloom decontamination
def _nl_decon_oracle() -> str:
    from karna_spark.queries.text_pipeline import _bloom_oracle

    return _bloom_oracle()


@register_query(
    "frontend_nl_decontaminate",
    oracle=_nl_decon_oracle(),
    tags="V1 F37",
)
def frontend_nl_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL front-end, OPERATOR-BACKED intent: 'flag contaminated
    documents against src0' dispatches to the F37 broadcast-Bloom
    n-gram decontamination operator (operators/bloom.py) — the named
    source's docs become the held-out benchmark, every other doc
    reports its count of Bloom-flagged distinct 4-grams via the
    map-only probe. Same oracle as `dedup_bloom_decontaminate`, now
    reached through the question a curator actually asks; a table
    without a 'source' column, or a source tag with no rows, refuses
    loudly instead of returning an empty frame."""
    from karna_spark.frontends.nl import ask

    _fixtures(spark, sf_dir)
    return ask(spark, "flag contaminated documents against src0")
