"""Natural-language front-end: NL question → SQL text → Spark.

The reference declares Natural Language as its third query surface
(reference README.md:2) with no implementation. Per SURVEY.md §2.10 the
Spark-native realization is strictly text→text: a deterministic
grammar-based translator over the registered-schema vocabulary emits an
ANSI SQL string, and the unchanged SQL engine (``spark.sql``) executes
it. No LLM dependency — translation is reproducible and offline-
testable; an LLM backend could later produce the same SQL strings
without touching the engine.

Grammar (case-insensitive; <filters> may repeat, "and"-separated):

  total|sum of|average|avg|mean|max|maximum|min|minimum
        <measure> by <dim> in|from|for <table> [<filters>] [top N]
  count of|how many|number of <table> [by <dim>] [<filters>]
  [show|list] top N <table> by <measure> [ascending|descending] [<filters>]

  <dim> may name a column of a JOINED dimension table as
  "<dim-table> <column>" ("nation name", "region name"): the
  translator walks the FK join vocabulary (JOIN_EDGES, shortest path
  BFS) from the queried table and emits the necessary JOIN clauses —
  "total quantity by nation name in lineitem" joins lineitem →
  supplier → nation. Resolution stays deterministic: the phrase must
  resolve in the queried table first; only on failure is the leading
  word run against the table vocabulary.

  filters:  where|whose|with <col> is|equals|= <value>
            with|where <col> over|above|at least|greater than <num>
            with|where <col> under|below|at most|less than <num>

Column mention resolution: a phrase resolves to a column of the target
table if, after lowercasing and removing spaces/underscores, it equals
the column name or the column name minus its TPC-H-style prefix
("total price" → totalprice → o_totalprice). Ambiguity is an error —
the translator refuses rather than guesses.

Scale: output is a SQL string; everything downstream is the ordinary
Catalyst path (§3.2), so NL queries get pushdown/pruning/broadcast for
free — the reason this layer stays text-only.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from karna_spark.catalog import FIXTURE_TABLES


class NLError(ValueError):
    pass


# Table → columns vocabulary (FIXTURES.md) for the fixture star schema.
# Pinned here so translation is testable without a SparkSession; a live
# session EXTENDS it with every registered table via
# ``vocabulary_from_session`` (``ask`` does this automatically).
TABLE_COLUMNS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}

_AGG_WORDS = {
    "total": "SUM",
    "sum of": "SUM",
    "sum": "SUM",
    "average": "AVG",
    "avg": "AVG",
    "mean": "AVG",
    "maximum": "MAX",
    "max": "MAX",
    "minimum": "MIN",
    "min": "MIN",
}

_TABLE_ALIASES = {name: name for name in FIXTURE_TABLES}
_TABLE_ALIASES.update(
    {
        "order": "orders",
        "customers": "customer",
        "suppliers": "supplier",
        "parts": "part",
        "nations": "nation",
        "regions": "region",
        "lineitems": "lineitem",
        "line items": "lineitem",
        "event": "events",
        "document": "documents",
        "docs": "documents",
        "embedding": "embeddings",
    }
)


# FK join vocabulary: directed edges fact → dimension, each one hop of
# (dim_table, fk_col, pk_col). Mirrors the GraphQL REL_SCHEMA
# (frontends/graphql.py) — both front-ends navigate the same star
# schema. Every edge joins toward a smaller table, so every emitted
# JOIN is a broadcast-able dimension join at scale.
JOIN_EDGES: dict[str, list[tuple[str, str, str]]] = {
    "customer": [("nation", "c_nationkey", "n_nationkey")],
    "supplier": [("nation", "s_nationkey", "n_nationkey")],
    "nation": [("region", "n_regionkey", "r_regionkey")],
    "orders": [("customer", "o_custkey", "c_custkey")],
    "lineitem": [
        ("supplier", "l_suppkey", "s_suppkey"),
        ("orders", "l_orderkey", "o_orderkey"),
        ("part", "l_partkey", "p_partkey"),
    ],
}


@dataclass
class Vocabulary:
    """Everything the translator needs to know about a schema: table
    columns, name aliases, and FK join edges. The module-level fixture
    dicts form the default instance; ``vocabulary_from_session``
    extends it with live catalog tables and metastore FK metadata, so
    the grammar works over ANY registered dataset — the reference
    promises all three surfaces over arbitrary tabular files
    (reference README.md:2)."""

    table_columns: dict[str, tuple[str, ...]] = field(default_factory=dict)
    aliases: dict[str, str] = field(default_factory=dict)
    join_edges: dict[str, list[tuple[str, str, str]]] = field(default_factory=dict)

    def add_table(self, name: str, cols: tuple[str, ...]) -> None:
        lname = name.lower()
        self.table_columns.setdefault(lname, tuple(cols))
        self.aliases.setdefault(lname, lname)
        # naive singular/plural variants — fixture aliases win (setdefault)
        if lname.endswith("s"):
            self.aliases.setdefault(lname[:-1], lname)
        else:
            self.aliases.setdefault(lname + "s", lname)
        self.aliases.setdefault(lname.replace("_", " "), lname)


def _fixture_vocab() -> Vocabulary:
    return Vocabulary(
        table_columns=dict(TABLE_COLUMNS),
        aliases=dict(_TABLE_ALIASES),
        join_edges={t: list(es) for t, es in JOIN_EDGES.items()},
    )


DEFAULT_VOCAB = _fixture_vocab()


def vocabulary_from_session(spark: SparkSession, metastore=None) -> Vocabulary:
    """Fixture vocabulary extended with every table/view visible in the
    session catalog (columns from plan analysis — no Spark job) and FK
    edges declared in the metastore's DatasetRecords."""
    vocab = _fixture_vocab()
    # Read the session catalog's metadata directly: the same names, in
    # the same order, as ``spark.catalog.listTables()`` (current
    # database, then local temp views). The public call builds a
    # Dataset[Table] and reads it back through five Spark jobs.
    jcat = spark._jsparkSession.sessionState().catalog()
    idents = jcat.listTables(jcat.getCurrentDatabase())
    names = [idents.apply(i).table() for i in range(idents.length())]
    for name in names:
        if name.lower() in vocab.table_columns:
            continue
        try:
            vocab.add_table(name, tuple(spark.table(name).columns))
        except Exception:
            continue  # view vanished between list and read
    if metastore is not None:
        for rec in metastore.list():
            for fk in rec.foreign_keys:
                fk_col, parent_table, parent_col = fk
                edges = vocab.join_edges.setdefault(rec.name.lower(), [])
                edge = (parent_table.lower(), fk_col, parent_col)
                if edge not in edges:
                    edges.append(edge)
    return vocab


def _join_path(
    src: str, dst: str, vocab: Vocabulary
) -> list[tuple[str, str, str]] | None:
    """Shortest FK path src → dst (BFS; edge-list order breaks ties
    deterministically). Returns the hop list or None."""
    frontier: list[tuple[str, list[tuple[str, str, str]]]] = [(src, [])]
    seen = {src}
    while frontier:
        nxt: list[tuple[str, list[tuple[str, str, str]]]] = []
        for at, path in frontier:
            for edge in vocab.join_edges.get(at, []):
                dim_table = edge[0]
                if dim_table in seen:
                    continue
                new_path = path + [edge]
                if dim_table == dst:
                    return new_path
                seen.add(dim_table)
                nxt.append((dim_table, new_path))
        frontier = nxt
    return None


def _norm(s: str) -> str:
    return re.sub(r"[\s_]+", "", s.lower())


def resolve_table(phrase: str, vocab: Vocabulary = DEFAULT_VOCAB) -> str:
    t = vocab.aliases.get(phrase.strip().lower())
    if not t:
        raise NLError(f"unknown table {phrase!r}")
    return t


def resolve_column(
    table: str, phrase: str, vocab: Vocabulary = DEFAULT_VOCAB
) -> str:
    """Phrase → column of ``table``; exact (prefix-stripped) match only."""
    want = _norm(phrase)
    cols = vocab.table_columns.get(table, ())
    hits = []
    for c in cols:
        bare = c.split("_", 1)[1] if "_" in c else c
        if want in (_norm(c), _norm(bare)):
            hits.append(c)
    if len(hits) == 1:
        return hits[0]
    if len(hits) > 1:
        raise NLError(f"ambiguous column {phrase!r} in {table}: {hits}")
    raise NLError(f"no column matching {phrase!r} in {table} (have {list(cols)})")


def resolve_dim(
    table: str, phrase: str, vocab: Vocabulary = DEFAULT_VOCAB
) -> tuple[str, list[str]]:
    """Resolve a grouping phrase to (column, JOIN clauses).

    Same-table columns win outright; otherwise the longest leading
    word-prefix naming a known table is interpreted as a joined
    dimension ("nation name" → nation.n_name reached via the
    vocabulary's join edges). Refuses (never guesses) when neither
    reading works. All emitted references are table-qualified so the
    SQL stays unambiguous even when FK and PK share a column name
    (common outside the TPC-H prefix convention)."""
    try:
        return f"{table}.{resolve_column(table, phrase, vocab)}", []
    except NLError as same_table_err:
        words = phrase.strip().split()
        for cut in range(len(words) - 1, 0, -1):
            dim_table = vocab.aliases.get(" ".join(words[:cut]).lower())
            if not dim_table:
                continue
            path = _join_path(table, dim_table, vocab)
            if path is None:
                raise NLError(
                    f"no join path from {table} to {dim_table} "
                    f"(grammar knows: {sorted(vocab.join_edges)})"
                )
            col = resolve_column(dim_table, " ".join(words[cut:]), vocab)
            joins = []
            prev = table
            for t, fk, pk in path:
                joins.append(f"JOIN {t} ON {prev}.{fk} = {t}.{pk}")
                prev = t
            return f"{dim_table}.{col}", joins
        raise same_table_err


@dataclass
class NLQuery:
    """Structured intermediate: what the grammar extracted."""

    table: str
    select: list[str] = field(default_factory=list)  # SQL select-list items
    filters: list[str] = field(default_factory=list)  # SQL boolean exprs
    group_by: list[str] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    joins: list[str] = field(default_factory=list)  # full JOIN clauses
    limit: int | None = None

    def to_sql(self) -> str:
        sql = "SELECT " + ", ".join(self.select) + f" FROM {self.table}"
        for j in self.joins:
            sql += f" {j}"
        if self.filters:
            sql += " WHERE " + " AND ".join(self.filters)
        if self.group_by:
            sql += " GROUP BY " + ", ".join(self.group_by)
        if self.order_by:
            sql += " ORDER BY " + ", ".join(self.order_by)
        if self.limit is not None:
            sql += f" LIMIT {self.limit}"
        return sql


def _sql_literal(raw: str) -> str:
    raw = raw.strip().strip("'\"")
    if re.fullmatch(r"-?\d+(\.\d+)?", raw):
        return raw
    return "'" + raw.replace("'", "''") + "'"


_FILTER_PATTERNS: list[tuple[re.Pattern, str]] = [
    (
        re.compile(
            r"(?:where|whose|with)\s+(?P<col>[\w ]+?)\s+(?:is|equals|=)\s+(?P<val>'[^']*'|\"[^\"]*\"|\S+)",
            re.IGNORECASE,
        ),
        "=",
    ),
    (
        re.compile(
            r"(?:where|with)\s+(?P<col>[\w ]+?)\s+(?:over|above|at least|greater than)\s+(?P<val>-?[\d.]+)",
            re.IGNORECASE,
        ),
        ">=",
    ),
    (
        re.compile(
            r"(?:where|with)\s+(?P<col>[\w ]+?)\s+(?:under|below|at most|less than)\s+(?P<val>-?[\d.]+)",
            re.IGNORECASE,
        ),
        "<=",
    ),
]


def _parse_filters(
    rest: str, table: str, vocab: Vocabulary = DEFAULT_VOCAB
) -> list[str]:
    out: list[str] = []
    text = rest
    while True:
        best = None
        for pat, op in _FILTER_PATTERNS:
            m = pat.search(text)
            if m and (best is None or m.start() < best[0].start()):
                best = (m, op)
        if best is None:
            break
        m, op = best
        col = resolve_column(table, m.group("col"), vocab)
        out.append(f"{table}.{col} {op} {_sql_literal(m.group('val'))}")
        text = text[: m.start()] + text[m.end() :]
    return out


_TOP_RE = re.compile(r"\btop\s+(\d+)\b", re.IGNORECASE)
_AGG_RE = re.compile(
    r"^(?P<agg>total|sum of|sum|average|avg|mean|maximum|max|minimum|min)\s+"
    r"(?P<measure>[\w ]+?)\s+by\s+(?P<dim>[\w ]+?)\s+(?:in|from|for)\s+(?P<table>[\w ]+?)"
    r"(?P<rest>\s+.*)?$",
    re.IGNORECASE,
)
_COUNT_RE = re.compile(
    r"^(?:count of|how many|number of)\s+(?P<table>[\w ]+?)"
    r"(?:\s+by\s+(?P<dim>[\w ]+?))?(?P<rest>\s+(?:where|whose|with|top).*)?$",
    re.IGNORECASE,
)
_TOPN_RE = re.compile(
    r"^(?:show\s+|list\s+)?top\s+(?P<n>\d+)\s+(?P<table>[\w ]+?)\s+by\s+"
    r"(?P<measure>[\w ]+?)(?:\s+(?P<dir>ascending|descending|asc|desc))?"
    r"(?P<rest>\s+(?:where|whose|with).*)?$",
    re.IGNORECASE,
)


def to_sql(question: str, vocab: Vocabulary = DEFAULT_VOCAB) -> str:
    """Translate one NL question to a SQL string. Deterministic; raises
    ``NLError`` on anything outside the grammar (never guesses).
    Matching is case-insensitive; string literal *values* keep their
    original case ('F' stays 'F'). ``vocab`` defaults to the fixture
    star schema; pass ``vocabulary_from_session(spark, metastore)`` to
    translate over any registered dataset."""
    q = re.sub(r"[?.!]+$", "", question.strip())
    q = re.sub(r"\s+", " ", q)

    m = _AGG_RE.match(q)
    if m:
        table = resolve_table(m.group("table"), vocab)
        rest = m.group("rest") or ""
        agg = _AGG_WORDS[m.group("agg").lower()]
        measure = resolve_column(table, m.group("measure"), vocab)
        dim, joins = resolve_dim(table, m.group("dim"), vocab)
        alias = f"{agg.lower()}_{measure}"
        nl = NLQuery(
            table,
            select=[dim, f"{agg}({table}.{measure}) AS {alias}"],
            group_by=[dim],
            joins=joins,
            filters=_parse_filters(_TOP_RE.sub("", rest), table, vocab),
        )
        top = _TOP_RE.search(rest)
        if top:
            nl.limit = int(top.group(1))
            nl.order_by = [f"{alias} DESC", dim]
        else:
            nl.order_by = [dim]
        return nl.to_sql()

    m = _COUNT_RE.match(q)
    if m:
        table = resolve_table(m.group("table"), vocab)
        rest = m.group("rest") or ""
        nl = NLQuery(
            table, filters=_parse_filters(_TOP_RE.sub("", rest), table, vocab)
        )
        if m.group("dim"):
            dim, nl.joins = resolve_dim(table, m.group("dim"), vocab)
            nl.select = [dim, "COUNT(*) AS count"]
            nl.group_by = [dim]
            top = _TOP_RE.search(rest)
            if top:
                nl.limit = int(top.group(1))
                nl.order_by = ["count DESC", dim]
            else:
                nl.order_by = [dim]
        else:
            nl.select = ["COUNT(*) AS count"]
        return nl.to_sql()

    m = _TOPN_RE.match(q)
    if m:
        table = resolve_table(m.group("table"), vocab)
        measure = resolve_column(table, m.group("measure"), vocab)
        direction = "ASC" if (m.group("dir") or "desc").lower().startswith("asc") else "DESC"
        pk = vocab.table_columns[table][0]
        nl = NLQuery(
            table,
            select=["*"],
            filters=_parse_filters(m.group("rest") or "", table, vocab),
            # unique-key tie-break → deterministic at any parallelism
            order_by=[f"{table}.{measure} {direction}", f"{table}.{pk}"],
            limit=int(m.group("n")),
        )
        return nl.to_sql()

    raise NLError(
        f"question not in grammar: {question!r} — supported forms: "
        "'total X by Y in T', 'count of T [by Y]', 'top N T by X' "
        "(operator-backed, via ask(): 'find near-duplicates in T', "
        "'deduplicate T exactly', 'sample N% of T stratified by C', "
        "'top K T matching <terms>', '[top K] T containing X and Y "
        "[but not Z]', 'how many users did A then B then C [in T]', "
        "'flag contaminated T against <source>')"
    )


_DEDUP_RE = re.compile(
    r"(?i)^(?:find |show |list )?near[ -]?duplicate"
    r"(?:s| pairs| documents| docs)?"
    r"(?: (?:in|of|among) (?P<table>[a-z_ ]+))?$"
)

_EXACT_DEDUP_RE = re.compile(
    r"(?i)^(?:(?:de-?duplicate|dedupe?) (?P<table>[a-z_ ]+?)(?: exactly)?"
    r"|remove exact duplicates? (?:from|in) (?P<table2>[a-z_ ]+))$"
)

_STRAT_SAMPLE_RE = re.compile(
    r"(?i)^(?:sample|take) (?P<pct>\d+(?:\.\d+)?)\s*(?:%|percent) "
    r"(?:of )?(?P<table>[a-z_ ]+?) stratified (?:by|on) (?P<col>[a-z_ ]+)$"
)

_BM25_RE = re.compile(
    r"(?i)^(?:show |list |find )?top (?P<k>\d+) (?P<table>[a-z_ ]+?) "
    r"(?:matching|about|mentioning) (?P<terms>.+)$"
)

_BOOL_RE = re.compile(
    r"(?i)^(?:show |list |find )?(?:top (?P<k>\d+) )?(?P<table>[a-z_ ]+?) "
    r"containing (?P<pos>[a-z0-9_' ]+?)"
    r"(?: (?:but not|without|excluding) (?P<neg>[a-z0-9_' ]+?))?$"
)

_HYBRID_RE = re.compile(
    r"(?i)^(?:show |list |find )?top (?P<k>\d+) (?P<table>[a-z_ ]+?) "
    r"hybrid (?:matching|search(?:ing)?(?: for)?) "
    r"(?P<terms>[a-z0-9_' ]+?) "
    r"near (?:doc(?:ument)?|vector|item) (?P<id>\d+)$"
)

_DECON_RE = re.compile(
    r"(?i)^(?:flag |find |list )?contaminated (?P<table>[a-z_ ]+?) "
    r"(?:against|versus|vs) (?:benchmark |source )?(?P<src>[a-z0-9_]+)$"
)

_FUNNEL_RE = re.compile(
    r"(?i)^(?:how many|count(?: of)?) (?P<entity>users|customers) "
    r"(?:did|who did|completed|who completed) "
    r"(?P<steps>[a-z_]+(?: then [a-z_]+)+)"
    r"(?: in (?P<table>[a-z_ ]+))?$"
)


def _split_terms(phrase: str) -> list[str]:
    """'vector and stream' / 'vector, stream' → ['vector', 'stream'].
    The connector split is case-insensitive like the intent regexes
    that feed it — 'vector AND stream' must split, not silently become
    one never-matching term."""
    return [
        t.strip().strip("'\"")
        for t in re.split(r"(?i)(?:,| and )+", phrase.strip())
        if t.strip().strip("'\"")
    ]

# Text-bearing column names the operator-backed intents recognize.
_TEXT_COLS = ("text", "body", "content")


def _text_table(
    m_table: str | None, vocab: Vocabulary
) -> tuple[str, str, str]:
    """Resolve an intent's table phrase to (table, id_col, text_col);
    refuses tables without a recognizable text column."""
    table = resolve_table(m_table or "documents", vocab)
    cols = vocab.table_columns[table]
    text_col = next((c for c in cols if c in _TEXT_COLS), None)
    if text_col is None:
        raise NLError(
            f"this intent needs a text column on {table} "
            f"(one of {_TEXT_COLS}); found {cols}"
        )
    return table, cols[0], text_col


def ask(spark: SparkSession, question: str, metastore=None) -> DataFrame:
    """NL question → DataFrame. Grammar questions go through the SQL
    surface (``to_sql``); OPERATOR-BACKED intents — questions whose
    answer is an engine operator, not a SQL string — dispatch directly
    to the certified operator library:

    - 'find near-duplicate documents [in <table>]' → MinHash-LSH pair
      operator (threshold 0.5, the `dedup_minhash_lsh` configuration);
    - 'deduplicate <table> [exactly]' / 'remove exact duplicates from
      <table>' → exact dedup summary keyed on md5(text): one row per
      distinct content with the deterministic survivor (min id) and
      multiplicity;
    - 'sample N% of <table> stratified by <col>' → deterministic
      stratified quota sampler (operators/sampling.py);
    - 'top K <table> matching <terms>' → BM25 top-k retrieval
      (operators/retrieval.py);
    - 'flag contaminated <table> against <source>' → broadcast-Bloom
      n-gram decontamination (operators/bloom.py, F37): the named
      source is the benchmark side, every other doc reports its
      flagged 4-gram count.

    Every intent resolves tables/columns through the same live
    vocabulary as grammar questions — any registered table with an
    id + text column works. The vocabulary is derived from the session
    catalog (every registered table/view becomes queryable by name)
    plus the fixture star schema; pass a ``Metastore`` to pick up
    declared FK edges for cross-table joins."""
    vocab = vocabulary_from_session(spark, metastore)
    q = re.sub(r"[?.!]+$", "", question.strip())
    q = re.sub(r"\s+", " ", q)
    m = _DEDUP_RE.match(q)
    if m:
        table, id_col, text_col = _text_table(m.group("table"), vocab)
        from karna_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            spark.table(table),
            id_col,
            text_col,
            threshold=0.5,
            num_perm=64,
            bands=16,
            shingle_n=2,
        )
    m = _EXACT_DEDUP_RE.match(q)
    if m:
        table, id_col, text_col = _text_table(
            m.group("table") or m.group("table2"), vocab
        )
        from pyspark.sql import functions as F

        from karna_spark.operators.dedup import exact_dedup_summary

        # Key on the content digest, not the content: the dedup
        # shuffle carries 32-byte fingerprints even when documents
        # are megabytes.
        return exact_dedup_summary(
            spark.table(table), F.md5(F.col(text_col).cast("binary")), id_col
        )
    m = _STRAT_SAMPLE_RE.match(q)
    if m:
        table = resolve_table(m.group("table"), vocab)
        col = resolve_column(table, m.group("col"), vocab)
        pct = float(m.group("pct"))
        if not 0 < pct <= 100:
            raise NLError(f"sample percentage out of range: {pct}")
        from karna_spark.operators.sampling import stratified_quota

        pk = vocab.table_columns[table][0]
        return stratified_quota(spark.table(table), col, pk, pct / 100.0)
    # hybrid retrieval: 'top K <table> hybrid matching <terms> near
    # document <id>' — RRF fusion (F35) of the BM25 lexical list with
    # a dense cosine list anchored at <id>'s embedding. Tried BEFORE
    # the plain bm25 form (both start 'top K <table>'; 'hybrid' is
    # the discriminating keyword and _BM25_RE's table group would
    # otherwise swallow it).
    m = _HYBRID_RE.match(q)
    if m:
        table, id_col, text_col = _text_table(m.group("table"), vocab)
        emb_table = resolve_table("embeddings", vocab)
        ecols = vocab.table_columns[emb_table]
        if "embedding" not in ecols:
            raise NLError(
                f"the hybrid intent needs an 'embedding' column on "
                f"{emb_table} (found {ecols})"
            )
        eid = ecols[0]
        from pyspark.sql import functions as F

        from karna_spark.operators.retrieval import hybrid_rrf

        qid = int(m.group("id"))
        emb = spark.table(emb_table)
        # a typo'd anchor id would silently degrade to lexical-only
        # results (empty dense list) — fail loudly like every other
        # NL resolution error instead
        if emb.filter(F.col(eid) == qid).limit(1).count() == 0:
            raise NLError(
                f"no {emb_table} row with {eid} = {qid} to anchor "
                "the dense list"
            )
        return hybrid_rrf(
            spark.table(table), emb, id_col, text_col, eid, "embedding",
            _split_terms(m.group("terms")), anchor_id=qid,
            k=int(m.group("k")),
        )
    m = _BM25_RE.match(q)
    if m:
        table, id_col, text_col = _text_table(m.group("table"), vocab)
        from karna_spark.operators.retrieval import bm25_topk

        terms = m.group("terms").strip().strip("'\"").split()
        return bm25_topk(
            spark.table(table), id_col, text_col, terms, int(m.group("k"))
        )
    # boolean retrieval: 'documents containing X and Y [but not Z]' —
    # dispatches to the certified F33 operator (inverted-index AND/NOT
    # in one grouped conditional aggregate). Tried AFTER the bm25 form
    # (both are '<table> <verb> <terms>' shapes; 'containing' is the
    # boolean keyword, 'matching/about' the ranked one).
    m = _BOOL_RE.match(q)
    if m:
        table, id_col, text_col = _text_table(m.group("table"), vocab)
        from karna_spark.operators.retrieval import boolean_search

        return boolean_search(
            spark.table(table),
            id_col,
            text_col,
            _split_terms(m.group("pos")),
            _split_terms(m.group("neg")) if m.group("neg") else [],
            k=int(m.group("k")) if m.group("k") else None,
        )
    # decontamination: 'flag contaminated <table> against <source>' —
    # the F37 broadcast-Bloom n-gram probe (operators/bloom.py): the
    # named source's docs are the held-out benchmark, every other doc
    # reports its count of flagged 4-grams. The map-only scale path a
    # curator reaches by naming the eval suite's source tag.
    m = _DECON_RE.match(q)
    if m:
        table, id_col, text_col = _text_table(m.group("table"), vocab)
        cols = vocab.table_columns[table]
        if "source" not in cols:
            raise NLError(
                f"the contamination intent needs a 'source' column on "
                f"{table} (found {cols})"
            )
        src = m.group("src")
        from pyspark.sql import functions as F

        from karna_spark.operators.bloom import bloom_flag_ngrams

        df = spark.table(table)
        if df.filter(F.col("source") == src).limit(1).count() == 0:
            raise NLError(
                f"no {table} rows with source = {src!r} to act as the "
                "benchmark side"
            )
        return bloom_flag_ngrams(
            df.filter(F.col("source") != src),
            df.filter(F.col("source") == src),
            id_col,
            text_col,
            n=4,
        )
    # funnel / row-pattern: 'how many users did view then click then
    # purchase [in events]' — the T19 family's skip-to subsequence
    # semantics over the raw event-type arrays (operators/patterns.py;
    # no symbol-alphabet assumption, so types sharing a first letter
    # cannot collide).
    m = _FUNNEL_RE.match(q)
    if m:
        table = resolve_table(m.group("table") or "events", vocab)
        cols = vocab.table_columns[table]
        for need in ("user_id", "event_type", "ts"):
            if need not in cols:
                raise NLError(
                    f"the funnel intent needs {need!r} on {table} "
                    f"(found {cols})"
                )
        from karna_spark.operators.patterns import funnel_user_count

        order = ("ts", "event_id") if "event_id" in cols else ("ts",)
        # the step split is case-insensitive like the intent regex
        # ('view Then click' must split); step VALUES keep their case —
        # they compare against data
        return funnel_user_count(
            spark.table(table),
            re.split(r"(?i) then ", m.group("steps")),
            entity_col="user_id",
            type_col="event_type",
            order_cols=order,
        )
    return spark.sql(to_sql(question, vocab))
