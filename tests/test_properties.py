"""Property-based tests (hypothesis) for the operators whose edge cases
hand-picked fixtures can miss: as-of join direction/tie semantics vs
pandas.merge_asof (an independent reference implementation),
salted-vs-plain sessionization equivalence on adversarial gap patterns,
rollup merge associativity under random slicing, and connected
components vs a union-find reference.

Each property runs a bounded number of small Spark jobs (max_examples
kept low — a Spark round trip per example costs ~0.5 s); the point is
randomized structure, not volume.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,  # stable CI: same examples every run
)


# (key, ts, value) rows; timestamps unique per (side, key) so tie
# behavior between engines is well-defined (duplicate right-side
# timestamps have no canonical winner in either implementation).
def _side_rows(max_keys=3, max_rows=12):
    return st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=max_keys),
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=max_rows,
        unique_by=lambda r: (r[0], r[1]),
    )


@settings(**SETTINGS)
@given(left=_side_rows(), right=_side_rows(), direction=st.sampled_from(
    ["backward", "forward", "nearest"]))
def test_asof_join_matches_pandas_merge_asof(spark, left, right, direction):
    from karna_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t, v, i) for i, (k, t, v) in enumerate(left)],
        "k long, ts long, lv long, lid long",
    ).select("k", F.timestamp_seconds("ts").alias("ts"), "lv", "lid")
    rdf = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in right] or [],
        "k long, rts long, rv double",
    ).select("k", F.timestamp_seconds("rts").alias("rts"), "rv")
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts",
            value_cols=["rv"], direction=direction,
        ).collect()
    }

    lp = pd.DataFrame(left, columns=["k", "ts", "lv"]).assign(
        lid=range(len(left))
    ).sort_values("ts", kind="stable")
    # Explicit dtypes: an empty literal frame defaults to object
    # columns, which pd.merge_asof rejects as incompatible keys.
    rp = pd.DataFrame(right, columns=["k", "ts", "rv"]).astype(
        {"k": "int64", "ts": "int64", "rv": "float64"}
    ).sort_values("ts", kind="stable")
    if len(lp) == 0:
        assert got == {}
        return
    merged = pd.merge_asof(lp, rp, on="ts", by="k", direction=direction)
    want = {
        int(r.lid): (None if pd.isna(r.rv) else float(r.rv))
        for r in merged.itertuples()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # user
            st.integers(min_value=0, max_value=400),  # ts seconds
        ),
        min_size=1, max_size=30, unique_by=lambda r: (r[0], r[1]),
    ),
    gap=st.integers(min_value=1, max_value=60),
    salt=st.integers(min_value=10, max_value=120),
)
def test_sessionize_salted_equals_plain_property(spark, rows, gap, salt):
    """The salted rewrite must be output-identical to the plain window
    for ANY gap/salt combination — including salts smaller than the
    gap, where almost every bucket boundary needs a merge repair."""
    from karna_spark.operators.sessionize import sessionize, sessionize_salted

    df = spark.createDataFrame(rows, "u long, ts long").select(
        "u", F.timestamp_seconds("ts").alias("ts")
    )
    plain = {
        (r["u"], r["ts"]): r["session_id"]
        for r in sessionize(df, "u", "ts", gap).collect()
    }
    salted = {
        (r["u"], r["ts"]): r["session_id"]
        for r in sessionize_salted(df, "u", "ts", gap, salt_seconds=salt).collect()
    }
    assert plain == salted


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=72),       # hour offset
            st.sampled_from(["a", "b"]),                  # key
            st.integers(min_value=-10_000, max_value=10_000),  # cents
        ),
        min_size=1, max_size=40,
    ),
    mask=st.lists(st.integers(min_value=0, max_value=2), min_size=40, max_size=40),
)
def test_rollup_merge_any_3way_split_equals_full(spark, rows, mask):
    from karna_spark.operators.rollup import (
        finalize_rollup,
        merge_rollups,
        rollup_slice,
    )

    data = [
        (i, 3_600 * h, k, c / 100.0) for i, (h, k, c) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "i long, ts long, k string, value double").select(
        "i", F.timestamp_seconds("ts").alias("ts"), "k", "value"
    )

    def canon(state):
        return sorted(
            (str(r["bucket_ts"]), r["k"], r["n_events"], r["sum_value_c"],
             r["min_value"], r["max_value"])
            for r in state.collect()
        )

    full = rollup_slice(df, "ts", ["k"], "value")
    parts = [
        rollup_slice(df.filter(F.col("i") % 3 == j), "ts", ["k"], "value")
        for j in range(3)
    ]
    assert canon(merge_rollups(*parts)) == canon(full)
    # finalize is deterministic on equal states
    assert (
        sorted(map(tuple, finalize_rollup(merge_rollups(*parts)).collect()))
        == sorted(map(tuple, finalize_rollup(full).collect()))
    )


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=0, max_size=20,
    ).map(lambda es: [(a, b) for a, b in es if a != b])
)
def test_connected_components_matches_union_find(spark, edges):
    from karna_spark.operators.cluster import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {
        v: find(v) for v in {x for e in edges for x in e}
    }

    df = spark.createDataFrame(edges or [], "id_a long, id_b long")
    got = {
        r["id"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    assert got == want


# ------------------------------------------------------ snapshot store
# A change-op sequence: (kind, key, partition, value) where kind 0 =
# upsert, 1 = delete. Replayed against both the SnapshotStore and a
# plain dict model; EVERY intermediate version must match the model's
# state at that step (time travel == replay prefix).
def _ops():
    return st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),
            st.integers(min_value=1, max_value=6),       # key
            st.sampled_from(["a", "b"]),                  # partition
            st.integers(min_value=0, max_value=99),       # value
        ),
        min_size=1,
        max_size=6,
    )


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow], derandomize=True)
@given(ops=_ops())
def test_snapshot_store_matches_dict_model(spark, tmp_path_factory, ops):
    from pyspark.sql import Row

    from karna_spark.io.snapshots import SnapshotStore

    root = str(tmp_path_factory.mktemp("snapstore"))
    store = SnapshotStore(root, "p")
    # Seed v1: keys 1..3 in partition a, 4..6 in b, value = -key.
    seed = [(k, "a" if k <= 3 else "b", -k) for k in range(1, 7)]
    store.commit(
        spark.createDataFrame([Row(k=k, p=p, val=v) for k, p, v in seed])
    )
    model = {k: (p, v) for k, p, v in seed}
    history = [dict(model)]
    for kind, key, part, val in ops:
        if kind == 1 and key in model:
            # Delete must target the key's ACTUAL partition (CDC feeds
            # carry the row's partition column).
            part = model[key][0]
        ch = spark.createDataFrame(
            [Row(k=key, p=part, val=val, op="D" if kind == 1 else "U")]
        )
        if kind == 1:
            model.pop(key, None)
        else:
            # Upsert replaces the row wholesale (partition may move
            # only via delete+insert; mirror that in the model by
            # keeping the original partition for existing keys).
            if key in model:
                part = model[key][0]
                ch = spark.createDataFrame(
                    [Row(k=key, p=part, val=val, op="U")]
                )
            model[key] = (part, val)
        store.apply_changes(spark, ch, key_cols=["k"])
        history.append(dict(model))
    # Every version (time travel) must equal the model's state then.
    for v, snap in enumerate(history, start=1):
        got = {
            r["k"]: (r["p"], r["val"])
            for r in store.read(spark, version=v).collect()
        }
        assert got == snap, f"version {v}"


# ------------------------------------------- interval-overlap rewrite
# J14's day-bucketed equi-join rewrite must return EXACTLY the pairs
# the naive theta join returns, on arbitrary interval layouts
# (nested, touching, disjoint, duplicated endpoints).
def _intervals(n=8):
    return st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # start day offset
            st.integers(min_value=0, max_value=5),   # length in days
        ),
        min_size=0,
        max_size=n,
    )


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow], derandomize=True)
@given(left=_intervals(), right=_intervals())
def test_interval_overlap_bucketing_equals_theta(spark, left, right):
    import datetime

    from pyspark.sql import Row

    base = datetime.date(2020, 1, 1)

    def frame(rows, prefix):
        if not rows:
            return None
        return spark.createDataFrame(
            [
                Row(
                    k=i,
                    s=base + datetime.timedelta(days=s),
                    e=base + datetime.timedelta(days=s + ln),
                )
                for i, (s, ln) in enumerate(rows)
            ]
        )

    fa, fb = frame(left, "a"), frame(right, "b")
    if fa is None or fb is None:
        return
    # Naive reference: theta join (fine at property scale).
    naive = {
        (ra["k"], rb["k"])
        for ra in fa.collect()
        for rb in fb.collect()
        if ra["s"] <= rb["e"] and rb["s"] <= ra["e"]
    }
    # Scale rewrite: explode to covered days, equi-join, distinct.
    da = fa.select(F.col("k").alias("ka"), F.explode(F.sequence("s", "e")).alias("day"))
    db = fb.select(F.col("k").alias("kb"), F.explode(F.sequence("s", "e")).alias("day"))
    got = {
        (r["ka"], r["kb"])
        for r in da.join(db, "day").select("ka", "kb").distinct().collect()
    }
    assert got == naive


# --------------------------------------------- delta-encoding backlog
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow], derandomize=True)
@given(iv=st.lists(
    st.tuples(st.integers(min_value=0, max_value=10),
              st.integers(min_value=0, max_value=10)),
    min_size=1, max_size=12))
def test_backlog_delta_encoding_matches_stabbing_count(spark, iv):
    # T13's +1/-1 delta encoding vs the naive per-month stabbing count
    # #(open <= m) - #(close <= m), on arbitrary month pairs.
    from pyspark.sql import Row

    rows = [Row(o=o, c=o + ln) for o, ln in iv]
    df = spark.createDataFrame(rows)
    deltas = df.select(F.col("o").alias("m"), F.lit(1).alias("d")).unionByName(
        df.select(F.col("c").alias("m"), F.lit(-1).alias("d"))
    )
    from pyspark.sql import Window

    agg = deltas.groupBy("m").agg(F.sum("d").alias("net"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    got = {
        r["m"]: r["open"]
        for r in agg.select("m", F.sum("net").over(w).alias("open")).collect()
    }
    for m in got:
        expect = sum(1 for r in rows if r.o <= m) - sum(1 for r in rows if r.c <= m)
        assert got[m] == expect, m


# ------------------------------------------------- two-phase prefix sum
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),        # group
            st.integers(min_value=-(10**9), max_value=10**9),  # value
        ),
        min_size=1,
        max_size=120,
    ),
    nparts=st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_prefix_sum_equals_single_window(spark, rows, nparts):
    """Two-phase prefix sum == the naive single window on random
    groups (including singleton and empty-after-filter groups),
    negative values, and partition counts that don't divide the data."""
    from pyspark.sql import Window

    from karna_spark.operators.prefix import prefix_sum

    df = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)], "id long, g int, v long"
    )
    got = prefix_sum(df, "v", ["id"], group_by=["g"], out_col="c",
                     num_partitions=nparts)
    win = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("c", F.sum("v").over(win))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# ------------------------------- snapshot store: full-lifecycle model
# r7 verdict depth ask: redact and vacuum compose with commit/upsert/
# CDC in ways pairwise tests can't cover. Op alphabet: 0 = upsert,
# 1 = delete, 2 = redact(key) — erases the key from EVERY version's
# history — 3 = vacuum(retain_last=2) — expires all but the last two
# published versions, which must then fail loudly — 4 = compact
# (r9, S23): a content-neutral rewrite that must read back as exactly
# the pre-compaction state, in its own new version. After the whole
# sequence, every still-readable version must equal the dict model's
# state at that step with all later-redacted keys removed.
def _lifecycle_ops():
    return st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),       # op kind
            st.integers(min_value=1, max_value=6),       # key
            st.sampled_from(["a", "b"]),                  # partition
            st.integers(min_value=0, max_value=99),       # value
        ),
        min_size=2,
        max_size=6,
    )


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow], derandomize=True)
@given(ops=_lifecycle_ops())
def test_snapshot_lifecycle_redact_vacuum_model(spark, tmp_path_factory, ops):
    import pytest
    from pyspark.sql import Row

    from karna_spark.io.snapshots import SnapshotStore

    root = str(tmp_path_factory.mktemp("snaplife"))
    store = SnapshotStore(root, "p")
    seed = [(k, "a" if k <= 3 else "b", -k) for k in range(1, 7)]
    store.commit(
        spark.createDataFrame([Row(k=k, p=p, val=v) for k, p, v in seed])
    )
    model = {k: (p, v) for k, p, v in seed}
    history = {1: dict(model)}   # version -> model state (readable set)
    expired: set[int] = set()
    clone = None          # (store, expected content) once kind-5 fires
    clone_clean = True    # no parent redact/vacuum since the fork
    for kind, key, part, val in ops:
        if kind == 2:  # redact: key vanishes from every version
            if clone is not None:
                clone_clean = False  # parent rewrite may orphan links
            store.redact(
                spark, ["k"], spark.createDataFrame([Row(k=key)])
            )
            for snap in history.values():
                snap.pop(key, None)
            model.pop(key, None)
        elif kind == 3:  # vacuum: all but the last two versions expire
            if clone is not None:
                clone_clean = False  # may expire dirs the clone links
            store.vacuum(retain_last=2, orphan_grace_sec=0.0)
            keep = sorted(history)[-2:]
            for v in [v for v in history if v not in keep]:
                expired.add(v)
                del history[v]
        elif kind == 4:  # compact: content-neutral, new version
            if not model:
                continue  # empty table has nothing to compact
            v = store.compact(spark)
            history[v] = dict(model)
        elif kind == 5:  # shallow clone (S36): one independent fork
            if clone is not None or not model:
                continue  # one clone per sequence bounds the run
            croot = str(tmp_path_factory.mktemp("snapclone"))
            cl = store.clone(croot)
            # immediate divergence: a clone-side upsert the parent
            # must never see (the parent model is verified untouched
            # by the end-of-sequence version sweep)
            cl.upsert(
                spark,
                spark.createDataFrame([Row(k=99, p="a", val=1)]),
                ["k"],
            )
            clone = (cl, {**model, 99: ("a", 1)})
            clone_clean = True
        else:
            if kind == 1 and key in model:
                part = model[key][0]   # CDC delete carries the row's part
            elif key in model:
                part = model[key][0]   # partition immutable per key
            ch = spark.createDataFrame(
                [Row(k=key, p=part, val=val, op="D" if kind == 1 else "U")]
            )
            if kind == 1:
                model.pop(key, None)
            else:
                model[key] = (part, val)
            v = store.apply_changes(spark, ch, key_cols=["k"])
            history[v] = dict(model)
    for v, snap in history.items():
        got = {
            r["k"]: (r["p"], r["val"])
            for r in store.read(spark, version=v).collect()
        }
        assert got == snap, f"version {v}"
    for v in expired:
        with pytest.raises(FileNotFoundError):
            store.read(spark, version=v)
    if clone is not None:
        cl, want = clone
        if clone_clean:
            got = {
                r["k"]: (r["p"], r["val"]) for r in cl.read(spark).collect()
            }
            assert got == want, "clone diverged from its fork model"
        else:
            # parent redact/vacuum after the fork is the documented
            # shallow-clone hazard: the clone must either still read
            # its exact fork-model content or fail LOUDLY (dangling
            # symlink) — silently-wrong rows are the only failure
            try:
                got = {
                    r["k"]: (r["p"], r["val"])
                    for r in cl.read(spark).collect()
                }
            except Exception:
                pass
            else:
                assert got == want, "clone read silently wrong rows"


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=1, max_value=8),
        ),
        min_size=0,
        max_size=16,
    )
)
@settings(**SETTINGS)
def test_triangle_counts_match_brute_force(spark, edges):
    """A36 property: degree-oriented wedge counting equals the O(V^3)
    brute-force triple enumeration on random graphs (self-loops
    dropped, duplicates collapsed) — orientation/tie-break bugs would
    miscount exactly on the skewed or tie-heavy graphs hypothesis
    finds."""
    from itertools import combinations

    from pyspark.sql import Row

    from karna_spark.operators.graphrank import triangle_counts

    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not pairs:
        return
    eset = set(pairs)
    nodes = sorted({n for p in pairs for n in p})
    want = {n: 0 for n in nodes}
    for x, y, z in combinations(nodes, 3):
        if ((x, y) in eset and (x, z) in eset and (y, z) in eset):
            want[x] += 1
            want[y] += 1
            want[z] += 1
    df = spark.createDataFrame([Row(a=a, b=b) for a, b in pairs])
    got = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # series key
            st.integers(min_value=0, max_value=500),  # ts offset (sec)
            st.integers(min_value=0, max_value=9999),  # cents
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_ewma_fold_matches_python(spark, rows):
    """T17 property: the codegen aggregate() fold equals a pure-Python
    replay of s_t = (c_t + s_{t-1}) // 2 over the (ts, id)-sorted
    series — including duplicate timestamps (event_id tie-break) and
    length-1 series (seed only, no fold step)."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(user_id=k, ts=t, event_id=i, c=c)
            for i, (k, t, c) in enumerate(rows)
        ]
    )
    arr = df.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, c)))," 
            " r -> r.c)"
        ).alias("cs")
    )
    out = arr.select(
        "user_id",
        F.expr(
            "aggregate(slice(cs, 2, size(cs) - 1), cs[0],"
            " (s, x) -> (s + x) div 2)"
        ).alias("ewma"),
    )
    got = {r["user_id"]: r["ewma"] for r in out.collect()}
    series: dict[int, list] = {}
    for i, (k, t, c) in enumerate(rows):
        series.setdefault(k, []).append((t, i, c))
    want = {}
    for k, items in series.items():
        s = None
        for _, _, c in sorted(items):
            s = c if s is None else (s + c) // 2
        want[k] = s
    assert got == want


# ------------------------------------------------- BPE apply (F36)
# random ASCII words + random merge lists: the Spark transform/replace
# chain must agree exactly with the pure-Python reference tokenizer
# (same left-to-right non-overlapping per-rule semantics). NBSP, U+001C
# and U+3000 are Unicode whitespace but not Java's \s: they stay inside
# words on both sides.
_BPE_WORD = st.text(
    alphabet="abcdefghéß中\xa0\x1c\u3000", min_size=0, max_size=10
)
_BPE_MERGE_SYM = st.text(
    alphabet="abcdefghéß中", min_size=1, max_size=2
)


@given(
    docs=st.lists(
        st.lists(_BPE_WORD, min_size=0, max_size=6).map(" ".join),
        min_size=1,
        max_size=4,
    ),
    merges=st.lists(
        st.tuples(_BPE_MERGE_SYM, _BPE_MERGE_SYM),
        min_size=0,
        max_size=6,
        unique=True,
    ),
)
@example(docs=["ab\xa0ab", "a\x1cb\u3000ab"], merges=[("a", "b")])
@settings(**SETTINGS)
def test_bpe_encode_matches_reference(spark, docs, merges):
    from karna_spark.operators.bpe_apply import (
        bpe_encode,
        reference_bpe_encode,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.encoded)
        for r in bpe_encode(df, "doc_id", "text", merges).collect()
    }
    for i, t in enumerate(docs):
        assert got[i] == reference_bpe_encode(t, merges), (t, merges)


# ------------------------------------------- unigram tokenizer (F38)
# random words (unicode included): the Spark vocab-seed + packed
# Viterbi DP must agree exactly with the pure-Python reference —
# same truncation, same micro-nat quantization, same tie-breaks, same
# ASCII-only word split (NBSP, U+001C and U+3000 stay inside words).
_UNI_WORD = st.text(
    alphabet="abcdeéß中\xa0\x1c\u3000", min_size=1, max_size=20
)


@given(
    docs=st.lists(
        st.lists(_UNI_WORD, min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
@example(docs=["ab\xa0cd ab"])
@settings(**SETTINGS)
def test_unigram_tokenize_matches_reference(spark, docs):
    from karna_spark.operators.unigram_tok import (
        reference_unigram_tokenize,
        unigram_tokenize_docs,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.score_e6)
        for r in unigram_tokenize_docs(df, "doc_id", "text").collect()
    }
    assert got == reference_unigram_tokenize(rows)


@given(
    docs=st.lists(
        st.lists(_UNI_WORD, min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
@example(docs=["ab\u3000cd ab\x1cab"])
@settings(**SETTINGS)
def test_unigram_em_round_matches_reference(spark, docs):
    """F38 train half: the hard-EM round (choice-packed DP → argmax
    backtrack → prune/floor re-score → re-encode) must agree exactly
    with the pure-Python reference — including the larger-j tie-break
    the packing encodes and the single-char count floor."""
    from karna_spark.operators.unigram_tok import (
        reference_unigram_em,
        unigram_em_tokenize_docs,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens_em, r.score_em_e6)
        for r in unigram_em_tokenize_docs(df, "doc_id", "text").collect()
    }
    assert got == reference_unigram_em(rows)
