"""Unit tests for operators whose guarantees the SQL oracles can't
express: recall of approximate structures against planted ground truth,
as-of join edge semantics, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs_with_near_dups(spark):
    """20 random-ish docs + 3 planted near-dup pairs (one-word edits)."""
    base = [
        " ".join(f"w{(i * 17 + j * 7) % 50}" for j in range(30)) for i in range(20)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # planted: copy doc i with one token changed
    for k, src in enumerate([0, 5, 9]):
        words = base[src].split()
        words[3] = "EDITED"
        rows.append((100 + k, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string"), {
        (0, 100),
        (5, 101),
        (9, 102),
    }


def test_minhash_lsh_finds_planted_dups(spark):
    from karna_spark.operators.dedup import minhash_lsh_pairs

    df, expected = _docs_with_near_dups(spark)
    pairs = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert expected <= got, f"missing planted pairs: {expected - got}"
    # high-threshold pairs only — the 20 base docs are all distinct
    for a, b in got - expected:
        assert a >= 100 or b >= 100 or a != b


def test_minhash_incremental_matches_delta_only(spark):
    """Incremental ingest dedup: split the planted-dups corpus into
    base (ids < 100) and delta (ids >= 100); every planted pair must
    surface as (new_id, match_id), base-base pairs must never appear,
    and the result must agree with full-corpus LSH restricted to
    pairs touching the delta."""
    from karna_spark.operators.dedup import (
        minhash_lsh_incremental_pairs,
        minhash_lsh_pairs,
    )

    df, expected = _docs_with_near_dups(spark)
    base = df.filter(F.col("doc_id") < 100)
    delta = df.filter(F.col("doc_id") >= 100)
    got = {
        (r.new_id, r.match_id)
        for r in minhash_lsh_incremental_pairs(
            base, delta, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert {(b, a) for a, b in expected} <= got
    for new_id, match_id in got:
        assert new_id >= 100, "non-delta id on the new side"
        assert match_id < 100 or match_id < new_id
    # Differential vs the certified full-corpus operator: identical
    # pair set once restricted to pairs that touch the delta.
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    full_delta = {
        (max(a, b), min(a, b)) if (a >= 100 and b >= 100) else
        ((a, b) if a >= 100 else (b, a))
        for a, b in full
        if a >= 100 or b >= 100
    }
    assert got == full_delta


def test_minhash_signature_elements_differ(spark):
    """Regression: each permutation must use its own seed (a broken
    seed binding makes all 64 signature elements identical)."""
    from karna_spark.operators.dedup import (
        minhash_signature_from_hashes,
        shingle_hashes,
        word_ngrams,
    )

    df = spark.createDataFrame([(0, "a b c d e f g h i j")], "id long, text string")
    sig = df.select(
        minhash_signature_from_hashes(
            shingle_hashes(word_ngrams(F.col("text"), 2)), 16
        ).alias("s")
    ).first()["s"]
    assert len(set(sig)) > 8, f"signature degenerate: {sig[:4]}..."


def test_chunked_perm_minima_matches_one_shot():
    """The memory-bounded chunked permutation sweep must be bit-identical
    to the unchunked (num_perm × grams) matrix it replaced — forced to
    chunk at every boundary shape by a tiny byte budget."""
    import numpy as np

    from karna_spark.operators.dedup import _chunked_perm_minima, _perm_constants

    a, b = _perm_constants(16)
    rng_state = 0x12345
    hashes, offsets, pos = [], [], 0
    for doc_len in [3, 1, 40, 7, 7, 1, 25, 2]:  # includes a doc > max_grams
        offsets.append(pos)
        for _ in range(doc_len):
            rng_state = (rng_state * 6364136223846793005 + 1442695040888963407) % (
                1 << 64
            )
            hashes.append(rng_state)
        pos += doc_len
    h_all = np.asarray(hashes, dtype=np.uint64)
    off = np.asarray(offsets, dtype=np.int64)
    one_shot = np.minimum.reduceat(a[:, None] * h_all[None, :] + b[:, None], off, axis=1)
    for budget in [1, 8 * 16 * 5, 8 * 16 * 39, 10**9]:
        got = _chunked_perm_minima(h_all, off, a, b, max_matrix_bytes=budget)
        assert np.array_equal(got, one_shot), f"budget={budget}"


def test_matrix_budget_resolution(monkeypatch):
    """The MinHash matrix budget derives from worker memory at task
    concurrency, clamps to [64 MB, 512 MB], and honors the env
    override (r10 verdict: a fixed 512 MB default provoked
    retry-absorbed worker OOM at full concurrency on the 800k leg)."""
    import karna_spark.operators.dedup as d

    monkeypatch.setattr(d, "_matrix_budget_cache", None)
    monkeypatch.setenv("KARNA_MINHASH_MATRIX_MB", "96")
    assert d._matrix_budget_bytes() == 96 * 2**20

    monkeypatch.setattr(d, "_matrix_budget_cache", None)
    monkeypatch.delenv("KARNA_MINHASH_MATRIX_MB")
    got = d._matrix_budget_bytes()
    assert 64 * 2**20 <= got <= d.MATRIX_BYTES_CEILING
    # derivation sanity: never more than avail/(4*cpus) unless floored
    import os

    with open("/proc/meminfo") as fh:
        avail = next(
            int(ln.split()[1]) * 1024
            for ln in fh
            if ln.startswith("MemAvailable:")
        )
    derived = avail // (4 * (os.cpu_count() or 8))
    assert got <= max(64 * 2**20, min(d.MATRIX_BYTES_CEILING, derived * 2))


def test_simhash_identical_text_zero_hamming(spark):
    from karna_spark.operators.dedup import hamming64, simhash64

    df = spark.createDataFrame(
        [("x y z q r s",), ("x y z q r s",)], "text string"
    )
    sigs = [r[0] for r in df.select(simhash64(F.col("text")).alias("s")).collect()]
    assert sigs[0] == sigs[1]
    d = spark.range(1).select(
        hamming64(F.lit(sigs[0]), F.lit(sigs[1])).alias("h")
    ).first()["h"]
    assert d == 0


def test_asof_join_semantics(spark):
    from karna_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 205, "l2"), (2, 50, "l3"), (3, 10, "l4")],
        "k long, ts long, name string",
    ).select("k", F.timestamp_seconds("ts").alias("ts"), "name")
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 60, 30.0)],
        "k long, ts long, v double",
    ).select("k", F.timestamp_seconds("ts").alias("vts"), F.col("v"))

    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="vts", value_cols=["v"]
    ).collect()
    by_name = {r["name"]: r for r in out}
    assert by_name["l1"]["v"] == 10.0  # exact match included
    assert by_name["l2"]["v"] == 20.0  # latest earlier
    assert by_name["l3"]["v"] is None  # right is later → no match
    assert by_name["l4"]["v"] is None  # key with no right rows

    strict = asof_join(
        left, right, on="k", left_ts="ts", right_ts="vts",
        value_cols=["v"], allow_exact_match=False,
    ).collect()
    strict_by_name = {r["name"]: r for r in strict}
    assert strict_by_name["l1"]["v"] is None  # exact match excluded

    fwd = asof_join(
        left, right, on="k", left_ts="ts", right_ts="vts",
        value_cols=["v"], direction="forward",
    ).collect()
    fwd_by_name = {r["name"]: r for r in fwd}
    assert fwd_by_name["l3"]["v"] == 30.0  # earliest later


def test_asof_join_nearest_semantics(spark):
    import pytest

    from karna_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 149, "l2"), (1, 151, "l3"), (1, 150, "l4"),
         (2, 50, "l5"), (3, 10, "l6")],
        "k long, ts long, name string",
    ).select("k", F.timestamp_seconds("ts").alias("ts"), "name")
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 200, 20.0), (2, 60, 30.0)],
        "k long, ts long, v double",
    ).select("k", F.timestamp_seconds("ts").alias("vts"), F.col("v"))

    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="vts",
        value_cols=["v"], direction="nearest",
    ).collect()
    by_name = {r["name"]: r for r in out}
    assert by_name["l1"]["v"] == 10.0  # exact match, distance 0
    assert by_name["l2"]["v"] == 10.0  # 49 back vs 51 fwd → back
    assert by_name["l3"]["v"] == 20.0  # 51 back vs 49 fwd → fwd
    assert by_name["l4"]["v"] == 10.0  # 50 == 50 tie → backward
    assert by_name["l5"]["v"] == 30.0  # only a later row → still matches
    assert by_name["l6"]["v"] is None  # key with no right rows

    with pytest.raises(ValueError):
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="vts",
            value_cols=["v"], direction="nearest", allow_exact_match=False,
        )


def test_incremental_rollup_merge_equals_full_recompute(spark):
    from karna_spark.operators.rollup import (
        finalize_rollup,
        merge_rollups,
        rollup_slice,
    )
    from karna_spark.queries.registry import table

    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "ts", "event_type", "value"
    )
    full = finalize_rollup(rollup_slice(ev, "ts", ["event_type"], "value"))

    def canon(df):
        return sorted(
            (str(r["bucket_ts"]), r["event_type"], r["n_events"],
             round(r["total_value"], 6), round(r["avg_value"], 9),
             r["min_value"], r["max_value"])
            for r in df.collect()
        )

    want = canon(full)
    # Any slicing must merge back to the full recompute — by day parity,
    # and as a three-way split merged in two different groupings.
    day = F.dayofmonth("ts")
    s1 = rollup_slice(ev.filter(day % 2 == 0), "ts", ["event_type"], "value")
    s2 = rollup_slice(ev.filter((day % 2 == 1) & (day <= 15)), "ts", ["event_type"], "value")
    s3 = rollup_slice(ev.filter((day % 2 == 1) & (day > 15)), "ts", ["event_type"], "value")
    assert canon(finalize_rollup(merge_rollups(s1, s2, s3))) == want
    assert canon(
        finalize_rollup(merge_rollups(merge_rollups(s3, s1), s2))
    ) == want


def test_stream_stream_join_matches_batch(spark):
    from karna_spark.queries.registry import REGISTRY, table

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["streaming_stream_stream_join"].builder(spark, sf)
    ev = table(spark, sf, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    batch = v.join(
        c,
        (F.col("u") == F.col("cu"))
        & (F.col("cts") >= F.col("vts"))
        & (F.col("cts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
    )
    want = sorted((r["view_id"], r["click_id"]) for r in batch.collect())
    have = sorted((r["view_id"], r["click_id"]) for r in got.collect())
    assert have == want
    assert len(have) > 0


def test_ann_lsh_recall_vs_bruteforce(spark):
    from karna_spark.operators.similarity import ann_bruteforce_topk, ann_lsh_topk
    from karna_spark.queries.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = ann_bruteforce_topk(emb, q, "vec_id", "vec_id", "embedding", k=3)
    approx = ann_lsh_topk(emb, q, "vec_id", "vec_id", "embedding", k=3, n_planes=4)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # sign-LSH with 4 planes keeps ~1/16 of candidates; recall of exact
    # top-3 should still be substantial on clustered data
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"suspiciously low LSH recall: {recall}"
    assert all(r.rank <= 3 for r in approx.collect())


def test_recall_gate_floors(spark):
    """The driver-certified recall gates must also stay above quality
    floors: hash-parity proves the measurement is faithful, this proves
    the measured quality doesn't silently collapse."""
    from karna_spark.queries import REGISTRY

    floors = {
        "similarity_lsh_recall": 0.70,
        "similarity_ivf_recall": 0.45,
        "similarity_pq_recall": 0.35,
    }
    for name, floor in floors.items():
        rows = REGISTRY[name].builder(spark, "/root/testdata/sf0.01").collect()
        mean = sum(r["recall_at_10"] for r in rows) / len(rows)
        assert mean >= floor, f"{name}: mean recall {mean} < {floor}"


def test_kmeans_and_ivf(spark):
    from karna_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk,
        train_kmeans,
    )
    from karna_spark.queries.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_kmeans(emb, "embedding", k=4, iters=2)
    rows = cents.collect()
    assert len(rows) == 4
    assert all(len(r["centroid"]) == 64 for r in rows)

    q = emb.filter(F.col("vec_id") < 3)
    res = ann_ivf_topk(emb, q, cents, "vec_id", "vec_id", "embedding", k=3, nprobe=2)
    out = res.collect()
    assert {r.query_id for r in out} == {0, 1, 2}
    assert all(r.rank <= 3 for r in out)
    exact = ann_bruteforce_topk(emb, q, "vec_id", "vec_id", "embedding", k=3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ivf_set = {(r.query_id, r.neighbor_id) for r in out}
    assert len(exact_set & ivf_set) / len(exact_set) >= 0.2


def test_multimodal_decode_rejects_unknown_magic(spark):
    from karna_spark.operators.multimodal import decode_media

    df = spark.createDataFrame([(1, bytearray(b"nope"))], "item_id long, media binary")
    with pytest.raises(Exception):  # ValueError surfaces as PythonException
        decode_media(df).collect()


def test_decode_kernels_roundtrip():
    """Local (no Spark) encode→decode round-trips for every format."""
    from karna_spark.operators.multimodal import (
        _decode_bytes,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    # BMP with a width forcing nonzero row padding (5*3=15 → pad 1).
    mtype, w, h, c, mean = _decode_bytes(encode_bmp(5, 3, (10, 20, 30)))
    assert (mtype, w, h, c) == ("image/bmp", 5, 3, 3)
    assert mean == pytest.approx((10 + 20 + 30) / 3 / 255.0)

    mtype, w, h, c, mean = _decode_bytes(encode_ppm(7, 2, (0, 128, 255)))
    assert (mtype, w, h, c) == ("image/ppm", 7, 2, 3)
    assert mean == pytest.approx((0 + 128 + 255) / 3 / 255.0)

    mtype, w, h, c, mean = _decode_bytes(encode_wav(100, -4096))
    assert (mtype, w, h, c) == ("audio/wav", 100, 1, 1)
    assert mean == 4096 / 32768.0  # power-of-two divisor: exact


def test_multimodal_decode_real_media_distributed(spark):
    """Synthesized media decodes through mapInPandas with the values the
    seed arithmetic predicts (the same closed form the oracle uses)."""
    from karna_spark.operators.multimodal import decode_media, synthesize_media_df

    ids = spark.range(0, 30).withColumnRenamed("id", "item_id")
    out = {r.item_id: r for r in decode_media(synthesize_media_df(ids, "item_id")).collect()}
    assert len(out) == 30
    for d in (0, 5, 10):  # BMP, WAV, PPM representatives by d % 3
        r = out[d]
        kind = d % 3
        if kind == 0:
            assert r.media_type == "image/bmp"
            assert (r.width, r.height, r.n_channels) == (4 + d % 13, 4 + d % 7, 3)
            expect = ((d * 37) % 256 + (d * 59) % 256 + (d * 83) % 256) / 3 / 255.0
            assert r.mean_intensity == pytest.approx(expect)
        elif kind == 1:
            assert r.media_type == "image/ppm"
            assert (r.width, r.height) == (4 + d % 11, 4 + d % 5)
        else:
            assert r.media_type == "audio/wav"
            assert r.width == 64 + d % 100 and r.height == 1 and r.n_channels == 1
            assert r.mean_intensity == abs((d * 131) % 30000 - 15000) / 32768.0


def test_sessionize_salted_equals_plain_on_fixture(spark):
    from karna_spark.operators.sessionize import sessionize, sessionize_salted
    from karna_spark.queries.registry import table

    ev = table(spark, "/root/testdata/sf0.001", "events")
    plain = {
        (r["event_id"], r["session_id"])
        for r in sessionize(ev, "user_id", "ts", 1800).select("event_id", "session_id").collect()
    }
    # Salt at 6h so fixture sessions actually cross bucket boundaries.
    salted = {
        (r["event_id"], r["session_id"])
        for r in sessionize_salted(ev, "user_id", "ts", 1800, salt_seconds=6 * 3600)
        .select("event_id", "session_id")
        .collect()
    }
    assert salted == plain


def test_sessionize_salted_chain_across_buckets(spark):
    """One session spanning 3 salt buckets telescopes onto one id."""
    import datetime as dt

    from karna_spark.operators.sessionize import sessionize_salted

    t0 = dt.datetime(2026, 1, 1, 0, 50)
    rows = [
        # session 1: events every 20 min straddling the 1h buckets
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(minutes=20)),   # bucket 1
        (3, 1, t0 + dt.timedelta(minutes=40)),   # bucket 1
        (4, 1, t0 + dt.timedelta(minutes=80)),   # bucket 2 (gap 40m > 30m → new)
        (5, 1, t0 + dt.timedelta(minutes=95)),   # bucket 2
        (6, 1, t0 + dt.timedelta(minutes=115)),  # bucket 3, continues (gap 20m)
        (7, 1, t0 + dt.timedelta(minutes=135)),  # bucket 3, continues
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: r["session_id"]
        for r in sessionize_salted(df, "user_id", "ts", 1800, salt_seconds=3600).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 2, 7: 2}


def test_word_ngrams_shapes(spark):
    from karna_spark.operators.text import word_ngrams

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, "  padded   text  here ")],
        "id long, t string",
    ).select("id", word_ngrams(F.col("t"), 3).alias("g"))
    got = {r["id"]: r["g"] for r in df.collect()}
    assert got[1] == ["a b c", "b c d", "c d e"]
    assert got[2] == []  # shorter than n
    assert got[3] == ["padded text here"]  # whitespace-normalized


def test_contaminated_docs_planted_overlap(spark):
    from karna_spark.operators.contamination import contaminated_docs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "said the quick brown fox jumps high"),  # shares 2 4-grams
            (2, "totally unrelated words in this one here"),
            (3, "the quick brown fox jumps"),  # identical: shares both
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in contaminated_docs(train, bench, "doc_id", "text", n=4).collect()
    }
    assert got == {1: 2, 3: 2}  # doc 2 absent: clean


def test_streaming_dedup_suppresses_redelivery(spark):
    import os

    from karna_spark.queries.registry import REGISTRY, table

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["streaming_dedup_exact"].builder(spark, sf)
    n_events = table(spark, sf, "events").count()
    # The landing dir really delivered the data twice...
    from karna_spark.streaming.jobs import stage_events

    landing = stage_events(spark, sf, with_sentinel=False, duplicate=True)
    files = [f for f in os.listdir(landing) if f.endswith(".parquet")]
    assert len(files) == 2
    # ...yet every event_id comes out exactly once.
    rows = out.collect()
    assert len(rows) == n_events
    assert len({r["event_id"] for r in rows}) == n_events


def test_connected_components_multi_hop_chain(spark):
    from karna_spark.operators.cluster import (
        cluster_representatives,
        connected_components,
    )

    # Two components: a 4-hop chain 1-2-3-4-5 (forces >1 propagation
    # round) and a pair 10-11; plus a triangle 20-21-22 with redundant
    # edges.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}
    reps = {
        r["id"]: r["keep"] for r in cluster_representatives(pairs).collect()
    }
    assert {i for i, k in reps.items() if k} == {1, 10, 20}


def test_connected_components_empty_pairs(spark):
    from karna_spark.operators.cluster import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_connected_components_deep_chain_converges(spark):
    # A 20-hop chain: diameter 20, so min-label propagation needs ~20
    # rounds and the lineage-truncation path (localCheckpoint every 4
    # rounds) actually exercises — without it the plan tree is 40 joins
    # deep by convergence.
    from karna_spark.operators.cluster import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    got = connected_components(pairs).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 21


def test_connected_components_unconverged_raises(spark):
    # Diameter > max_iter must raise, not silently return split
    # components.
    import pytest

    from karna_spark.operators.cluster import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=3)


def test_partition_upsert_rewrites_only_affected_partitions(spark, tmp_path):
    import os

    from karna_spark.io.upsert import upsert_partitioned

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k long, part string, v double",
    )
    base.write.mode("overwrite").partitionBy("part").parquet(store)

    def files_with_mtime(part):
        d = os.path.join(store, f"part={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_b, before_c = files_with_mtime("b"), files_with_mtime("c")
    delta = spark.createDataFrame(
        [(2, "a", 99.0), (5, "a", 50.0)], "k long, part string, v double"
    )
    affected = upsert_partitioned(spark, delta, store, ["k"], "part")
    assert affected == ["a"]
    # Untouched partitions: identical file sets, identical mtimes.
    assert files_with_mtime("b") == before_b
    assert files_with_mtime("c") == before_c
    # Affected partition: replaced key updated, new key added, others kept.
    got = {
        r["k"]: r["v"] for r in spark.read.parquet(store).collect()
    }
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0, 5: 50.0}


def test_pq_lossless_construction_matches_bruteforce(spark):
    """Vectors whose subspace slices come from ≤ksub distinct patterns
    are representable exactly by the codebooks, so ADC distances equal
    true squared L2 and the top-k must match brute force exactly."""
    import numpy as np

    from karna_spark.operators.similarity import (
        ann_pq_topk,
        pq_codebooks_from_rows,
    )

    rng_patterns = [
        [float((p * 7 + d) % 5) for d in range(4)] for p in range(4)
    ]  # 4 distinct 4-dim patterns per subspace, m=2 → dim 8

    def vec(i):
        return rng_patterns[i % 4] + rng_patterns[(i // 4) % 4]

    rows = [(i, vec(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # seed rows 0, 5, 10, 15 carry all 4 patterns in both subspaces
    cb = pq_codebooks_from_rows(df, "embedding", "vec_id", [0, 5, 10, 15], m=2)
    queries = df.filter(F.col("vec_id") < 3)
    got = ann_pq_topk(df, queries, cb, "vec_id", "vec_id", "embedding", k=4)
    got_rows = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc"])
                for r in got.collect()}

    X = np.array([vec(i) for i in range(40)])
    for q in range(3):
        d2 = ((X - X[q]) ** 2).sum(axis=1)
        order = sorted((d, i) for i, d in enumerate(d2) if i != q)
        for rank in range(1, 5):
            want_d, _ = order[rank - 1]
            nid, adc = got_rows[(q, rank)]
            assert abs(adc - want_d) < 1e-9, (q, rank, adc, want_d)
            # neighbor id may differ among exact ties; distance may not.


def test_pq_codes_within_range(spark):
    from karna_spark.operators.similarity import (
        pq_codebooks_from_rows,
        pq_encode_udf,
    )
    from karna_spark.queries.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = [r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(16).collect()]
    cb = pq_codebooks_from_rows(emb, "embedding", "vec_id", seeds, m=8)
    enc = pq_encode_udf(cb)
    codes = emb.select(enc(F.col("embedding")).alias("c")).collect()
    assert all(len(r["c"]) == 8 and all(0 <= x < 16 for x in r["c"]) for r in codes)


def test_compaction_collapses_file_count(spark):
    import os

    from karna_spark.queries.registry import REGISTRY
    from karna_spark.queries.sources_q import _export_dir

    sf = "/root/testdata/sf0.001"
    REGISTRY["sink_compaction"].builder(spark, sf)

    def parquet_files(d):
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(parquet_files(_export_dir(sf, "lineitem_fragmented"))) == 24
    assert len(parquet_files(_export_dir(sf, "lineitem_compacted"))) == 2


def test_semdedup_chunked_slab_matches_unchunked(spark):
    """The block-slabbed gram computation must be invariant to block
    size (a 1M-row cluster is processed in slabs; the answer may not
    depend on the slab boundary)."""
    from karna_spark.operators.semdedup import (
        assign_nearest_centroid,
        seed_centroids,
        semantic_drop_ids,
    )
    from karna_spark.queries.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    asg = assign_nearest_centroid(emb, seed_centroids(emb, 4)).localCheckpoint()
    tiny = {r["vec_id"] for r in semantic_drop_ids(asg, 0.35, block=3).collect()}
    full = {r["vec_id"] for r in semantic_drop_ids(asg, 0.35, block=1 << 20).collect()}
    assert tiny == full
    assert tiny, "fixture should contain at least one within-cluster near-dup"


def test_semdedup_assign_is_argmax(spark):
    """Every vector's assigned centroid must have the max cosine among
    the seed set (ties to lowest centroid id)."""
    from karna_spark.functions.vector import cosine
    from karna_spark.operators.semdedup import assign_nearest_centroid, seed_centroids
    from karna_spark.queries.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = seed_centroids(emb, 4)
    asg = assign_nearest_centroid(emb, cents)
    alts = cents.select(F.col("cid").alias("alt_cid"), "cvec")
    # brute-force check: no (vector, centroid) pair strictly beats the
    # assigned cosine.
    probe = asg.crossJoin(F.broadcast(alts)).select(
        "vec_id",
        "cos",
        cosine(F.col("embedding"), F.col("cvec")).alias("alt_cos"),
    )
    assert probe.where(F.col("alt_cos") > F.col("cos")).count() == 0


# ------------------------------------------------------------- BPE
def test_learn_bpe_matches_reference(spark):
    """learn_bpe (one word count, one learner task) == the pure-Python
    reference on the same word-frequency table (the union-find-vs-CC
    differential pattern): identical merge order, pairs, and counts."""
    from karna_spark.operators.bpe import (
        learn_bpe,
        reference_bpe,
        word_frequencies,
    )
    from karna_spark.queries.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    wf = word_frequencies(docs)
    freqs = {r["w"]: r["freq"] for r in wf.collect()}
    expected = reference_bpe(freqs, num_merges=12)
    got = learn_bpe(wf, num_merges=12)
    assert got == expected
    assert len(got) > 0  # the fixture corpus actually yields merges


def test_learn_bpe_matches_reference_deep(spark):
    """r8 depth: the differential must stay EXACT at tokenizer-scale
    merge counts (the bench anchor runs 200; 60 here keeps the pure-
    Python replay fast) — late merges exercise long-chain symbols,
    long runs of incremental count updates, and tie-breaks the first
    dozen never hit."""
    from karna_spark.operators.bpe import (
        learn_bpe,
        reference_bpe,
        word_frequencies,
    )
    from karna_spark.queries.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents").limit(300)
    wf = word_frequencies(docs)
    freqs = {r["w"]: r["freq"] for r in wf.collect()}
    expected = reference_bpe(freqs, num_merges=60)
    got = learn_bpe(wf, num_merges=60)
    assert got == expected
    assert len(got) >= 40  # deep enough for long-chain symbols


def test_mixture_sampling_matches_independent_python(spark):
    """r8 O11 differential: recompute the hash-threshold mixture
    sample with hashlib + pure-integer arithmetic (no Spark, no
    DuckDB) and require the EXACT same accepted set — certifying the
    cross-engine determinism claim (isqrt/BIGINT thresholds, salted
    md5) against a third independent implementation."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from karna_spark.queries.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "source"])
    rows = list(zip(t["doc_id"].to_pylist(), t["source"].to_pylist()))
    n = {}
    for _, src in rows:
        n[src] = n.get(src, 0) + 1
    w = {s: math.isqrt(c) for s, c in n.items()}
    sw = sum(w.values())
    thr = {
        s: min((200 * w[s] * 16777216) // (sw * n[s]), 16777216)
        for s in n
    }
    expected = set()
    for doc_id, src in rows:
        h = int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:6], 16)
        if h < thr[src]:
            expected.add((doc_id, src, h))
    got = {
        (r["doc_id"], r["source"], r["h"])
        for r in REGISTRY["sample_mixture_hash_threshold"]
        .builder(spark, sf)
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_boilerplate_strip_reassembly_is_lossless(spark):
    """r8 F24 property: stripping is the ONLY transformation — for
    every document the kept-segment reassembly must equal the
    whitespace-normalized original with exactly the boilerplate
    segments deleted (per-doc replay in Python), and a doc with no
    boilerplate must round-trip verbatim."""
    from pyspark.sql import functions as F

    from karna_spark.queries.registry import REGISTRY, table

    sf = "/root/testdata/sf0.001"
    out = {
        r["doc_id"]: r
        for r in REGISTRY["text_boilerplate_strip"].builder(spark, sf).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf, "documents").select("doc_id", "text").collect()
    }
    # Recompute segments + boilerplate set in pure Python.
    segs_by_doc = {}
    for doc_id, text in docs.items():
        ws = text.strip().lower().split()
        segs_by_doc[doc_id] = [
            " ".join(ws[i : i + 2]) for i in range(0, len(ws), 2)
        ]
    df_count = {}
    for doc_id, segs in segs_by_doc.items():
        for s in set(segs):
            df_count[s] = df_count.get(s, 0) + 1
    boiler = {s for s, c in df_count.items() if c >= 25}
    assert boiler, "fixture must actually trigger the threshold"
    untouched = 0
    for doc_id, segs in segs_by_doc.items():
        kept = [s for s in segs if s not in boiler]
        row = out[doc_id]
        assert row["n_segs"] == len(segs)
        assert row["n_kept"] == len(kept)
        assert row["cleaned_text"] == " ".join(kept)
        if len(kept) == len(segs):
            untouched += 1
            assert row["cleaned_text"] == " ".join(segs_by_doc[doc_id])
    assert 0 < untouched < len(docs)  # both regimes exercised


def test_incremental_minhash_store_path_matches_injob(spark):
    """r8 J18 depth: the signature-store probe path (base_signatures
    from minhash_signature_table — the production steady-state) must
    return EXACTLY the in-job path's pairs. Measured advantage of the
    store path: 14.7x per-ingest at a 50k-doc/10KB corpus with a
    500-doc batch (local[32]; grows with the corpus:batch ratio since
    the saved term is the O(|corpus|) signature UDF)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from karna_spark import intermediates
    from karna_spark.operators.dedup import (
        minhash_lsh_incremental_pairs,
        minhash_signature_table,
    )
    from karna_spark.queries.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    base = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    with intermediates.scope():
        injob = minhash_lsh_incremental_pairs(base, delta, "doc_id", "text")
        rows_a = sorted(
            (r["new_id"], r["match_id"], round(r["jaccard"], 9))
            for r in injob.collect()
        )
    sigs = minhash_signature_table(base, "doc_id", "text").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs.count()
    with intermediates.scope():
        store = minhash_lsh_incremental_pairs(
            base, delta, "doc_id", "text", base_signatures=sigs
        )
        rows_b = sorted(
            (r["new_id"], r["match_id"], round(r["jaccard"], 9))
            for r in store.collect()
        )
    sigs.unpersist()
    assert rows_a == rows_b
    assert len(rows_a) > 0


def test_ivf_store_path_matches_injob(spark):
    """r8 J18-twin depth: ann_ivf_topk fed a stored
    ivf_assignment_table (the production steady-state — only the
    arriving batch touches the argmin UDF) must return EXACTLY the
    in-job path's neighbors."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from karna_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_assignment_table,
    )
    from karna_spark.queries.registry import table
    from karna_spark.queries.vectors import _IVF_SEED_IDS

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    cents = (
        emb.filter(F.col("vec_id").isin(_IVF_SEED_IDS))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "centroid"
            ),
        )
        .withColumn("cluster_id", F.row_number().over(W.orderBy("vec_id")) - 1)
        .select("cluster_id", "centroid")
    )
    args = (emb, delta, cents, "vec_id", "vec_id", "embedding")
    injob = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann_ivf_topk(*args, k=10, nprobe=3).collect()
    )
    idx = ivf_assignment_table(base, cents, "vec_id", "embedding").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    idx.count()
    store = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ann_ivf_topk(
            *args,
            k=10,
            nprobe=3,
            corpus_assignments=idx.unionByName(
                ivf_assignment_table(delta, cents, "vec_id", "embedding")
            ),
        ).collect()
    )
    idx.unpersist()
    assert injob == store
    assert len(injob) > 0


def test_audio_dominant_bin_and_rms(spark):
    """V6 depth: the FFT extractor recovers the programmed bin for
    every clip and the deci-dB RMS sits at the analytic level of a
    full-scale-8000 sine (200*log10(8000/sqrt(2)) ~= 750.5) within
    quantization tolerance."""
    import pandas as pd

    from karna_spark.operators.multimodal import (
        audio_dominant_bin,
        encode_wav_tone,
    )

    rows = [(i, encode_wav_tone(256, 3 + i % 29)) for i in range(0, 60, 7)]
    df = spark.createDataFrame(rows, "item_id long, media binary")
    got = {r["item_id"]: r for r in audio_dominant_bin(df).collect()}
    assert len(got) == len(rows)
    for i, _ in rows:
        assert got[i]["dominant_bin"] == 3 + i % 29
        assert got[i]["n_frames"] == 256
        assert abs(got[i]["rms_db_e1"] - 750) <= 3


# ------------------------------------------------------- exact k-means


def _kmeans_pure_python(vecs, k, iters, scale=1024, offset=2048):
    """Independent replay of the operators/kmeans.py spec in plain
    Python ints (no Spark, no numpy float paths) — the differential
    reference for the certification-grade k-means."""
    import math

    q = [[math.floor(float(v) * scale) + offset for v in vec] for _, vec in vecs]
    ids = sorted(range(len(vecs)), key=lambda i: vecs[i][0])
    cents = [list(q[i]) for i in ids[:k]]

    def assign():
        out = []
        for row in q:
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(row, c)), cid)
                for cid, c in enumerate(cents)
            )
            out.append(best[1])
        return out

    a = None
    for _ in range(iters):
        a = assign()
        new = []
        for cid in range(k):
            members = [q[i] for i in range(len(q)) if a[i] == cid]
            if not members:
                new.append(list(cents[cid]))
            else:
                n = len(members)
                new.append(
                    [(2 * sum(col) + n) // (2 * n) for col in zip(*members)]
                )
        cents = new
    counts = [sum(1 for x in a if x == cid) for cid in range(k)]
    return cents, counts


def test_kmeans_exact_matches_pure_python(spark):
    """The Spark result must equal the pure-Python replay bit-for-bit
    on the real sf0.001 embeddings — same quantization, same argmin
    tie-break, same round-half-up update, same empty-cluster carry."""
    from karna_spark import intermediates
    from karna_spark.operators.kmeans import kmeans_lloyd_exact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in emb.collect()),
        key=lambda t: t[0],
    )
    cents, counts = _kmeans_pure_python(rows, k=8, iters=3)

    with intermediates.scope():
        out = kmeans_lloyd_exact(spark, emb, "vec_id", "embedding", k=8, iters=3)
        got = {(r["cluster_id"], r["dim"]): (r["coord_q"], r["n_points"]) for r in out.collect()}
    assert len(got) == 8 * 64
    for cid in range(8):
        for dim in range(64):
            coord, n = got[(cid, dim)]
            assert coord == cents[cid][dim] - 2048, (cid, dim)
            assert n == counts[cid], cid


def test_kmeans_empty_cluster_carries_previous_centroid(spark):
    """Duplicate init points force an immediately-empty cluster (ties
    break to the lower id): its centroid must carry forward and report
    n_points=0 instead of vanishing or dividing by zero."""
    from karna_spark import intermediates
    from karna_spark.operators.kmeans import kmeans_lloyd_exact

    df = spark.createDataFrame(
        [(0, [0.0]), (1, [0.0]), (2, [100.0])], "vec_id long, embedding array<double>"
    )
    with intermediates.scope():
        out = kmeans_lloyd_exact(spark, df, "vec_id", "embedding", k=2, iters=1)
        rows = {r["cluster_id"]: (r["coord_q"], r["n_points"]) for r in out.collect()}
    # Both centroids init to the same quantized zero, so every point
    # (including the 100) ties and breaks to cluster 0 — cluster 1 is
    # empty from the first assignment: centroid carried, population 0.
    assert rows[1] == (0, 0)
    # cluster 0 = all three points; centroid is the round-half-up mean
    # of quantized {2048, 2048, 104448} minus the offset.
    assert rows[0] == ((2 * (2048 + 2048 + 104448) + 3) // 6 - 2048, 3)


def test_kmeans_plan_is_codegen_map_no_python(spark):
    """The assignment pass must stay JVM-side: no Python eval node, no
    window, and the only wide node feeding the result is the (cid, dim)
    partial aggregate."""
    from karna_spark import intermediates
    from karna_spark.operators.kmeans import kmeans_lloyd_exact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with intermediates.scope():
        out = kmeans_lloyd_exact(spark, emb, "vec_id", "embedding", k=4, iters=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Window" not in plan


# ------------------------------------------------------ A35 pagerank
def test_pagerank_exact_hand_graph(spark):
    """3-node cycle a→b→c→a: perfectly symmetric, so every node keeps
    exactly base rank at every iteration (contrib = own rank, deg=1) —
    the integer recurrence must be a fixpoint here."""
    from karna_spark.operators.graphrank import TOTAL, pagerank_exact

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    ranks = {r["id"]: r["rank"] for r in pagerank_exact(edges, 3).collect()}
    assert set(ranks) == {1, 2, 3}
    base = TOTAL // 3
    assert all(v == base for v in ranks.values()), ranks


def test_pagerank_sink_accumulates_and_mass_bounded(spark):
    """Star a→hub, b→hub, c→hub (+hub→a to give the hub out-degree):
    the hub must out-rank every spoke, and total mass never exceeds
    TOTAL (truncating division only sheds mass, never creates it)."""
    from karna_spark.operators.graphrank import TOTAL, pagerank_exact

    edges = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (9, 1)], "src long, dst long"
    )
    ranks = {r["id"]: r["rank"] for r in pagerank_exact(edges, 3).collect()}
    assert ranks[9] > max(ranks[k] for k in (1, 2, 3))
    assert sum(ranks.values()) <= TOTAL


def test_pagerank_plan_no_python_no_window(spark):
    from karna_spark.operators.graphrank import pagerank_exact

    edges = spark.createDataFrame(
        [(i, (i * 7) % 20) for i in range(20)], "src long, dst long"
    )
    plan = pagerank_exact(edges, 2)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_counts_known_graphs(spark):
    """A36: K4 gives every node C(3,2)=3 triangles; a star gives zero
    everywhere (the orientation sends the hub's edges outward from the
    leaves — no wedge forms at any node); a triangle with a pendant
    vertex counts 1-1-1-0."""
    from pyspark.sql import Row

    from karna_spark.operators.graphrank import triangle_counts

    def run(pairs):
        df = spark.createDataFrame([Row(a=a, b=b) for a, b in pairs])
        return {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert run(k4) == {1: 3, 2: 3, 3: 3, 4: 3}
    star = [(1, 2), (1, 3), (1, 4), (1, 5)]
    assert run(star) == {1: 0, 2: 0, 3: 0, 4: 0, 5: 0}
    pendant = [(1, 2), (1, 3), (2, 3), (3, 4)]
    assert run(pendant) == {1: 1, 2: 1, 3: 1, 4: 0}


def test_percentile_cont_matches_duckdb_native(spark):
    """W11: the integer-hundredths interpolation spec IS ANSI
    PERCENTILE_CONT — cross-checked against DuckDB's native
    quantile_cont (an independent implementation, not the replayed
    spec) at every group."""
    import duckdb

    from karna_spark.queries.registry import REGISTRY

    got = {
        r["o_orderpriority"]: (r["p25"], r["median"], r["p75"])
        for r in REGISTRY["window_percentile_cont"]
        .builder(spark, "/root/testdata/sf0.001")
        .collect()
    }
    con = duckdb.connect()
    native = con.execute(
        """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.25), 4),
               ROUND(quantile_cont(o_totalprice, 0.50), 4),
               ROUND(quantile_cont(o_totalprice, 0.75), 4)
        FROM read_parquet('/root/testdata/sf0.001/orders.parquet')
        GROUP BY o_orderpriority
        """
    ).fetchall()
    assert got == {g: (p25, p50, p75) for g, p25, p50, p75 in native}


def test_url_normalize_and_registered_domain(spark):
    """F29 edge shapes: mixed case, default vs real ports, fragments,
    trailing host dots, multi-label public suffixes, bare suffixes,
    single-label hosts, scheme-less strings."""
    from karna_spark.operators.urls import (
        registered_domain,
        url_host,
        url_normalize,
    )

    cases = [
        ("HTTPS://WWW.Example.COM:443/Path?q=1#frag",
         "https://www.example.com/Path?q=1", "example.com"),
        ("http://example.com:80/", "http://example.com/", "example.com"),
        ("http://example.com:8080/x", "http://example.com:8080/x",
         "example.com"),
        ("https://a.b.shop.co.uk./p", "https://a.b.shop.co.uk/p",
         "shop.co.uk"),
        ("https://news.com.au", "https://news.com.au", "news.com.au"),
        ("https://co.uk/odd", "https://co.uk/odd", "co.uk"),
        ("https://localhost:9000/x", "https://localhost:9000/x",
         "localhost"),
        ("https://cdn.assets.web-corpus.net/a/B?x=Y",
         "https://cdn.assets.web-corpus.net/a/B?x=Y", "web-corpus.net"),
        # r9 ADVICE: a URL embedding another absolute URL (redirect /
        # web-archive shape) must keep its FULL tail — only the first
        # '://' delimits the scheme. Distinct targets must not
        # collide on one canonical string.
        ("HTTPS://Redirect.Example.com/r?u=https://a.com/x",
         "https://redirect.example.com/r?u=https://a.com/x",
         "example.com"),
        ("https://web.archive.org:443/web/2020/https://b.com/y#f",
         "https://web.archive.org/web/2020/https://b.com/y",
         "archive.org"),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    got = (
        df.select(
            "url",
            url_normalize(F.col("url")).alias("norm"),
            registered_domain(url_host(F.col("url"))).alias("dom"),
        )
        .collect()
    )
    by_url = {r["url"]: (r["norm"], r["dom"]) for r in got}
    for u, want_norm, want_dom in cases:
        assert by_url[u] == (want_norm, want_dom), u


def test_langid_classifier_edges(spark):
    """F31 edges: sub-2-char docs produce no bigrams (and no
    prediction row); a doc whose bigrams are all OOV still gets a
    deterministic prediction (floor-only scores tie across langs →
    lexicographically first lang wins)."""
    from pyspark.sql import Row

    from karna_spark.operators.langid import classify, train_bigram_model

    train = spark.createDataFrame(
        [Row(doc_id=1, text="aaab", lang="aa"), Row(doc_id=2, text="bbba", lang="bb")]
    )
    model, floors = train_bigram_model(train, "text", "lang")
    test = spark.createDataFrame(
        [
            Row(doc_id=10, text="aaaa"),   # clearly 'aa'
            Row(doc_id=11, text="x"),      # <2 chars: no bigrams
            Row(doc_id=12, text="zzzz"),   # all-OOV: floor tie -> 'aa'
        ]
    )
    got = {r["doc_id"]: r["lang_pred"]
           for r in classify(test, model, floors, "doc_id", "text").collect()}
    assert got == {10: "aa", 12: "aa"}


def test_langid_sparse_matches_dense(spark):
    """The sparse-scoring escape (score = seen-pair sum + floor ×
    unseen mass — the 200-language plan that avoids the |langs| × bag
    fan-out) must be BIT-identical to the dense broadcast-join plan:
    same predictions AND same exact micro-nat scores, including
    all-OOV docs and mixed-language text."""
    from pyspark.sql import Row

    from karna_spark.operators.langid import classify, train_bigram_model

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat on the mat", lang="en"),
            Row(doc_id=2, text="le chat est sur le tapis", lang="fr"),
            Row(doc_id=3, text="der hund lief im park", lang="de"),
        ]
    )
    model, floors = train_bigram_model(train, "text", "lang")
    test = spark.createDataFrame(
        [
            Row(doc_id=10, text="the cat on the mat sat"),
            Row(doc_id=11, text="le tapis est sur le chat"),
            Row(doc_id=12, text="qqqq zzzz"),          # heavy OOV
            Row(doc_id=13, text="the chat im park"),   # mixed
        ]
    )
    dense = {
        r["doc_id"]: (r["lang_pred"], r["score_e6"])
        for r in classify(test, model, floors, "doc_id", "text").collect()
    }
    sparse = {
        r["doc_id"]: (r["lang_pred"], r["score_e6"])
        for r in classify(
            test, model, floors, "doc_id", "text", sparse=True
        ).collect()
    }
    assert sparse == dense


# ------------------------------------------------ F34 quantized logreg
def test_hard_sigmoid_logreg_learns_separable_signal(spark):
    # A perfectly separable planted feature must be learned: docs with
    # bucket 'pos' present are y=1. After a few iterations the model
    # classifies the training set correctly and the 'pos' weight is
    # the dominant positive coordinate.
    from karna_spark.operators.lr import predict, train_hard_sigmoid_logreg

    rows = []
    for d in range(40):
        y = 1 if d % 2 == 0 else 0
        rows.append((d, y, "base", 3))
        if y:
            rows.append((d, y, "pos", 2))
        rows.append((d, y, "__bias", 1))
    feats = spark.createDataFrame(
        rows, "doc_id long, y int, b string, x long"
    )
    w, n = train_hard_sigmoid_logreg(feats, iters=6, inv_lr=16)
    assert n == 40
    assert w["pos"] > 0 and w["pos"] == max(w.values())
    pred = {r["doc_id"]: r["yhat"] for r in predict(feats, w).collect()}
    assert all(pred[d] == (1 if d % 2 == 0 else 0) for d in range(40))


def test_hard_sigmoid_probability_clamps_and_floors(spark):
    # p = clamp(floor(z/4) + 500000, 0, 1e6) — spot-check the exact
    # integer arithmetic the certification depends on, including a
    # negative z (floor, not truncation) and both saturation ends.
    from karna_spark.operators.lr import predict

    feats = spark.createDataFrame(
        [(1, 0, "a", 1), (2, 0, "b", 1), (3, 0, "c", 1), (4, 0, "d", 1)],
        "doc_id long, y int, b string, x long",
    )
    w = {"a": -2, "b": 10**7, "c": -(10**7), "d": 5}
    got = {r["doc_id"]: r["p"] for r in predict(feats, w).collect()}
    assert got[1] == 500000 - 1   # floor(-2/4) = -1, not 0
    assert got[2] == 1000000      # clamped high
    assert got[3] == 0            # clamped low
    assert got[4] == 500001       # floor(5/4) = 1


def test_ann_hamming_rerank_recall_vs_bruteforce(spark):
    from karna_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_hamming_rerank,
    )
    from karna_spark.queries.registry import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = ann_bruteforce_topk(emb, q, "vec_id", "vec_id", "embedding", k=5)
    approx = ann_hamming_rerank(
        emb, q, "vec_id", "vec_id", "embedding", k=5, rerank=30, dim=64
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows = approx.collect()
    approx_set = {(r.query_id, r.neighbor_id) for r in rows}
    # a 64-bit sign sketch over 64 dims preserves angular order well;
    # with rerank depth 30 of ~100 corpus vectors, recall of the exact
    # top-5 should be high on the clustered fixture
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"suspiciously low hamming-rerank recall: {recall}"
    # ranks are contiguous 1..k per query and hamming is a real count
    assert all(1 <= r.rank <= 5 for r in rows)
    assert all(0 <= r.hamming <= 64 for r in rows)


def test_sign_sketch_words_bit_exact(spark):
    # closed-form check: a vector with known sign pattern packs to the
    # exact expected words (bit i of word j == vec[32j+i] > 0)
    from karna_spark.operators.similarity import sign_sketch_words

    vec = [1.0 if i % 3 == 0 else -1.0 for i in range(64)]
    df = spark.createDataFrame([(vec,)], "v array<float>")
    row = df.select(*sign_sketch_words("v", 64)).collect()[0]
    w0 = sum(1 << i for i in range(32) if i % 3 == 0)
    w1 = sum(1 << i for i in range(32) if (i + 32) % 3 == 0)
    assert (row.w0, row.w1) == (w0, w1)


def test_bpe_incremental_learner_matches_reference():
    """learn_bpe's learner keeps pair counts up to date incrementally
    (only the words holding the winning pair are re-counted). It must
    reproduce reference_bpe EXACTLY on adversarial random corpora:
    tiny alphabets force overlapping/chained/self-pairs ((a,a)) and
    stale index entries, and count ties exercise the lexicographic
    tie-break. No Spark involved: this certifies the learner; the
    Spark differentials certify the task wiring around it."""
    import random

    from karna_spark.operators.bpe import learn_merges, reference_bpe

    rng = random.Random(20260818)
    n_multi = 0
    for trial in range(150):
        alpha = "abcde"[: rng.randint(2, 5)]
        words = {
            "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 8))
            ): rng.randint(1, 9)
            for _ in range(rng.randint(10, 80))
        }
        for min_pair_freq in (1, 2):
            want = reference_bpe(
                words, num_merges=30, min_pair_freq=min_pair_freq
            )
            got = learn_merges(words.items(), 30, min_pair_freq)
            assert got == want, f"trial {trial} diverged: {got} != {want}"
            if len(got) > 1:
                n_multi += 1
    # the generator must actually exercise multi-merge learning
    assert n_multi > 200


def _bpe_corpus_wf(spark, n_docs):
    from karna_spark.operators.bpe import word_frequencies
    from karna_spark.queries.registry import table
    from tests.conftest import SF_SMOKE

    docs = table(spark, SF_SMOKE, "documents").limit(n_docs)
    return word_frequencies(docs)


def test_learn_bpe_partitioning_invariant(spark):
    """The learner sees the whole vocabulary in ONE task (coalesce(1)):
    a vocabulary spread over 8 partitions yields the same merges."""
    from karna_spark.operators.bpe import learn_bpe, reference_bpe

    wf = _bpe_corpus_wf(spark, 120)
    freqs = {r["w"]: r["freq"] for r in wf.collect()}
    got = learn_bpe(wf.repartition(8), num_merges=12)
    assert got == reference_bpe(freqs, num_merges=12)
    assert len(got) > 0


def test_unigram_rows_independent_of_input_partitions(spark):
    """The Viterbi is a narrow map over the distinct words, never one
    task: both unigram entry points give the same per-doc rows, equal
    to the pure-Python twins, at 1 and 4 input partitions."""
    from karna_spark.operators.unigram_tok import (
        reference_unigram_em,
        reference_unigram_tokenize,
        unigram_em_tokenize_docs,
        unigram_tokenize_docs,
    )
    from karna_spark.queries.registry import table
    from tests.conftest import SF_SMOKE

    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    for encode, reference in (
        (unigram_tokenize_docs, reference_unigram_tokenize),
        (unigram_em_tokenize_docs, reference_unigram_em),
    ):
        got = [
            {
                r[0]: (r[1], r[2])
                for r in encode(docs.repartition(n), "doc_id", "text").collect()
            }
            for n in (1, 4)
        ]
        assert got[0] == got[1] == reference(rows)
        assert len(got[0]) > 0


def test_learn_bpe_empty_vocabulary(spark):
    from karna_spark.operators.bpe import learn_bpe

    wf = spark.createDataFrame([], "w string, freq bigint")
    assert learn_bpe(wf, num_merges=5) == []
    merges, syms = learn_bpe(wf, num_merges=5, return_symbols=True)
    assert merges == [] and syms.collect() == []


def _run_in_job_group(spark, group: str, fn):
    """``fn()`` run under Spark job group ``group``: (result, jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_learn_bpe_job_count_independent_of_merges(spark):
    """Learning is one task, not one job per merge (batch): 60 merges
    cost exactly the Spark jobs 12 merges cost."""
    from karna_spark.operators.bpe import learn_bpe

    wf = _bpe_corpus_wf(spark, 300)
    m12, jobs12 = _run_in_job_group(
        spark, "bpe-jobs-12", lambda: learn_bpe(wf, num_merges=12)
    )
    m60, jobs60 = _run_in_job_group(
        spark, "bpe-jobs-60", lambda: learn_bpe(wf, num_merges=60)
    )
    assert len(m12) == 12 and len(m60) >= 40
    assert jobs12 == jobs60 > 0


def test_learn_bpe_leaves_no_cached_rdds(spark):
    """Cache-leak witness: learn_bpe — plain, with return_symbols read
    inside a scope, and failing inside the learner — leaves the
    persistent-RDD count where it found it."""
    from karna_spark import intermediates
    from karna_spark.operators.bpe import learn_bpe

    jsc = spark.sparkContext._jsc
    start = jsc.getPersistentRDDs().size()
    wf = _bpe_corpus_wf(spark, 300)
    assert len(learn_bpe(wf, num_merges=60)) >= 40
    assert jsc.getPersistentRDDs().size() == start
    with intermediates.scope():
        merges, syms = learn_bpe(wf, num_merges=12, return_symbols=True)
        assert syms.count() > 0
    assert jsc.getPersistentRDDs().size() == start
    # a NULL word is not iterable: the learner task raises
    bad = spark.createDataFrame([("ab", 3), (None, 2)], "w string, freq bigint")
    with pytest.raises(Exception):
        learn_bpe(bad, num_merges=5)
    assert jsc.getPersistentRDDs().size() == start


def test_bpe_sql_fold_escapes_symbols(spark):
    """Symbols carrying SQL-literal metacharacters (quotes,
    backslashes) must round-trip the word count, the Arrow hand-off
    to the learner task and the merge table exactly. Differential vs
    the pure-Python reference on a corpus built from exactly those
    words."""
    from karna_spark.operators.bpe import (
        learn_bpe,
        reference_bpe,
        word_frequencies,
    )

    words = ["don't", "don't", "it's", "a\\b", "a\\b", "a\\b", "''", "o'er"]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    wf = word_frequencies(docs)
    freqs = {r["w"]: r["freq"] for r in wf.collect()}
    expected = reference_bpe(freqs, num_merges=10, min_pair_freq=1)
    got = learn_bpe(wf, num_merges=10, min_pair_freq=1)
    assert got == expected
    assert any("'" in a + b or "\\" in a + b for _, a, b, _, _ in got)
