#!/usr/bin/env python
"""Steady-state ingest scaling curve (r8 verdict item 6).

Measures the per-ingest cost of the two stored-index ingest operators
as the CORPUS grows with the batch size fixed — the slope that decides
whether the steady-state story holds at 100 TB:

- J18 `minhash_lsh_incremental_pairs` with a persisted signature store
  vs the naive full recompute (`minhash_lsh_pairs` over corpus∪batch);
- J19 `ann_ivf_topk` probing a persisted cell-assignment table vs
  re-assigning the whole corpus in-job.

Corpora are synthetic (150 pseudo-random words per doc from a 5k-word
vocab; 64-dim pseudo-random embeddings), generated with pure JVM
expressions so an 800k-doc corpus materializes in seconds and carries
no accidental near-duplicates (which would inflate candidate-verify
cost in a way a real crawl would not). Batch is always 500 docs.

Run on an idle box (1-min load < 2); each timing is the best of two
warm runs. Prints a markdown table for SKEW.md plus a JSON line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import Window as W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

CORPUS_SIZES = [50_000, 200_000, 800_000]
BATCH = 500
DIM = 64


def synth_docs(spark: SparkSession, n: int, salt: int, start: int = 0) -> DataFrame:
    """n docs of 150 pseudo-random words from a 5k vocab — all-JVM."""
    words = F.transform(
        F.sequence(F.lit(1), F.lit(150)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("doc_id") * 1000 + i + F.lit(salt)), F.lit(5000)),
        ),
    )
    return (
        spark.range(start, start + n)
        .select(F.col("id").alias("doc_id"))
        .select("doc_id", F.concat_ws(" ", words).alias("text"))
    )


def synth_vecs(spark: SparkSession, n: int, salt: int, start: int = 0) -> DataFrame:
    arr = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("vec_id") * 131 + i + F.lit(salt)), F.lit(1000))
            / 500.0
            - 1.0
        ).cast("float"),
    )
    return (
        spark.range(start, start + n)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", arr.alias("embedding"))
    )


_SPARK: SparkSession | None = None
_GROUPS: list[str] = []


def _next_group(label: str) -> None:
    """Stamp subsequent jobs with a fresh job group so their task
    failures are attributable afterward. r10's 800k naive MinHash leg
    silently absorbed Python-worker OOM-kill retries
    (SCALING_r10.json note); a scaling claim backed by retry-absorbing
    runs is not a scaling claim, so the script now records the total
    retry count across every leg and build and FAILS if any task ever
    retried."""
    if _SPARK is None:
        return
    group = f"g{len(_GROUPS)}-{label}"
    _GROUPS.append(group)
    _SPARK.sparkContext.setJobGroup(group, group)


def _total_failed_tasks() -> int:
    """Sum numFailedTasks over every stage of every grouped job."""
    if _SPARK is None:
        return 0
    tracker = _SPARK.sparkContext.statusTracker()
    failed = 0
    for group in _GROUPS:
        for jid in tracker.getJobIdsForGroup(group):
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    failed += si.numFailedTasks
    return failed


def timed(fn, reps: int = 2, label: str = "leg") -> float:
    _next_group(label)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sizes", type=int, nargs="+", default=CORPUS_SIZES)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--ops",
        nargs="+",
        choices=["minhash", "ivf", "image", "hamming", "bloom"],
        default=["minhash", "ivf", "image", "hamming", "bloom"],
    )
    ap.add_argument(
        "--nlist-rule",
        choices=["fixed8", "sqrt"],
        default="sqrt",
        help="IVF cell count: fixed 8 (the r9b run that showed ~1× because "
        "candidate scoring at nprobe/nlist=3/8 touches 37%% of the corpus "
        "per ingest) or sqrt(n) (the production rule — probe cost per query "
        "~ nprobe*sqrt(n), and the stored table saves the n*nlist "
        "re-assignment)",
    )
    args = ap.parse_args()

    # Ambient load BEFORE the session spins up its worker threads —
    # the end-of-run sample mostly measures the run itself (r10
    # protocol, same as bench.py). Bounded wait for a quiet box.
    gate_deadline = time.time() + float(
        os.environ.get("KARNA_BENCH_GATE_WAIT_SEC", "300")
    )
    while os.getloadavg()[0] >= 1.0 and time.time() < gate_deadline:
        time.sleep(5)
    load_ambient = os.getloadavg()[0]

    from karna_spark.operators.dedup import (
        minhash_lsh_incremental_pairs,
        minhash_lsh_pairs,
        minhash_signature_table,
    )
    from karna_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_hamming_rerank,
        ann_ivf_topk,
        ivf_assignment_table,
        sign_sketch_words,
    )
    from karna_spark import intermediates
    from karna_spark.session import get_spark

    spark = get_spark(app_name="ingest_scaling")
    spark.sparkContext.setLogLevel("ERROR")
    global _SPARK
    _SPARK = spark
    _next_group("setup")
    work = tempfile.mkdtemp(prefix="ingest_scaling_")
    rows = []
    try:
        for n in args.sizes:
            # each size's checkpoints and caches are released before the
            # next size is measured
            with intermediates.scope():
                row = {"corpus": n, "batch": BATCH}

                if "minhash" in args.ops:
                    corpus_path = os.path.join(work, f"docs_{n}.parquet")
                    synth_docs(spark, n, salt=1).write.mode("overwrite").parquet(
                        corpus_path
                    )
                    corpus = spark.read.parquet(corpus_path)
                    batch = intermediates.checkpoint(
                        synth_docs(spark, BATCH, salt=2, start=n), eager=True
                    )

                    # one-time index build (reported, not the per-ingest number)
                    sig_path = os.path.join(work, f"sigs_{n}.parquet")
                    t0 = time.perf_counter()
                    minhash_signature_table(corpus, "doc_id", "text").write.mode(
                        "overwrite"
                    ).parquet(sig_path)
                    sig_build = round(time.perf_counter() - t0, 3)
                    sigs = spark.read.parquet(sig_path)

                    def ingest_stored():
                        with intermediates.scope():
                            noop(minhash_lsh_incremental_pairs(
                                corpus, batch, "doc_id", "text",
                                base_signatures=sigs,
                            ))

                    def ingest_naive():
                        with intermediates.scope():
                            noop(minhash_lsh_pairs(
                                corpus.unionByName(batch), "doc_id", "text"
                            ))

                    stored_s = timed(ingest_stored, args.reps)
                    naive_s = timed(ingest_naive, args.reps)
                    row.update(
                        minhash_stored_s=stored_s,
                        minhash_naive_s=naive_s,
                        minhash_speedup=round(naive_s / stored_s, 1),
                        sig_build_once_s=sig_build,
                    )

                if "image" in args.ops:
                    # ---- J20: stored-hash image ingest ------------------
                    from karna_spark.operators.multimodal import (
                        ahash_incremental_pairs,
                        ahash_near_dup_pairs,
                        image_ahash64,
                        synthesize_patterned_image_df,
                    )

                    img_ids = spark.range(0, n).select(
                        F.col("id").alias("item_id")
                    )
                    batch_ids = spark.range(n, n + BATCH).select(
                        F.col("id").alias("item_id")
                    )
                    # one-time hash-table build (reported, not per-ingest)
                    hash_path = os.path.join(work, f"ahash_{n}.parquet")
                    _next_group("image-build")
                    t0 = time.perf_counter()
                    image_ahash64(
                        synthesize_patterned_image_df(img_ids, "item_id")
                    ).write.mode("overwrite").parquet(hash_path)
                    hash_build = round(time.perf_counter() - t0, 3)
                    stored_hashes = spark.read.parquet(hash_path)
                    batch_media = intermediates.checkpoint(
                        synthesize_patterned_image_df(batch_ids, "item_id"),
                        eager=True,
                    )

                    def img_stored():
                        noop(
                            ahash_incremental_pairs(batch_media, stored_hashes)
                        )

                    def img_naive():
                        noop(
                            ahash_near_dup_pairs(
                                image_ahash64(
                                    synthesize_patterned_image_df(
                                        img_ids.unionByName(batch_ids),
                                        "item_id",
                                    )
                                )
                            )
                        )

                    img_stored_s = timed(img_stored, args.reps, label="img-stored")
                    img_naive_s = timed(img_naive, args.reps, label="img-naive")
                    row.update(
                        image_stored_s=img_stored_s,
                        image_naive_s=img_naive_s,
                        image_speedup=round(img_naive_s / img_stored_s, 1),
                        hash_build_once_s=hash_build,
                    )

                if "bloom" in args.ops:
                    # F37 decontamination: the broadcast-Bloom MAP-ONLY
                    # probe vs the exact broadcast string join. Both scale
                    # linearly in the corpus; the Bloom side has NO
                    # explode/distinct/shuffle — the exact side shuffles
                    # every distinct (doc, ngram) pair (~|words| rows/doc),
                    # which is the cost the filter exists to delete.
                    bl_path = os.path.join(work, f"bloom_docs_{n}.parquet")
                    synth_docs(spark, n, salt=1).write.mode("overwrite").parquet(
                        bl_path
                    )
                    bl_corpus = spark.read.parquet(bl_path)
                    bench = intermediates.checkpoint(
                        synth_docs(spark, 200, salt=7, start=10_000_000),
                        eager=True,
                    )

                    from karna_spark.operators.bloom import bloom_flag_ngrams
                    from karna_spark.operators.contamination import (
                        contaminated_docs,
                    )

                    def decon_bloom():
                        noop(
                            bloom_flag_ngrams(
                                bl_corpus, bench, "doc_id", "text", n=4,
                                m_bits=1 << 19,
                            )
                        )

                    def decon_exact():
                        noop(
                            contaminated_docs(
                                bl_corpus, bench, "doc_id", "text", n=4
                            )
                        )

                    bloom_s = timed(decon_bloom, args.reps, label="bloom-probe")
                    exact_s = timed(decon_exact, args.reps, label="bloom-exact")
                    row.update(
                        bloom_probe_s=bloom_s,
                        exact_join_s=exact_s,
                        bloom_speedup=round(exact_s / bloom_s, 1),
                    )

                if "ivf" not in args.ops and "hamming" not in args.ops:
                    rows.append(row)
                    print(f"done corpus={n}: {row}", file=sys.stderr)
                    continue

                # shared vector corpus for the ANN legs
                vec_path = os.path.join(work, f"vecs_{n}.parquet")
                synth_vecs(spark, n, salt=3).write.mode("overwrite").parquet(vec_path)
                vecs = spark.read.parquet(vec_path)
                vbatch = intermediates.checkpoint(
                    synth_vecs(spark, BATCH, salt=4, start=n), eager=True
                )

                if "ivf" in args.ops:
                    # ---- J19: IVF ANN ingest --------------------------------
                    nlist = 8 if args.nlist_rule == "fixed8" else max(8, int(math.isqrt(n)))
                    cents = intermediates.checkpoint(
                        vecs.filter(F.col("vec_id") % (n // nlist) == 0)
                        .limit(nlist)
                        .select(
                            "vec_id",
                            F.transform("embedding", lambda x: x.cast("double")).alias(
                                "centroid"
                            ),
                        )
                        .withColumn(
                            "cluster_id", F.row_number().over(W.orderBy("vec_id")) - 1
                        )
                        .select("cluster_id", "centroid"),
                        eager=True,
                    )
                    asg_path = os.path.join(work, f"asg_{n}.parquet")
                    t0 = time.perf_counter()
                    ivf_assignment_table(vecs, cents, "vec_id", "embedding").write.mode(
                        "overwrite"
                    ).parquet(asg_path)
                    asg_build = round(time.perf_counter() - t0, 3)
                    stored_asg = spark.read.parquet(asg_path)

                    def ann_stored():
                        delta_asg = ivf_assignment_table(
                            vbatch, cents, "vec_id", "embedding"
                        )
                        noop(
                            ann_ivf_topk(
                                vecs.unionByName(vbatch),
                                vbatch,
                                cents,
                                "vec_id",
                                "vec_id",
                                "embedding",
                                k=10,
                                nprobe=3,
                                corpus_assignments=stored_asg.unionByName(delta_asg),
                            )
                        )

                    def ann_naive():
                        noop(
                            ann_ivf_topk(
                                vecs.unionByName(vbatch),
                                vbatch,
                                cents,
                                "vec_id",
                                "vec_id",
                                "embedding",
                                k=10,
                                nprobe=3,
                            )
                        )

                    ann_stored_s = timed(ann_stored, args.reps)
                    ann_naive_s = timed(ann_naive, args.reps)

                    row.update(
                        ivf_nlist=nlist,
                        ivf_stored_s=ann_stored_s,
                        ivf_naive_s=ann_naive_s,
                        ivf_speedup=round(ann_naive_s / ann_stored_s, 1),
                        ivf_build_once_s=asg_build,
                    )

                if "hamming" in args.ops:
                    # ---- J21: binary-sketch ANN vs float brute force ----
                    # steady state: the 8-byte/row sketch table persists at
                    # ingest; each query batch scans sketches + reranks a
                    # bounded candidate set. Naive: exact cosine over the
                    # full float corpus for the same queries. Speedup is
                    # the scan-size story (16 sketch bytes vs 256 float
                    # bytes per 64-dim row) plus the cheaper distance op.
                    _next_group(f"hamming corpus={n}")
                    nq = 50
                    qvecs = intermediates.checkpoint(
                        synth_vecs(spark, nq, salt=5, start=n + BATCH), eager=True
                    )
                    sk_path = os.path.join(work, f"sketch_{n}.parquet")
                    t0 = time.perf_counter()
                    vecs.select(
                        F.col("vec_id").alias("neighbor_id"),
                        *sign_sketch_words("embedding", DIM),
                    ).write.mode("overwrite").parquet(sk_path)
                    sk_build = round(time.perf_counter() - t0, 3)
                    stored_sk = spark.read.parquet(sk_path)

                    def ham_stored():
                        noop(
                            ann_hamming_rerank(
                                vecs, qvecs, "vec_id", "vec_id", "embedding",
                                k=10, rerank=50, dim=DIM,
                                corpus_sketches=stored_sk,
                            )
                        )

                    def ham_naive():
                        noop(
                            ann_bruteforce_topk(
                                vecs, qvecs, "vec_id", "vec_id", "embedding",
                                k=10,
                            )
                        )

                    ham_stored_s = timed(ham_stored, args.reps, label="ham-stored")
                    ham_naive_s = timed(ham_naive, args.reps, label="ham-naive")
                    row.update(
                        hamming_stored_s=ham_stored_s,
                        hamming_bruteforce_s=ham_naive_s,
                        hamming_speedup=round(ham_naive_s / ham_stored_s, 1),
                        sketch_build_once_s=sk_build,
                    )

                rows.append(row)
                print(f"done corpus={n}: {row}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cols = ["corpus", "batch"]
    if "minhash" in args.ops:
        cols += ["minhash_stored_s", "minhash_naive_s", "minhash_speedup",
                 "sig_build_once_s"]
    if "image" in args.ops:
        cols += ["image_stored_s", "image_naive_s", "image_speedup",
                 "hash_build_once_s"]
    if "ivf" in args.ops:
        cols += ["ivf_nlist", "ivf_stored_s", "ivf_naive_s", "ivf_speedup",
                 "ivf_build_once_s"]
    if "hamming" in args.ops:
        cols += ["hamming_stored_s", "hamming_bruteforce_s",
                 "hamming_speedup", "sketch_build_once_s"]
    if "bloom" in args.ops:
        cols += ["bloom_probe_s", "exact_join_s", "bloom_speedup"]
    print("\n| " + " | ".join(cols) + " |")
    print("|" + "---|" * len(cols))
    for r in rows:
        print("| " + " | ".join(str(r.get(c, "")) for c in cols) + " |")
    task_failures = _total_failed_tasks()
    print(
        json.dumps(
            {
                "ingest_scaling": rows,
                "reps": args.reps,
                "nlist_rule": args.nlist_rule if "ivf" in args.ops else None,
                "load_ambient_1m": round(load_ambient, 2),
                "load_after_1m": round(os.getloadavg()[0], 2),
                # zero-retry gate: numbers above are only claims if no
                # task silently retried past a worker OOM-kill
                "task_failures": task_failures,
            }
        )
    )
    spark.stop()
    if task_failures:
        print(
            f"FAIL: {task_failures} task failure(s) were retried during "
            "the run — timings above absorbed them and are not scaling "
            "evidence; lower KARNA_MINHASH_MATRIX_MB or rerun on a "
            "quieter box",
            file=sys.stderr,
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
