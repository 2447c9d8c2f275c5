"""Extra benchmarks (guide §1.4): per-query noop-sink isolation and
phase-level timing of the heavy similarity/dedup pipelines.

bench.py is FROZEN for driver measurement; numbers cited in
OPTIMIZATION_r07.md that need phase isolation come from here.

Usage:
    python bench_extra.py noop [query ...]    # noop-sink per query
    python bench_extra.py phases              # phase timing: q35/q26/q19/q21
    python bench_extra.py count <table>       # row counts of the sf tables
    python bench_extra.py newfam              # round-5/6 families q68-q74
                                              # (bench.py is FROZEN; their
                                              # recurring timings live here —
                                              # round-6 verdict item 5)

Respects $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS like bench.py.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _session():
    from chronominer_spark.session import build_session
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return build_session(
        "bench_extra", master=f"local[{cpus}]",
        shuffle_partitions=max(8, int(cpus)),
        extra_conf={"spark.driver.memory":
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")},
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label: str, fn) -> float:
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    fn()
    dt = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {dt}s", file=sys.stderr)
    return dt


def cmd_noop(names: list[str]) -> None:
    from chronominer_spark.queries import QUERIES
    spark = _session()
    if not names:
        import bench
        names = bench.BENCH_QUERIES
    # warmup: footer caching + codegen
    for tbl in ("lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{tbl}.parquet").count()
    out = {}
    for name in names:
        out[name] = _timed(spark, name,
                           lambda n=name: _noop(QUERIES[n](spark, SF_DIR)))
    print(json.dumps({"sf_dir": SF_DIR, "noop_sec": out}))
    spark.stop()


def cmd_phases() -> None:
    """Phase-level isolation of the 4 heaviest bench queries."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from chronominer_spark.operators import dedup as D
    from chronominer_spark.operators import similarity as S
    from chronominer_spark.queries import QUERIES

    spark = _session()
    for tbl in ("documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{tbl}.parquet").count()
    res: dict[str, dict[str, float]] = {}

    # ---- q35 phases ----------------------------------------------------
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = (
        base.where(F.col("vec_id") % 10 == 0)
        .select(F.col("vec_id").alias("orig_id"), "embedding")
        .select(
            (F.col("orig_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, d: x + F.lit(0.001)
                * (F.pmod(F.col("orig_id") * 31 + d.cast("long"), F.lit(7)) - 3)
                .cast("double"),
            ).alias("embedding"),
        )
    )
    corpus = base.unionByName(planted)
    p = res["q35"] = {}
    n = corpus.count()
    print(f"  q35 corpus rows: {n}", file=sys.stderr)
    planes = [
        [S._hyperplane(7, t, b, 64, "rademacher_md5") for b in range(10)]
        for t in range(6)
    ]
    wp = S._broadcast_nested(
        corpus.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("__v")),
        "__planes", planes, depth=3)
    buck = wp.select(
        "id", F.explode(S._sketch_buckets("__v", "__planes")).alias("bucket"))
    p["bucketize_noop"] = _timed(spark, "q35:bucketize", lambda: _noop(buck))
    cb = buck.persist(StorageLevel.MEMORY_AND_DISK)
    p["bucketize_persist"] = _timed(spark, "q35:persist", lambda: cb.count())
    cand = (
        cb.select(F.col("id").alias("query_id"), "bucket")
        .join(cb.select(F.col("id").alias("neighbor_id"), "bucket"),
              on="bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    p["cand_pairs"] = _timed(spark, "q35:cand", lambda: cand.count())
    print(f"  q35 candidate pairs: {cand.count()}", file=sys.stderr)
    cv = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    cv.count()
    attached = (
        cand.join(cv.select(F.col("vec_id").alias("query_id"),
                            F.col("embedding").alias("__qv")), "query_id")
        .join(cv.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("__nv")), "neighbor_id")
        .withColumn("cosine", F.round(
            S.cosine_similarity(F.col("__qv"), F.col("__nv")), 6))
        .select("query_id", "neighbor_id", "cosine")
    )
    p["verify_cosine"] = _timed(spark, "q35:verify", lambda: _noop(attached))
    p["full_query"] = _timed(
        spark, "q35:full",
        lambda: QUERIES["q35_embedding_near_dups"](spark, SF_DIR).count())
    cb.unpersist(); cand.unpersist(); cv.unpersist()

    # ---- q26 phases ----------------------------------------------------
    p = res["q26"] = {}
    planes26 = [
        [S._hyperplane(42, t, b, 64, "rademacher_md5") for b in range(4)]
        for t in range(8)
    ]
    wp26 = S._broadcast_nested(
        emb.select(F.col("vec_id").alias("id"),
                   F.col("embedding").alias("__v")),
        "__planes", planes26, depth=3)
    buck26 = wp26.select(
        "id", F.explode(S._sketch_buckets("__v", "__planes")).alias("bucket"))
    p["bucketize_noop"] = _timed(spark, "q26:bucketize",
                                 lambda: _noop(buck26))
    p["full_query"] = _timed(
        spark, "q26:full",
        lambda: QUERIES["q26_lsh_ann_topk"](spark, SF_DIR).count())

    # ---- q21 phases ----------------------------------------------------
    p = res["q21"] = {}
    p["full_query"] = _timed(
        spark, "q21:full",
        lambda: QUERIES["q21_embedding_topk"](spark, SF_DIR).count())

    # ---- q19 phases ----------------------------------------------------
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .repartition(spark.sparkContext.defaultParallelism)
    p = res["q19"] = {}
    print(f"  q19 documents rows: {d.count()}", file=sys.stderr)
    fh = D.shingle_hash_docs(d, "doc_id", "text", k=3) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    p["shingle_persist"] = _timed(spark, "q19:shingle", lambda: fh.count())
    sigs = D.minhash_signatures(d, "doc_id", "text", k=3, num_hashes=16,
                                hash_df=fh)
    p["signatures_noop"] = _timed(spark, "q19:sigs", lambda: _noop(sigs))
    pairs = D.lsh_candidate_pairs(sigs, "doc_id", bands=8, num_hashes=16)
    p["cand_pairs"] = _timed(spark, "q19:cand", lambda: pairs.count())
    print(f"  q19 candidate pairs: {pairs.count()}", file=sys.stderr)
    verified = D.ngram_jaccard_pairs(d, "doc_id", "text", pairs, k=3,
                                     hash_df=fh, min_jaccard=0.2,
                                     pairs_materialized=True)
    p["verify"] = _timed(
        spark, "q19:verify",
        lambda: _noop(verified.where(F.col("jaccard") >= 0.2)))
    fh.unpersist()
    p["full_query"] = _timed(
        spark, "q19:full",
        lambda: QUERIES["q19_lsh_jaccard_pairs"](spark, SF_DIR).count())

    print(json.dumps({"sf_dir": SF_DIR, "phases": res}))
    spark.stop()


def cmd_count(tables: list[str]) -> None:
    spark = _session()
    out = {}
    for tbl in tables or ["lineitem", "orders", "customer", "events",
                          "documents", "embeddings"]:
        out[tbl] = spark.read.parquet(f"{SF_DIR}/{tbl}.parquet").count()
    print(json.dumps({"sf_dir": SF_DIR, "rows": out}))
    spark.stop()


# round-5/6 additions with no recurring bench.py slot (the timed lists
# there are frozen): timed here so regressions in the newest families
# stay visible round-over-round (round-6 verdict item 5)
NEWFAM_QUERIES = [
    "q68_functional_dependency",
    "q69_calendar_completeness",
    "q70_partition_outliers",
    "q71_token_budget_audit",
    "q72_incremental_categorical_drift",
    "q73_incremental_heavy_hitters",
    "q74_incremental_tdigest_quantiles",
]


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "noop"
    if cmd == "newfam":
        cmd_noop(NEWFAM_QUERIES)
    elif cmd == "noop":
        cmd_noop(sys.argv[2:])
    elif cmd == "phases":
        cmd_phases()
    elif cmd == "count":
        cmd_count(sys.argv[2:])
    else:
        print(f"unknown command {cmd}", file=sys.stderr)
        sys.exit(2)
