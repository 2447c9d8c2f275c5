"""Benchmark decontamination: flag training documents whose word
n-grams overlap an evaluation/benchmark set.

The standard curation step before training (reference parity: the
reference has no equivalent — this is part of the LLM-data-pipeline
extension surface): eval-set leakage is detected by n-gram collision,
not fuzzy similarity, because a single verbatim benchmark question
inside a long document must still trip the flag.

Scale posture (100 TB corpus, bounded benchmark): benchmark suites are
small (10^4..10^6 docs -> ~10^5..10^7 distinct shingles), so the
benchmark shingle set is BROADCAST and the corpus side never shuffles
text — the only exchange is the per-doc hit-count groupBy, which
map-side-combines to at most one row per (doc, map partition). The
corpus is shingled exactly once (:func:`~chronominer_spark.operators.
dedup.shingle_docs`, the dedup family's one tokenizer emitting the
shingle strings: the match against the benchmark set is an exact string
match, not a hash match), exploded, broadcast-hash-left-joined against
the benchmark set, and counted. Nothing is O(corpus x benchmark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronominer_spark.operators.dedup import shingle_docs


def benchmark_shingles(
    benchmark: DataFrame, id_col: str, text_col: str, k: int = 3,
) -> DataFrame:
    """Distinct word k-shingles of the benchmark set, one per row
    (column ``shingle``). Compute once, persist if reused across
    corpus partitions."""
    return (
        shingle_docs(benchmark, id_col, text_col, k=k)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    bench_shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Per-corpus-doc benchmark-overlap profile.

    Returns one row per corpus doc: ``(id_col, n_shingles, n_overlap,
    overlap_frac, contaminated)`` where ``overlap_frac = n_overlap /
    n_shingles`` (distinct doc shingles that also appear anywhere in
    the benchmark set) and ``contaminated = overlap_frac >= threshold``.

    Pass ``bench_shingles_df`` (from :func:`benchmark_shingles`,
    ideally persisted) to reuse an already-computed benchmark set.

    Plan: shingle corpus once -> explode -> broadcast left join against
    the benchmark shingle set -> single hash-aggregate per doc. The
    per-doc shingle count is recovered as ``count(*)`` of the exploded
    rows (the shingle set is distinct by construction), so the corpus
    is scanned exactly once.
    """
    if bench_shingles_df is None:
        bench_shingles_df = benchmark_shingles(benchmark, id_col, text_col, k)
    bench = F.broadcast(bench_shingles_df.withColumn("__hit", F.lit(1)))

    exploded = (
        shingle_docs(corpus, id_col, text_col, k=k)
        .select(F.col(id_col), F.explode("shingles").alias("shingle"))
    )
    counted = (
        exploded.join(bench, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") / F.col("n_shingles")
    return counted.select(
        F.col(id_col),
        F.col("n_shingles"),
        F.col("n_overlap"),
        F.round(frac, 6).alias("overlap_frac"),
        (frac >= F.lit(threshold)).alias("contaminated"),
    )
