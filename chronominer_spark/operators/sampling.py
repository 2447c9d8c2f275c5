"""Deterministic sampling and data-mixing operators for training-data
pipelines.

A 100 TB curation run cannot use RNG-state sampling (``df.sample`` draws
depend on partitioning and rerun non-reproducibly); these operators make
every selection a PURE DETERMINISTIC PREDICATE of row content:

- :func:`portable_bucket`        md5-derived hash bucket in [0, buckets)
- :func:`hash_sample`            keep iff bucket < rate·buckets
- :func:`stratified_hash_sample` per-stratum rates (data-mixing weights)
- :func:`token_budget_mix`       per-source token budgets: priority-ordered
  prefix whose cumulative token count fits the budget
- :func:`token_budget_mix_bucketed` exact two-phase variant whose window
  never sees more than one coarse-priority bucket per task (the 100 TB
  path when one source dominates the corpus)

Deterministic-hash selection is also how the reference decides
membership-vs-skip-set (``/root/reference/modules/core/run_context.py``
resume keys are content-derived, not positional); here the same idea
gives reproducible corpus subsets: re-running with the same rates always
selects the same rows, adding new rows never flips old decisions, and
the filter pushes down to the scan (no shuffle, no RNG state, no seed
coordination across executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: bucket resolution: rates are honored to 1/BUCKETS
DEFAULT_BUCKETS = 1_000_000


def portable_bucket(col: Column | str, buckets: int = DEFAULT_BUCKETS) -> Column:
    """Deterministic engine-portable hash bucket in ``[0, buckets)``:
    first 60 bits of ``md5(string(col))`` mod ``buckets``. Reproducible
    in any engine with md5 — DuckDB:
    ``('0x' || substr(md5(x::VARCHAR), 1, 15))::UBIGINT % buckets`` —
    the same scheme the MinHash family uses for engine-portable
    signatures (:data:`~chronominer_spark.operators.dedup.MINHASH_PRIME`
    hashing)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
    return F.pmod(h.cast("long"), F.lit(buckets))


def hash_sample(
    df: DataFrame, key_col: str, rate: float,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Keep rows whose :func:`portable_bucket` of ``key_col`` falls
    below ``rate·buckets``. A pure filter: pushdown-eligible, no
    shuffle, stable under repartitioning and reruns, and CONSISTENT —
    a row kept at rate r is also kept at every rate ≥ r (nested
    samples for curriculum scaling come free)."""
    if not (0.0 <= rate <= 1.0):
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.where(portable_bucket(key_col, buckets) < int(rate * buckets))


def stratified_hash_sample(
    df: DataFrame, key_col: str, stratum_col: str,
    rates: dict[str, float], default_rate: float = 0.0,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive:
    ``rates`` maps stratum value → keep rate (e.g. source → mixing
    weight). The rate table enters the plan as a literal map expression
    (it is config, not data — no join, no broadcast exchange), so the
    whole selection stays a single scan-side filter."""
    for s, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for stratum {s!r} must be in [0, 1], got {r}")
    if not (0.0 <= default_rate <= 1.0):
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(rates.items()) for x in kv])
    thr = F.coalesce(
        mapping[F.col(stratum_col)], F.lit(float(default_rate)))
    return df.where(
        portable_bucket(key_col, buckets)
        < (thr * F.lit(buckets)).cast("long"))


def _budget_expr(
    source_col: str, budgets: dict[str, int], default_budget: int,
) -> Column:
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(budgets.items()) for x in kv])
    return F.coalesce(
        mapping[F.col(source_col)].cast("long"),
        F.lit(int(default_budget)).cast("long"))


def token_budget_mix(
    df: DataFrame, source_col: str, token_col: str,
    budgets: dict[str, int], default_budget: int = 0,
    order_cols: list[Column] | None = None,
    with_cum: bool = False,
) -> DataFrame:
    """Per-source token-budget selection: order each source's docs by
    ``order_cols`` (MUST end in a unique tiebreak for determinism) and
    keep the prefix whose INCLUSIVE cumulative ``token_col`` stays
    within the source's budget. ``budgets`` maps source → token budget
    (config, entering the plan as a literal map). ``with_cum=True``
    appends the diagnostic ``cum_tokens`` column.

    Scale note: the running sum windows on ``partitionBy(source)``, so
    one task sees one source's full row set. Fine when sources are
    balanced; when one source IS most of the corpus, use
    :func:`token_budget_mix_bucketed`, which is exact and never windows
    over more than one coarse bucket."""
    if order_cols is None:
        order_cols = [F.col(token_col).desc()]
    w = (
        W.partitionBy(source_col).orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum(F.col(token_col).cast("long")).over(w)
    out = df.withColumn("cum_tokens", cum).where(
        F.col("cum_tokens") <= _budget_expr(source_col, budgets,
                                            default_budget))
    return out if with_cum else out.drop("cum_tokens")


def token_budget_mix_bucketed(
    df: DataFrame, source_col: str, token_col: str,
    budgets: dict[str, int], bucket_col: str,
    order_cols: list[Column], default_budget: int = 0,
) -> DataFrame:
    """EXACT two-phase :func:`token_budget_mix` that survives a
    single-source-dominated 100 TB corpus. Requires ``bucket_col`` to
    be a coarse PREFIX of ``order_cols``' total order (every row of a
    lower bucket precedes every row of a higher bucket — e.g. bucket =
    a quantized copy of the leading order key).

    Phase 1 aggregates token sums per (source, bucket) — a tiny frame
    (sources × buckets) — and computes each bucket's inclusive
    cumulative ``__cum`` with a window over that tiny frame. Buckets
    whose ``__cum`` fits the budget are kept WHOLE via a broadcast
    semi-join (no window ever touches their rows: for any row in such
    a bucket, its inclusive running sum ≤ the bucket's ``__cum`` ≤
    budget). Phase 2 windows ONLY inside the remaining buckets,
    partitioned by (source, bucket) with the bucket's preceding total
    as offset — each window partition is one bucket, so per-task state
    is bounded by bucket granularity regardless of source skew.

    Returns the selected rows (original columns; no ``cum_tokens`` —
    computing it for whole-kept buckets would reintroduce the
    per-source window this variant exists to avoid). Equality with the
    windowed variant's selection is pytest-asserted."""
    budget = _budget_expr(source_col, budgets, default_budget)
    tok = F.col(token_col).cast("long")

    agg = df.groupBy(source_col, bucket_col).agg(F.sum(tok).alias("__btok"))
    wb = (
        W.partitionBy(source_col).orderBy(F.col(bucket_col).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    agg = (
        agg.withColumn("__cum", F.sum("__btok").over(wb))
        .withColumn("__prev", F.col("__cum") - F.col("__btok"))
        .withColumn("__keep_whole", F.col("__cum") <= budget)
    )

    keep_keys = F.broadcast(
        agg.where("__keep_whole").select(source_col, bucket_col))
    kept_whole = df.join(keep_keys, on=[source_col, bucket_col],
                         how="left_semi")

    edge_info = F.broadcast(
        agg.where(~F.col("__keep_whole"))
        .select(source_col, bucket_col, "__prev"))
    we = (
        W.partitionBy(source_col, bucket_col).orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    kept_edge = (
        df.join(edge_info, on=[source_col, bucket_col], how="inner")
        .withColumn("__wcum", F.sum(tok).over(we))
        .where(F.col("__prev") + F.col("__wcum") <= budget)
        .select(*df.columns)
    )
    return kept_whole.select(*df.columns).unionByName(kept_edge)
