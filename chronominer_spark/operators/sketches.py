"""Mergeable frequency sketches: Misra–Gries heavy hitters.

The hot-key primitive a 100-TB validation/curation pipeline needs
before it commits to a shuffle: which conv_ids / domains / tokens are
heavy enough to warrant salting, quarantine, or a dedicated partition.
Exact top-k via groupBy is itself a full shuffle of every distinct key;
the Misra–Gries summary shuffles at most ``k`` rows per input split —
size-oblivious, like the t-digest family (constraints/tdigest.py).

Guarantee (Misra–Gries 1982; mergeability per Agarwal et al. 2012,
"Mergeable Summaries", PODS): with capacity ``k`` over a stream of
``n`` items, every item with true count > n/(k+1) appears in the
summary, and every estimate satisfies
``true − n/(k+1) ≤ est ≤ true``. The bound survives ANY merge tree of
compress-to-k steps — including the per-chunk fold used here (each
chunk's ``value_counts()`` is an EXACT zero-error summary, and every
compress subtracts a cut whose running total is ≤ n/(k+1)) and the
two-level partial/final merge (pointwise sum, then subtract the
(k+1)-th largest and drop non-positives).

One merge serves batch and stream: :func:`mg_merge` is both the final
merge of :func:`heavy_hitters` and the state fold of the streaming twin
(``streaming/dedup_stream.py:IncrementalHeavyHitters``), which merges
its stored summary with each micro-batch's ``heavy_hitters`` summary.

Plan shape (round-5 rewrite, was groupBy(_split).applyInPandas): the
per-split pass is ``mapInPandas`` — it fuses into the SCAN stage, so
NO exchange ever touches the stream and no split is materialized as a
single pandas frame; each task folds its Arrow batches chunk-by-chunk
through vectorized ``value_counts()`` at pandas rate (the old
per-item dict loop ran at Python rate over every row). Per-task memory
is O(k + chunk_rows). Only the ≤ k-row partial summaries cross the one
tiny single-group exchange for the final merge.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_compress(counts: dict, k: int) -> dict:
    """Shrink a counter to ≤ k entries, MG-style: subtract the
    (k+1)-th largest count from every entry and drop non-positives.
    Dict form — used by :func:`mg_merge`'s tiny final merge."""
    if len(counts) <= k:
        return counts
    cut = sorted(counts.values(), reverse=True)[k]
    return {it: c - cut for it, c in counts.items() if c > cut}


def _mg_fold(acc: pd.Series | None, chunk: pd.Series, k: int) -> pd.Series:
    """Fold one chunk's EXACT ``value_counts()`` into the running MG
    summary and compress back to ≤ k entries — all vectorized.

    Merging an exact summary is a zero-error MG merge, so the
    Agarwal-et-al. bound holds for the whole left-deep fold."""
    s = chunk if acc is None else acc.add(chunk, fill_value=0)
    if len(s) > k:
        cut = s.nlargest(k + 1).iloc[-1]
        s = s - cut
        s = s[s > 0]
    return s


def heavy_hitters(
    df: DataFrame, col: str, k: int = 8, chunk_rows: int = 65536,
    with_total: bool = False,
) -> DataFrame:
    """Misra–Gries heavy-hitter summary of ``col`` (cast to string;
    nulls skipped). Returns ≤ k rows ``(item, est_count)``.

    Two-stage plan: one MG fold per input partition (``mapInPandas``
    over Arrow batches — fused into the scan, no exchange of the
    stream, O(k + chunk_rows) task memory, pandas-rate counting), then
    :func:`mg_merge` of the ≤ k·partitions partial rows (pointwise sum
    + MG compress).

    ``with_total=True`` additionally emits one ``(NULL, n)`` row
    carrying the EXACT non-null item count, folded through the same
    single scan (each task counts its rows alongside its MG partial) —
    the streaming twin needs n_total for the MG error bound and
    previously paid a second full scan for it."""
    vals = (
        df.select(F.col(col).cast("string").alias("item"))
        .where(F.col("item").isNotNull())
    )

    def partial(batches):
        # Arrow batches arrive at maxRecordsPerBatch (default 10k);
        # buffer them up to chunk_rows before each value_counts so the
        # vectorized count amortizes, without unbounding task memory.
        acc: pd.Series | None = None
        buf: list[pd.Series] = []
        buffered = 0
        n_rows = 0
        for pdf in batches:
            s = pdf["item"]
            n_rows += len(s)
            for at in range(0, len(s), chunk_rows):
                buf.append(s.iloc[at:at + chunk_rows])
                buffered += len(buf[-1])
                if buffered >= chunk_rows:
                    acc = _mg_fold(
                        acc, pd.concat(buf).value_counts(), k)
                    buf, buffered = [], 0
        if buf:
            acc = _mg_fold(acc, pd.concat(buf).value_counts(), k)
        out_items = [] if acc is None else list(acc.index.astype(str))
        out_cnts = [] if acc is None else list(
            acc.to_numpy(dtype="int64", copy=True))
        if with_total and (n_rows or out_items):
            out_items.append(None)
            out_cnts.append(n_rows)
        if out_items:
            yield pd.DataFrame({"item": out_items,
                                "cnt": pd.array(out_cnts, dtype="int64")})

    return mg_merge(vals.mapInPandas(partial, "item string, cnt long"),
                    k, with_total).withColumnRenamed("cnt", "est_count")


def mg_merge(partials: DataFrame, k: int, with_total: bool) -> DataFrame:
    """Merge Misra–Gries summaries ``(item, cnt)`` into one ≤ k-row
    summary ``(item, cnt)``: pointwise sum per item, then one MG
    compress, in one task behind a single-group exchange of the tiny
    partial rows. ``with_total`` also sums the ``(NULL, n)`` total rows
    into one exact total row. This is the final merge of
    :func:`heavy_hitters` and the state fold of the streaming twin
    (``IncrementalHeavyHitters``: state ∪ batch summary)."""
    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        null_mask = pdf["item"].isna()
        counts = _mg_compress(
            pdf[~null_mask].groupby("item")["cnt"].sum().to_dict(), k)
        items = list(counts)
        cnts = list(counts.values())
        if with_total:
            items.append(None)
            cnts.append(int(pdf[null_mask]["cnt"].sum()))
        return pd.DataFrame(
            {"item": items, "cnt": pd.array(cnts, dtype="int64")})

    return (
        partials.withColumn("_one", F.lit(1))
        .groupBy("_one")
        .applyInPandas(final, "item string, cnt long")
    )
