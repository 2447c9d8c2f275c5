"""Mergeable t-digest quantile sketches as pandas/Arrow UDAFs.

The reference's A3 partial+final combiner (``eval/metrics.py:622-674``)
for quantile state. This module is the only one that knows the digest
format — one :data:`STATE_DDL` row of centroid arrays per part — and
both the batch :func:`tdigest_quantiles` and the streaming twin
(``streaming/dedup_stream.py:IncrementalQuantileDigest``) compose its
three steps:

1. :func:`partial`: one digest per (part, input partition), built in
   numpy inside ``mapInPandas``. It fuses into the scan, so no raw
   value crosses an exchange — only centroid arrays leave the tasks;
2. :func:`fold`: digests merge per key group (the one exchange);
3. :func:`quantiles`: row-wise interpolation of each digest.

The digest is a standard scaled-compression t-digest: centroids sorted
by (mean, weight) and greedily merged under the k-scale size limit
q(1-q)·δ. Its output depends on the centroid multiset only, never on
the order a shuffle delivers partials in, so for a given input
partitioning the result is deterministic (unlike ``percentile_approx``,
whose GK-sketch merge is partition-order sensitive).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DELTA = 200
STATE_DDL = "part string, means array<double>, weights array<double>"


def _compress(means: np.ndarray, weights: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Merge centroids under the t-digest k-scale bound."""
    if len(means) == 0:
        return means, weights
    order = np.lexsort((weights, means))
    means, weights = means[order], weights[order]
    total = weights.sum()
    out_m: list[float] = []
    out_w: list[float] = []
    cum = 0.0
    cur_m, cur_w = means[0], weights[0]
    for m, w in zip(means[1:], weights[1:]):
        q = (cum + cur_w / 2.0) / total
        limit = 4.0 * total * q * (1.0 - q) / DELTA
        if cur_w + w <= max(limit, 1.0):
            cur_m = (cur_m * cur_w + m * w) / (cur_w + w)
            cur_w += w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            cum += cur_w
            cur_m, cur_w = m, w
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def _quantile(means: np.ndarray, weights: np.ndarray, q: float) -> float:
    """Interpolated quantile from centroid (mean, weight) arrays."""
    if len(means) == 0:
        return float("nan")
    if len(means) == 1:
        return float(means[0])
    total = weights.sum()
    target = q * total
    cum = np.cumsum(weights) - weights / 2.0
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    idx = np.searchsorted(cum, target)
    lo, hi = idx - 1, idx
    frac = (target - cum[lo]) / (cum[hi] - cum[lo])
    return float(means[lo] + frac * (means[hi] - means[lo]))


def partial(df: DataFrame, partition_col: str, value_expr: str) -> DataFrame:
    """One digest per ``partition_col`` value per input partition, in
    :data:`STATE_DDL` rows. Null values are skipped; a null part is a
    group of its own."""
    vals = df.select(
        F.col(partition_col).cast("string").alias("part"),
        F.expr(value_expr).cast("double").alias("v"),
    ).where(F.col("v").isNotNull())

    def build(batches):
        # one multiset per part for the whole input partition, so the
        # digest does not depend on how Arrow cut it into batches
        frames = list(batches)
        if not frames:
            return
        rows = []
        for part, g in pd.concat(frames).groupby("part", dropna=False):
            v = g["v"].to_numpy(dtype=float)
            rows.append((None if pd.isna(part) else part,
                         *_compress(v, np.ones_like(v))))
        yield pd.DataFrame(rows, columns=["part", "means", "weights"])

    return vals.mapInPandas(build, STATE_DDL)


def fold(state: DataFrame, keys: tuple[str, ...] = ("part",)) -> DataFrame:
    """Merge the digests of each ``keys`` group into one. ``keys`` must
    include ``part``; extra key columns (the stream's bucket) are
    carried through with their input type."""
    schema = StructType([state.schema[c] for c in (*keys, "means", "weights")])

    def merge(key, pdf):
        m, w = _compress(np.concatenate(pdf["means"].to_list()),
                         np.concatenate(pdf["weights"].to_list()))
        return pd.DataFrame([(*key, m, w)], columns=schema.fieldNames())

    return state.groupBy(*keys).applyInPandas(merge, schema)


def quantiles(state: DataFrame, qs: list[float]) -> DataFrame:
    """``(part, q, value)`` for each digest row and requested quantile."""
    qs = list(qs)

    def interp(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [(part, q, _quantile(m, w, q))
                 for part, m, w in zip(pdf["part"], pdf["means"],
                                       pdf["weights"])
                 for q in qs],
                columns=["part", "q", "value"])

    return state.select("part", "means", "weights").mapInPandas(
        interp, "part string, q double, value double")


def tdigest_quantiles(
    df: DataFrame, partition_col: str, value_expr: str, qs: list[float],
) -> DataFrame:
    """Per-partition quantiles via two-stage t-digest.

    Returns (partition, q, value) with one row per requested quantile.
    Shuffle volume: centroid arrays per (partition, input-split) —
    independent of row count, the property that makes this viable at
    10^12 rows where exact percentiles cannot buffer values.
    """
    return quantiles(fold(partial(df, partition_col, value_expr)), qs)
