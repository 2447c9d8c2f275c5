"""Range repair and chunk-slicing operators (W4/W5/W8, L1, P11).

Re-expresses the line-range readjuster's window mechanics and the
chunk-slice semantics:

- :func:`sanitize_ranges`   P11 drop ``start < 1 or end < start`` with a
  violation record (``/root/reference/modules/infra/chunking.py:352-363``)
- :func:`trim_overlaps`     W4 predecessor-overlap removal via ``lag``
  (``modules/line_ranges/readjuster.py:1642-1747``): when the previous
  range's end reaches into the current one, the current start shifts
  past it (stable order by (start, original index)) — one window pass,
  exact for non-degenerate inputs
- :func:`remove_overlaps_exact`  W4 exact iterative variant of the same
  reference loop (trims the previous end AND shifts the current start,
  clamping inversions) — ``applyInPandas`` per doc; matches the
  reference bit-for-bit including fully-contained ranges
- :func:`enforce_max_gap_exact`  W5/W8 extend a range toward its
  successor when the gap exceeds a maximum, reducing it to exactly that
  maximum, never shrinking and never into a deleted span
  (``readjuster.py:1749-1804``)
- :func:`slice_chunks`      L1 first_n / last_n / index-range slicing
  under ABSOLUTE 1-based indices that survive slicing
  (``modules/infra/chunking.py:376-489``): indices are computed once
  over the full table; filters never renumber (W6)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def sanitize_ranges(
    df: DataFrame, start: str = "start", end: str = "end"
) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, rejected): a range is valid iff start ≥ 1 and
    end ≥ start."""
    ok = (F.col(start) >= 1) & (F.col(end) >= F.col(start))
    return df.where(ok), df.where(~ok | F.col(start).isNull() | F.col(end).isNull())


def trim_overlaps(
    df: DataFrame, key: str, start: str = "start", end: str = "end",
    order_col: str | None = None,
) -> DataFrame:
    """Shift each range's start past its predecessor's end (per key,
    stable order by (start, order_col)). One lag pass resolves chains
    because the shifted start never moves left: after the shift,
    ``start' = max(start, prev_end + 1)`` where prev_end is the raw
    predecessor end. Output is overlap-free with stable ordering —
    the reference loop's postcondition — but the boundary PRESERVED
    differs: this plan keeps predecessor content intact and shifts the
    current start, while the reference trims the PREDECESSOR's end to
    preserve the current range's start boundary
    (``readjuster.py:1642-1747`` — "preserves the semantic start
    boundaries identified by the LLM"). The two agree exactly only on
    already-disjoint inputs; fully-contained ranges additionally
    degenerate to empty here (start' > end; droppable via
    :func:`sanitize_ranges`) where the reference clamps them to
    single-line ranges. For bit-exact reference parity use
    :func:`remove_overlaps_exact`; keep this plan when predecessor
    content must win and a pure window pipeline (no Python) matters."""
    order = [F.col(start).asc()]
    if order_col:
        order.append(F.col(order_col).asc())
    w = W.partitionBy(key).orderBy(*order)
    # running max of predecessor ends handles a long range swallowing
    # several successors (its end outlives the immediate predecessor)
    prev_end = F.max(F.col(end)).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        df.withColumn(
            "_new_start",
            F.when(prev_end.isNull(), F.col(start))
            .otherwise(F.greatest(F.col(start), prev_end + 1)),
        )
        .withColumn(start, F.col("_new_start"))
        .drop("_new_start")
    )


def remove_overlaps_exact(
    df: DataFrame, key: str, start: str = "start", end: str = "end",
    order_col: str | None = None,
) -> DataFrame:
    """Exact re-expression of the reference's iterative overlap removal
    (``/root/reference/modules/line_ranges/readjuster.py:1642-1747``),
    which — unlike :func:`trim_overlaps` — trims the PREVIOUS range's
    end before shifting the current start, and clamps inversions to
    single-line ranges instead of letting them degenerate:

    per key, in (start, order_col) order::

        if cur.start > cur.end:        cur.end = cur.start        # clamp
        if prev.end >= cur.start:
            prev.end = min(prev.end, max(prev.start, cur.start-1)) # trim prev
        if prev.end >= cur.start:      cur.start = prev.end + 1    # shift cur
        if cur.start > cur.end:        cur.end = cur.start         # clamp

    Each entry's end is only ever modified by its immediate successor,
    so the sequential loop is the whole fixpoint. On non-degenerate
    inputs (no fully-contained ranges, no inversions) the output equals
    :func:`trim_overlaps`; on degenerate inputs the one-pass plan drops
    swallowed ranges to empty while this operator keeps them as
    clamped single-line ranges with the predecessor trimmed — the
    reference behavior a user replaying hand-edited line-range files
    depends on (divergence pinned in tests/test_fuzzy_ranges_tdigest).

    Plan: ``applyInPandas`` per key — the recurrence is carry-dependent
    in both directions (successor mutates predecessor), so it cannot be
    one window pass; groups are single documents' range lists (bounded
    small), the shuffle is one groupBy(key), and the loop is O(ranges)
    per doc."""
    order_cols = [start] + ([order_col] if order_col else [])
    s_name, e_name = start, end

    def fix(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        s = pdf[s_name].to_numpy().copy()
        e = pdf[e_name].to_numpy().copy()
        for i in range(len(s)):
            if s[i] > e[i]:
                e[i] = s[i]
            if i > 0:
                if e[i - 1] >= s[i]:
                    e[i - 1] = min(e[i - 1], max(s[i - 1], s[i] - 1))
                if e[i - 1] >= s[i]:
                    s[i] = e[i - 1] + 1
                if s[i] > e[i]:
                    e[i] = s[i]
        out = pdf.copy()
        out[s_name] = s
        out[e_name] = e
        return out

    return df.groupBy(key).applyInPandas(fix, schema=df.schema)


def enforce_max_gap_exact(
    df: DataFrame, key: str, start: str = "start", end: str = "end",
    max_gap: int = 1, order_col: str | None = None,
    deleted_spans: DataFrame | None = None,
) -> DataFrame:
    """Exact re-expression of the reference's gap enforcement
    (``/root/reference/modules/line_ranges/readjuster.py:1749-1804``):
    when the gap to the NEXT range exceeds ``max_gap``, extend THIS
    range's end to ``next_start - max_gap - 1`` — reducing the gap to
    exactly ``max_gap``, not zero. The extension never shrinks (W8
    monotone clamp) and never reaches into a ``deleted_spans`` row
    (columns ``key, span_start, span_end``): spans confirmed
    content-free cap the extension at ``span_start - 1``
    — otherwise deletion would be silently undone and the no-content
    lines re-extracted.

    One window pass: each range's end depends only on its successor's
    (immutable) start, so no iteration is needed. The span cap is a
    per-key non-equi join (spans are tiny by construction) + min;
    rows are tagged with a surrogate id before that join and the
    collapse groups on the TAG, not on every column — so exact-duplicate
    input rows survive and unorderable/ungroupable column types (maps)
    don't break the span-capped path."""
    order = [F.col(start).asc()]
    if order_col:
        order.append(F.col(order_col).asc())
    w = W.partitionBy(key).orderBy(*order)
    next_start = F.lead(F.col(start)).over(w)
    gap = next_start - F.col(end) - 1
    cand = F.when(
        next_start.isNotNull() & (gap > max_gap),
        next_start - max_gap - 1,
    )
    base = df.withColumn("__cand", cand)
    if deleted_spans is not None:
        sp = deleted_spans.select(
            F.col(key).alias("__k"),
            F.col("span_start").alias("__ss"),
            F.col("span_end").alias("__se"),
        )
        # surrogate row id so the post-join collapse groups on identity,
        # not on value equality across every column
        base = base.withColumn("__rid", F.monotonically_increasing_id())
        joined = base.join(
            sp,
            (F.col(key) == F.col("__k"))
            & (F.col("__se") > F.col(end))
            & (F.col("__ss") <= F.col("__cand")),
            "left",
        )
        base = joined.groupBy("__rid").agg(
            *[F.first(F.col(c)).alias(c) for c in df.columns],
            F.first("__cand").alias("__cand"),
            F.min(F.col("__ss") - 1).alias("__cap"),
        ).drop("__rid")
    else:
        base = base.withColumn("__cap", F.lit(None).cast("long"))
    new_end = F.greatest(
        F.col(end),
        F.least(F.col("__cand"), F.coalesce("__cap", "__cand")),
    )
    return base.withColumn(
        end, F.coalesce(new_end, F.col(end))
    ).drop("__cand", "__cap")


def resolve_anchor_lines(
    lines: DataFrame,
    anchors: DataFrame,
    doc_col: str = "doc",
    line_col: str = "line_no",
    text_col: str = "line",
    marker_col: str = "marker",
    min_substring_length: int = 3,
    context_window: int = 0,
) -> DataFrame:
    """W7 text-anchored nearest-line resolution
    (``/root/reference/modules/line_ranges/readjuster.py:1536-1590``).

    ``anchors``: one row per marker to resolve, with columns
    (``doc_col``, ``anchor_id``, ``marker_col``, ``search_start``,
    ``search_end``, ``nearest_to``). Returns every anchor row plus
    ``resolved_line`` (nullable long):

    - the marker is normalized (ws-collapse + lower) and matched as a
      substring of the normalized line;
    - the search is bounded to [search_start, search_end]; when nothing
      matches there, ONE expansion by ``context_window`` lines per side
      is tried — never the whole document (a distant unique match would
      move a boundary away from its range);
    - ambiguity resolves to the candidate nearest ``nearest_to``, ties
      to the earlier line;
    - markers shorter than ``min_substring_length`` after trim resolve
      to null (the mismatch-retry loop upstream asks for a longer one).

    Plan: equi-join on doc + bounded-range predicate, then a rank-1
    window per anchor ordered by (primary-window-first, |line −
    nearest_to|, line). Shuffles on doc only; candidates per anchor are
    bounded by the window width.
    """
    from chronominer_spark.functions.text import normalize_text

    a = anchors.select(
        F.col(doc_col).alias("__doc"),
        "anchor_id",
        F.trim(F.coalesce(F.col(marker_col), F.lit(""))).alias("__marker_raw"),
        F.col("search_start").cast("long").alias("__s"),
        F.col("search_end").cast("long").alias("__e"),
        F.col("nearest_to").cast("long").alias("__t"),
    ).withColumn("__marker", normalize_text(F.col("__marker_raw")))
    eligible = a.where(F.length("__marker_raw") >= min_substring_length)

    li = lines.select(
        F.col(doc_col).alias("__doc"),
        F.col(line_col).cast("long").alias("__line"),
        normalize_text(F.col(text_col)).alias("__norm_line"),
    )
    cand = (
        eligible.join(li, on="__doc")
        .where(
            (F.col("__line") >= F.col("__s") - context_window)
            & (F.col("__line") <= F.col("__e") + context_window)
            & F.col("__norm_line").contains(F.col("__marker"))
        )
        .withColumn(
            "__in_primary",
            (F.col("__line") >= F.col("__s")) & (F.col("__line") <= F.col("__e")),
        )
    )
    w = W.partitionBy("__doc", "anchor_id").orderBy(
        F.col("__in_primary").desc(),           # window first, expansion only as fallback
        F.abs(F.col("__line") - F.col("__t")).asc(),
        F.col("__line").asc(),
    )
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("__doc", "anchor_id", F.col("__line").alias("resolved_line"))
    )
    return (
        anchors.join(
            best,
            on=[anchors[doc_col] == best["__doc"],
                anchors["anchor_id"] == best["anchor_id"]],
            how="left",
        )
        .select(anchors["*"], best["resolved_line"])
    )


def slice_chunks(
    df: DataFrame, key: str, idx: str,
    first_n: int | None = None,
    last_n: int | None = None,
    index_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Mutually exclusive slicing on ABSOLUTE 1-based indices per key.

    ``idx`` must already be the absolute index (computed once over the
    full table); this filter never renumbers, so downstream keys built
    from the index stay stable across slices. Over-requesting (first_n
    larger than the group) degrades to all rows — mirroring the
    reference's fallback-with-warning."""
    modes = sum(x is not None for x in (first_n, last_n, index_range))
    if modes != 1:
        raise ValueError("exactly one of first_n / last_n / index_range required")
    if first_n is not None:
        return df.where(F.col(idx) <= first_n)
    if index_range is not None:
        lo, hi = index_range
        return df.where((F.col(idx) >= lo) & (F.col(idx) <= hi))
    w = W.partitionBy(key)
    return (
        df.withColumn("_max_idx", F.max(F.col(idx)).over(w))
        .where(F.col(idx) > F.col("_max_idx") - last_n)
        .drop("_max_idx")
    )


def out_of_order(
    df: DataFrame,
    value_col: str,
    partition_by: list[str],
    order_by: list[str],
    strict: bool = False,
    prev_col: str = "prev_value",
) -> DataFrame:
    """Rows whose ``value_col`` moves backwards along the
    ``order_by``-sorted sequence within each ``partition_by`` group —
    the monotonicity witness (e.g. a transcript turn whose timestamp
    precedes the previous turn's). ``strict=True`` also flags ties.
    Null current/previous values are never violations (there is nothing
    to compare). Returns the violating input rows plus ``prev_col``.

    ``order_by`` ties (e.g. duplicate (conv, turn) keys) are resolved
    by ascending ``value_col``, making the window a TOTAL order: a tie
    can never itself create a violation, and the result is identical
    under any input partitioning / shuffle width — without the
    tiebreaker, ``lag`` over tied keys is partition-order-dependent
    (caught by tests/test_parallelism_invariance.py).

    Scale posture: one window partitioned by the group key — the same
    exchange class as the engine's stable-turn-ordering path; per-group
    state is a single lag value, so skewed groups stream rather than
    accumulate."""
    w = W.partitionBy(*partition_by).orderBy(
        *[F.col(c).asc() for c in order_by], F.col(value_col).asc())
    out = df.withColumn(prev_col, F.lag(F.col(value_col)).over(w))
    p, v = F.col(prev_col), F.col(value_col)
    bad = (v <= p) if strict else (v < p)
    return out.where(p.isNotNull() & v.isNotNull() & bad)
