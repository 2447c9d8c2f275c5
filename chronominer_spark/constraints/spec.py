"""Constraint specs — the declarative "schema" of the validation engine.

Derivation from the reference's JSON-Schema semantics (SURVEY.md §1.3):

- strict ``required`` field              -> :func:`not_null`
- union-null field w/ monitoring        -> :func:`not_null` w/ threshold
- ``enum`` vocabulary                   -> :func:`referential` (broadcast
  dim + left-anti violations, ``schemas/bibliographic_schema.json:111-135``)
- ``type`` correctness                  -> :func:`cast_ok`
- value-range rules                     -> :func:`in_range`
- key identity (custom_id unique)       -> :func:`unique` (dedup logic at
  ``modules/extract/batch_output.py:108-128``)
- anchor-null cross-field invariant     -> :func:`cross_field_null`
  (``schemas/bibliographic_schema.json:98``)
- empty-output guard                    -> :func:`not_empty`
  (``modules/extract/processing_strategy.py:639-659``)
- ground-truth comparison               -> :func:`text_equality`
  (``eval/jsonl_eval.py:366-395``, ``eval/metrics.py:200-306``)
- distribution monitoring               -> :func:`drift_psi` / :func:`drift_ks`

A suite is hashable (canonical-JSON sha256) so the checkpoint manifest can
refuse to resume across config drift, mirroring the fingerprint-chained
JSONL headers (``/root/reference/modules/infra/jsonl.py:119-277``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class Constraint:
    """One check. ``kind`` selects the evaluation plan; ``params`` are
    plain JSON-serializable values so the suite hash is stable."""

    constraint_id: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        return {
            "constraint_id": self.constraint_id,
            "kind": self.kind,
            "params": self.params,
        }


# ---- constructors ----------------------------------------------------------

def not_null(col: str, max_null_rate: float = 0.0) -> Constraint:
    return Constraint(f"not_null:{col}", "not_null",
                      {"col": col, "max_null_rate": max_null_rate})


def not_empty(col: str, max_rate: float = 0.0) -> Constraint:
    """Blank-after-trim values are violations (empty-output guard P8)."""
    return Constraint(f"not_empty:{col}", "not_empty",
                      {"col": col, "max_rate": max_rate})


def unique(*cols: str) -> Constraint:
    """Uniqueness of the composite key: one group-count whose map-side
    partial aggregate combines a hot key's rows before the single
    exchange (the skew posture; an explicit salt stage measured slower,
    BENCH/BASELINE.md)."""
    return Constraint(f"unique:{','.join(cols)}", "unique",
                      {"cols": list(cols)})


def referential(
    col: str,
    vocab: list[str] | None = None,
    vocab_name: str | None = None,
    allow_null: bool = True,
    max_rate: float = 0.0,
) -> Constraint:
    """Membership in a closed vocabulary. ``vocab`` inline (tiny enums) or
    ``vocab_name`` referencing a dim DataFrame supplied at evaluation time.
    Nullable enums admit null, mirroring
    ``tests/test_schema_invariants.py:71-90``.

    A ``vocab_name`` dim is one left-anti join with no hint: Spark's
    size-based join choice broadcasts a dim of known small size (a local
    or table-backed frame, as :func:`default_vocab_dfs` builds) and
    shuffles one too large to broadcast. Values compare as strings, so a
    fact column of any type checks against a string dim."""
    return Constraint(
        f"ri:{col}", "referential",
        {"col": col, "vocab": vocab, "vocab_name": vocab_name,
         "allow_null": allow_null, "max_rate": max_rate},
    )


def cast_ok(col: str, dtype: str, max_rate: float = 0.0) -> Constraint:
    return Constraint(f"cast:{col}:{dtype}", "cast_ok",
                      {"col": col, "dtype": dtype, "max_rate": max_rate})


def in_range(col: str, lo: float | None = None, hi: float | None = None,
             max_rate: float = 0.0) -> Constraint:
    return Constraint(f"range:{col}", "in_range",
                      {"col": col, "lo": lo, "hi": hi, "max_rate": max_rate})


def matches(col: str, pattern: str, max_rate: float = 0.0) -> Constraint:
    return Constraint(f"regex:{col}", "matches",
                      {"col": col, "pattern": pattern, "max_rate": max_rate})


def expr_check(name: str, expr: str, max_rate: float = 0.0) -> Constraint:
    """Generic row predicate: ``expr`` is any boolean SQL expression
    over the row's columns; a row violates when the expression is
    FALSE **or NULL** (three-valued logic would otherwise let a null
    comparison silently pass — a check must be affirmatively true).
    ``name`` keys the constraint id (``check:<name>``) so the same
    expression can appear under different thresholds. The escape hatch
    for row rules the typed constructors don't cover (e.g.
    ``expr_check("len_ok", "length(text) <= 10000")``); fuses into the
    single row-check scan like every row-level family."""
    return Constraint(
        f"check:{name}", "expr_check",
        {"name": name, "expr": expr, "max_rate": max_rate},
    )


def cross_field_null(anchor: str, dependents: list[str], max_rate: float = 0.0) -> Constraint:
    """When ``anchor`` is null, every dependent must be null too (the
    anchor-null rule, ``schemas/bibliographic_schema.json:98``)."""
    return Constraint(
        f"xnull:{anchor}", "cross_field_null",
        {"anchor": anchor, "dependents": dependents, "max_rate": max_rate},
    )


def monotone(
    col: str,
    partition_by: list[str],
    order_by: list[str],
    strict: bool = False,
    max_rate: float = 0.0,
) -> Constraint:
    """``col`` must be non-decreasing (``strict=True``: increasing)
    along the ``order_by``-sorted sequence within each ``partition_by``
    group — e.g. ``monotone("ts", ["conv_id"], ["turn_idx"])`` asserts
    transcript timestamps never move backwards along the turn order the
    equality family already relies on. Violations are the offending
    rows with their predecessor's value in the detail."""
    return Constraint(
        f"mono:{col}", "monotone",
        {"col": col, "partition_by": list(partition_by),
         "order_by": list(order_by), "strict": strict,
         "max_rate": max_rate},
    )


def group_stats(group_col: str, max_group_rows: int | None = None) -> Constraint:
    """Per-group (e.g. per-conversation) size profile from the same
    group-count plan as :func:`unique` — a single hot group combines
    map-side before the one exchange. ``max_group_rows`` turns it into
    a hot-group guard with violation rows."""
    return Constraint(
        f"gstats:{group_col}", "group_stats",
        {"group_col": group_col, "max_group_rows": max_group_rows},
    )


def contiguous(idx_col: str, over: str, start: int | None = 1,
               max_rate: float = 0.0) -> Constraint:
    """Per-group index contiguity: within each ``over`` group the
    DISTINCT ``idx_col`` values must be exactly
    ``start .. start + n - 1`` — the transcript invariant "a
    conversation's turns are 1..n with no gaps" (the reference loads a
    chunk set and refuses to merge when a chunk index is missing;
    ChronoMiner `modules/extract/batch_output.py:280-284` chunk-index
    order discipline). n
    distinct values with ``min == start`` and ``max == start + n - 1``
    characterize the full range exactly, so one distinct pass plus an
    algebraic (count, min, max) aggregate decides every group — no
    sort, no window, no per-group materialized set. Duplicate indices
    are the ``unique`` family's contract, not this one's (contiguity is
    evaluated over distinct values so the two checks compose without
    double-reporting).

    ``start=None`` anchors at each group's observed minimum instead of
    a fixed origin — the COMPLETENESS form: "every period between the
    group's first and last must be present" (e.g. ``contiguous(
    "day_idx", over="source", start=None)`` finds sources with missing
    ingest days). Offset starts are undetectable in this form by
    definition; gaps still are."""
    return Constraint(
        f"contig:{idx_col}/{over}", "contiguous",
        {"idx_col": idx_col, "over": over,
         "start": int(start) if start is not None else None,
         "max_rate": max_rate},
    )


def group_agg_check(
    name: str,
    group_col: str,
    agg_expr: str,
    lo: float | None = None,
    hi: float | None = None,
    max_rate: float = 0.0,
) -> Constraint:
    """Per-group aggregate bound: ``agg_expr`` — any SQL AGGREGATE
    expression over the group's rows (``sum(est_tokens)``,
    ``avg(length(text))``, ``count(distinct role)``) — must lie in
    ``[lo, hi]`` (either side optional) for every ``group_col`` group.
    The group-level budget invariant the row families can't express:
    every TURN can pass ``in_range`` while the CONVERSATION blows its
    token budget. The reference enforces its analogous per-chunk token
    ceiling when slicing documents
    (``modules/line_ranges/generator.py:17-43`` tokens-per-chunk
    budget); at cluster scale the same contract is one hash-aggregate
    per group.

    A null aggregate (e.g. ``avg`` of all-null values) cannot certify
    the bound and counts as a violation — the same null discipline as
    :func:`expr_check` and :func:`contiguous`. ``name`` keys the
    constraint id so the same expression can appear under different
    bounds. Plan: ONE groupBy(partition, group) hash-aggregate —
    Spark's partial aggregation combines map-side for the built-in
    algebraic aggregates — plus a per-partition algebraic rollup;
    violations are the offending groups with the observed aggregate in
    the detail."""
    return Constraint(
        f"agg:{name}/{group_col}", "group_agg_check",
        {"name": name, "group_col": group_col, "agg_expr": agg_expr,
         "lo": lo, "hi": hi, "max_rate": max_rate},
    )


def functional_dependency(
    determinant: list[str], dependent: str, max_rate: float = 0.0,
) -> Constraint:
    """``determinant -> dependent``: every distinct determinant key
    must map to exactly ONE dependent value — the denormalization
    invariant behind "a conversation has one model / one language / one
    source file" that neither uniqueness (keys may repeat) nor RI (the
    value may be in-vocabulary yet inconsistent) can see. The reference
    enforces the same single-source discipline when it refuses to merge
    temp files whose records would collide a custom_id across groups
    (ChronoMiner ``modules/batch/ops.py:85`` collision guard).

    A null dependent counts as a value: a key mapping to {x, null} IS
    inconsistent. Plan: one distinct pass over (partition, determinant,
    dependent) — the exchange hashes the FULL tuple, so a hot key's
    rows spread across reducers (the dependent plays the salt's role,
    same skew posture as :func:`contiguous`) — then an algebraic
    per-key (count, min, max) aggregate; a key is bad iff it kept more
    than one distinct dependent. min/max double as the violation
    exemplars, so no second pass fetches values."""
    return Constraint(
        f"fd:{','.join(determinant)}->{dependent}", "functional_dependency",
        {"determinant": list(determinant), "dependent": dependent,
         "max_rate": max_rate},
    )


def conversation_shape(
    role_col: str = "role",
    over: str = "conv_id",
    order_by: list[str] | None = None,
    first_roles: list[str] | None = None,
    last_roles: list[str] | None = None,
    allowed_transitions: list[tuple[str, str]] | None = None,
    max_rate: float = 0.0,
) -> Constraint:
    """Structural validity of each conversation's role SEQUENCE — the
    transcript invariant none of the value-level families can see: a
    well-formed dialogue opens with a ``first_roles`` turn (e.g.
    ``system``), closes with a ``last_roles`` turn, and every adjacent
    turn pair follows an ``allowed_transitions`` edge (e.g. ``user``
    never speaks twice in a row). The reference enforces the analogous
    discipline on its chunk streams — responses must interleave with
    requests in order before a merge is accepted (ChronoMiner
    ``modules/extract/batch_output.py:280-284`` record-order
    discipline; ``modules/batch/ops.py`` custom_id request/response
    pairing).

    Each check is optional (``None`` = don't check). Violations are the
    offending TURNS (first / last / transition target) with the broken
    rule in the detail, so lineage points at the exact row to fix.

    Plan: one window partitioned by ``(partition, over)`` and ordered
    by ``order_by`` with ``role_col`` as the total-order tiebreaker
    (the same determinism discipline as :func:`monotone` — tied order
    keys can never make the verdict partitioning-dependent); ``lag``
    gives the predecessor role, ``lead`` flags the final turn — both
    share the single sort, and per-group window state is one row, so a
    hot conversation streams rather than accumulates.

    Scope note: sequences are judged within ``(partition, over)`` — a
    conversation straddling physical partitions is judged per partition
    (each fragment gets its own first/last verdicts). Partition tables
    by a conversation-stable column (the default suite's ``pbucket``
    is) so a conversation is always whole within its partition."""
    return Constraint(
        f"shape:{role_col}/{over}", "conversation_shape",
        {"role_col": role_col, "over": over,
         "order_by": list(order_by) if order_by is not None
         else ["turn_idx", "ts"],
         "first_roles": list(first_roles) if first_roles is not None
         else None,
         "last_roles": list(last_roles) if last_roles is not None
         else None,
         # stored as "prev>cur" strings: JSON-stable for the suite hash
         # and directly usable as an isin literal list in the plan
         "allowed_transitions": (
             [f"{a}>{b}" for a, b in allowed_transitions]
             if allowed_transitions is not None else None),
         "max_rate": max_rate},
    )


def column_stats(col: str) -> Constraint:
    """Observe-only per-partition profile: null-rate, min, max, mean,
    approx-distinct (HLL). Always passes; feeds monitoring."""
    return Constraint(f"stats:{col}", "column_stats", {"col": col})


def quantiles(col: str, qs: list[float] | None = None, accuracy: int = 2500) -> Constraint:
    return Constraint(
        f"quantiles:{col}", "quantiles",
        {"col": col, "qs": qs or [0.5, 0.9, 0.99], "accuracy": accuracy},
    )


def text_equality(
    col: str = "text",
    lowercase: bool = True,
    collapse_ws: bool = True,
    strip_punct: bool = False,
    strip_diacritics: bool = False,
    max_mismatch_rate: float = 0.0,
    digest: bool | str = False,
) -> Constraint:
    """Per-turn text equality vs the reference snapshot under stable turn
    ordering (W1) — normalization knobs mirror the matching config at
    ``/root/reference/modules/line_ranges/readjuster.py:260-273``.

    ``digest=True`` compares per-conversation 3-channel digests first
    and drills down to the per-turn join only for conversations that
    differ — identical outputs, ~#convs instead of ~#turns rows in the
    equality join. Worth switching on when snapshots are mostly
    identical (re-validation of a production table); measured SLOWER
    than the direct join when diffs are dense (the synthetic suite
    plants diffs in ~15% of conversations, making the digest prepass
    pure overhead — see BENCH/BASELINE.md). ``digest=False`` (default)
    is the direct per-turn join.

    ``digest="auto"`` samples ~1/20 of conversations, digests them on
    both sides, and turns the prepass on iff the observed conv-level
    mismatch rate ≤ 5% (``engine._AUTO_SAMPLE_MOD`` /
    ``engine._AUTO_THRESHOLD``). Decision
    rule when choosing by hand: expected fraction of conversations with
    any diff under ~5% → digest; above → direct (the measured crossover
    sits between 5% and the bench's planted 15%)."""
    if digest not in (True, False, "auto"):
        raise ValueError(
            f"digest must be True, False or 'auto', got {digest!r}")
    return Constraint(
        f"eq:{col}", "text_equality",
        {"col": col, "lowercase": lowercase, "collapse_ws": collapse_ws,
         "strip_punct": strip_punct, "strip_diacritics": strip_diacritics,
         "max_mismatch_rate": max_mismatch_rate, "digest": digest},
    )


def schema_match(expected: dict[str, str], allow_extra: bool = False) -> Constraint:
    """The table's schema must carry every expected column at the
    expected Spark type (``simpleString`` form, e.g. ``"bigint"``,
    ``"array<float>"``); ``allow_extra=False`` also counts unexpected
    columns as mismatches. A metadata check — evaluated from the
    DataFrame schema with NO data scan — emitted as one table-level
    result row (partition_id ``__table__``), observed = mismatch count.
    Use :func:`chronominer_spark.constraints.engine.schema_diff` for
    the human-readable diff."""
    return Constraint(
        "schema:table", "schema_match",
        {"expected": dict(expected), "allow_extra": allow_extra},
    )


def row_count_drift(max_rel_change: float = 0.0) -> Constraint:
    """Per-partition row-count reconciliation between snapshots:
    |cur/ref − 1| must stay ≤ ``max_rel_change``. Catches silent volume
    loss or duplication that per-row checks cannot (every row can be
    individually valid while half of them are missing). A partition
    present on only one side is uncertifiable and fails with null
    observed."""
    return Constraint(
        "rowcount:table", "row_count_drift",
        {"max_rel_change": max_rel_change},
    )


def drift_quantile(
    expr: str,
    qs: list[float] | None = None,
    max_abs_diff: float = 0.0,
    accuracy: int = 2500,
) -> Constraint:
    """Quantile drift between snapshots: per partition, the largest
    absolute difference between current and reference quantiles of
    ``expr`` at each of ``qs`` must stay ≤ ``max_abs_diff``. Catches
    tail shifts that binned PSI/KS smears away (a p99 regression inside
    one histogram bin is invisible to both), at the cost of an absolute
    rather than distributional threshold. Sketch-based
    (``percentile_approx``): only sketches shuffle, never values —
    viable at 10^12 rows like the quantiles family."""
    return Constraint(
        f"qdrift:{expr}", "drift_quantile",
        {"expr": expr, "qs": list(qs) if qs is not None else [0.5, 0.9, 0.99],
         "max_abs_diff": max_abs_diff, "accuracy": accuracy},
    )


def freshness(ts_col: str, max_age_seconds: float,
              as_of: str) -> Constraint:
    """Timeliness: each partition's newest ``ts_col`` must be within
    ``max_age_seconds`` of ``as_of`` (an ISO timestamp string — passed
    explicitly, never ``now()``, so the check is deterministic,
    resumable, and replayable; the runner caller stamps it once per
    run). A stale partition is a pipeline-lag signal the row-level
    families can't see: every row can be individually valid while the
    feed silently stopped. One max() aggregate per partition; observed
    is the partition's age in seconds; partitions with only-null
    timestamps are uncertifiable (null observed, failed)."""
    return Constraint(
        f"fresh:{ts_col}", "freshness",
        {"ts_col": ts_col, "max_age_seconds": float(max_age_seconds),
         "as_of": str(as_of)},
    )


def drift_categorical(col: str, max_psi: float = 0.25, smooth: float = 0.5,
                      max_categories: int = 10000) -> Constraint:
    """PSI between the two snapshots' CATEGORY-frequency distributions
    of ``col``, per partition — the vocab-column twin of ``drift_psi``:
    role/tool mix shifting between snapshots is invisible to a binned
    numeric histogram but is exactly what a category-frequency PSI
    sees. Frequencies are Laplace-smoothed (``(c + smooth) /
    (N + smooth·K)`` with K = union category count per partition) so a
    category present on only one side contributes a finite, bounded
    term instead of ±inf. Only distinct (partition, category) count
    rows shuffle. A partition whose union cardinality exceeds
    ``max_categories`` is uncertifiable (null observed, failed) —
    category-frequency PSI is for vocab-like columns; use binned
    ``drift_psi`` for high-cardinality ones."""
    return Constraint(
        f"catdrift:{col}", "drift_categorical",
        {"col": col, "max_psi": max_psi, "smooth": smooth,
         "max_categories": int(max_categories)},
    )


def drift_psi(expr: str, bins: int = 20, lo: float = 0.0, hi: float = 1000.0,
              threshold: float = 0.2, constraint_id: str | None = None) -> Constraint:
    return Constraint(
        constraint_id or f"psi:{expr}", "drift_psi",
        {"expr": expr, "bins": bins, "lo": lo, "hi": hi, "threshold": threshold},
    )


def drift_ks(expr: str, bins: int = 50, lo: float = 0.0, hi: float = 1000.0,
             threshold: float = 0.1, constraint_id: str | None = None) -> Constraint:
    return Constraint(
        constraint_id or f"ks:{expr}", "drift_ks",
        {"expr": expr, "bins": bins, "lo": lo, "hi": hi, "threshold": threshold},
    )


# ---- suite -----------------------------------------------------------------

@dataclass(frozen=True)
class ConstraintSuite:
    """Named, versioned set of constraints over one table.

    ``partition_col`` is the physical partition column; ``partition_fmt``
    renders it to the lineage ``partition_id`` string. ``key_cols`` name
    the row identity used in violation rows.
    """

    name: str
    constraints: tuple
    version: str = "1"
    partition_col: str = "pbucket"
    partition_fmt: str = "conv_bucket=%d"
    key_cols: tuple = ("conv_id", "turn_idx")

    def to_dict(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "version": self.version,
            "partition_col": self.partition_col,
            "partition_fmt": self.partition_fmt,
            "key_cols": list(self.key_cols),
            "constraints": [c.to_dict() for c in self.constraints],
        }

    def suite_hash(self) -> str:
        """Canonical sha256 of the resolved suite config. Drift in this
        hash invalidates checkpoints (mirrors header validation at
        ``/root/reference/modules/infra/jsonl.py:232-277``)."""
        blob = json.dumps(self.to_dict(), sort_keys=True, separators=(",", ":"))
        return hashlib.sha256(blob.encode("utf-8")).hexdigest()

def default_transcript_suite(
    role_vocab: list[str], tool_vocab: list[str]
) -> ConstraintSuite:
    """The flagship suite over the transcripts table (BASELINE.json
    north_star): stats, uniqueness, RI, cross-field, equality, drift.

    The role vocabulary is inline (tiny, fused into the single-scan
    row-check pass); the tool vocabulary is a **dim DataFrame** RI
    (J6's broadcast + left-anti plan) — supply it via
    :func:`default_vocab_dfs` to the evaluator/runner. At scale a tool
    registry is a managed table, not a literal list, so the default
    suite exercises that plan end-to-end."""
    return ConstraintSuite(
        name="transcripts_default",
        constraints=(
            not_null("conv_id"),
            not_null("turn_idx"),
            not_null("role", max_null_rate=0.0),
            not_empty("text"),
            unique("conv_id", "turn_idx"),
            referential("role", vocab=role_vocab, allow_null=False),
            referential("tool", vocab_name="tool_vocab", allow_null=True),
            in_range("turn_idx", lo=1),
            matches("conv_id", r"^conv-\d{8}$"),
            cross_field_null("text", ["tool"]),  # null text ⇒ no tool call
            column_stats("turn_idx"),
            column_stats("length(text)"),
            quantiles("length(text)"),
            group_stats("conv_id"),
            text_equality("text"),
            drift_psi("length(text)", bins=20, lo=0.0, hi=1000.0),
            drift_ks("length(text)", bins=50, lo=0.0, hi=1000.0),
        ),
    )


def default_vocab_dfs(spark, tool_vocab: list[str]) -> dict:
    """Dim DataFrames for :func:`default_transcript_suite` — the tool
    registry as a one-column local relation (built from pandas: a
    list-built frame is an RDD of unknown size, never broadcast)."""
    import pandas as pd

    return {
        "tool_vocab": spark.createDataFrame(pd.DataFrame({"tool": tool_vocab}),
                                            "tool string"),
    }
