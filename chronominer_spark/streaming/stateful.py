"""Custom stateful streaming operators (applyInPandasWithState).

The streaming twin of the ``conversation_shape`` constraint family
(:func:`conversation_shape_stream`): role-sequence validation with one
(last_role, n_seen) pair of explicit streaming state per conversation —
O(conversations) state, not O(turns) — and each batch validated
vectorized in pandas.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SHAPE_OUTPUT_SCHEMA = "conv_id string, turn_idx long, role string, detail string"
SHAPE_STATE_SCHEMA = "last_role string, n_seen long"


def _shape_update_factory(
    first_roles: list[str] | None,
    allowed_edges: list[str] | None,
    order_cols: list[str],
):
    """Build the per-conversation state-update fn for
    :func:`conversation_shape_stream`. State carries ONE (last_role,
    n_seen) pair per conversation — O(conversations) state, not
    O(turns) — and every batch is validated vectorized in pandas
    (shift(1) for adjacency, the carry spliced in for the batch's first
    turn). Detail strings byte-match the batch family
    (engine.py:_conversation_shape) so incremental == batch is
    assertable row-for-row."""
    first_set = list(first_roles) if first_roles is not None else None
    first_lbl = "|".join(first_roles) if first_roles is not None else ""
    allowed = set(allowed_edges) if allowed_edges is not None else None

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        if state.exists:
            last_role, n_seen = state.get
        else:
            last_role, n_seen = None, 0
        batch = _pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            return
        batch = batch.sort_values(
            order_cols + ["role"], kind="mergesort").reset_index(drop=True)
        roles = batch["role"]
        prev = roles.shift(1)
        opener = _pd.Series(False, index=batch.index)
        if n_seen > 0:
            prev.iloc[0] = last_role
        else:
            opener.iloc[0] = True

        # everything below is vectorized column arithmetic (no per-row
        # Python), mirroring the batch family's expressions exactly:
        # format_string renders a null arg as 'null'; concat_ws drops a
        # null side entirely
        pn, rn = prev.notna(), roles.notna()
        r_str = roles.where(rn, "null").astype(str)
        edge = _pd.Series("", index=batch.index, dtype=object)
        edge[pn & rn] = prev[pn & rn].astype(str) + ">" \
            + roles[pn & rn].astype(str)
        edge[pn & ~rn] = prev[pn & ~rn].astype(str)
        edge[~pn & rn] = roles[~pn & rn].astype(str)

        detail = _pd.Series(None, index=batch.index, dtype=object)
        if allowed is not None:
            trans_bad = ~opener & ~edge.isin(allowed)
            detail[trans_bad] = "transition " + edge[trans_bad] \
                + " not allowed"
        if first_set is not None:
            first_bad = opener & ~roles.isin(first_set)
            detail[first_bad] = "first role " + r_str[first_bad] \
                + f" not in {first_lbl}"

        state.update((roles.iloc[-1] if _pd.notna(roles.iloc[-1]) else None,
                      n_seen + len(batch)))
        bad = detail.notna()
        if bad.any():
            out = batch.loc[bad, ["conv_id", "turn_idx", "role"]].copy()
            out["detail"] = detail[bad]
            yield out

    return update


def conversation_shape_stream(
    spark,
    source_dir: str,
    schema,
    first_roles: list[str] | None = None,
    allowed_transitions: list[tuple[str, str]] | None = None,
    order_cols: list[str] | None = None,
    query_name: str = "shape_state",
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
) -> StreamingQuery:
    """Streaming twin of the ``conversation_shape`` constraint family
    (engine.py:_conversation_shape): role-sequence validation applied
    incrementally as turns arrive in micro-batches, keyed by
    conversation with explicit GroupState — the ST-family pattern the
    reference applies to its request/response interleave discipline
    (ChronoMiner modules/batch/ops.py custom_id pairing;
    modules/extract/batch_output.py:280-284 order discipline),
    re-expressed as
    ``applyInPandasWithState``.

    Contract: per conversation, batches must arrive in turn order
    (turn ranges across batches non-overlapping — the append-log
    ingestion discipline); WITHIN a batch turns may arrive unordered
    (sorted per batch by ``order_cols`` with the role tiebreaker, the
    batch family's total order). First-role verdicts fire on a
    conversation's first-ever turn; transition verdicts on every
    adjacent pair, including pairs SPLIT ACROSS batches (the carry is
    the state's last_role). Last-role verdicts need an
    end-of-conversation signal a live stream does not have — they stay
    with the batch family.

    Scale posture: state is one (last_role, n_seen) pair per
    conversation; each micro-batch shuffles once on conv_id; the
    pandas fold is O(batch rows)."""
    order_cols = list(order_cols) if order_cols is not None else ["turn_idx"]
    edges = ([f"{a}>{b}" for a, b in allowed_transitions]
             if allowed_transitions is not None else None)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .select(F.col("conv_id").cast("string").alias("conv_id"),
                F.col("turn_idx").cast("long").alias("turn_idx"),
                *[F.col(c) for c in order_cols if c != "turn_idx"],
                F.col("role").cast("string").alias("role"))
    )
    out = stream.groupBy("conv_id").applyInPandasWithState(
        _shape_update_factory(first_roles, edges, order_cols),
        outputStructType=SHAPE_OUTPUT_SCHEMA,
        stateStructType=SHAPE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    if output_dir is not None:
        # durable deployment shape: parquet sink + checkpointed
        # GroupState — a restarted query resumes each conversation's
        # (last_role, n_seen) carry instead of re-judging
        # mid-conversation turns as openers (the memory sink is
        # debug-only and cannot recover from a checkpoint)
        writer = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", output_dir)
            .queryName(query_name)
        )
    else:
        writer = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
        )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()

