"""Fingerprint-chained checkpoint manifest — resumable validation runs.

Re-expresses the reference's resume engine (SURVEY.md §0.3):

- JSONL header fingerprints + refuse-on-config-drift
  (``/root/reference/modules/infra/jsonl.py:119-277``) -> ``suite_hash``
  column; a manifest row only counts as "completed" for the *same*
  suite hash and the *same* table snapshot.
- completed-index skip set (``modules/extract/resume.py:177-227``,
  ``modules/extract/processing_strategy.py:493-504``) -> the set of
  completed partition_ids, anti-filtered before any scan.
- temp-JSONL append-per-finished-unit durability
  (``modules/infra/jsonl.py:27-57``) -> one manifest commit per finished
  partition wave, written atomically (tmp + replace).

The manifest itself is tiny (one row per partition × snapshot × run), so
it lives in a JSON file committed atomically by the single-writer driver;
on a multi-writer cluster the same rows would go to an Iceberg table with
optimistic commits (the reference's file-locked shared ledger,
``modules/infra/shared_ledger.py:610-654``, is the cautionary tale this
avoids).
"""

from __future__ import annotations

import os
import time
from dataclasses import asdict, dataclass

from chronominer_spark.tables import _commit_json, _load_json

STATUS_COMPLETED = "completed"
STATUS_FAILED = "failed"


@dataclass(frozen=True)
class ManifestEntry:
    partition_id: str
    snapshot_id: int
    suite_hash: str
    status: str
    completed_at: float
    run_id: str


class CheckpointManifest:
    """Append-only manifest with atomic commits; latest entry wins per
    (partition_id, snapshot_id, suite_hash)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def entries(self) -> list[ManifestEntry]:
        return [ManifestEntry(**row) for row in _load_json(self.path, [])]

    def append(self, new_entries: list[ManifestEntry]) -> None:
        rows = [asdict(e) for e in self.entries()] + [asdict(e) for e in new_entries]
        _commit_json(self.path, rows)

    def mark_completed(
        self, partition_ids: list[str], snapshot_id: int, suite_hash: str, run_id: str
    ) -> None:
        now = time.time()
        self.append([
            ManifestEntry(p, snapshot_id, suite_hash, STATUS_COMPLETED, now, run_id)
            for p in partition_ids
        ])

    def completed_partitions(self, snapshot_id: int, suite_hash: str) -> set[str]:
        """Partitions durably validated for exactly this (snapshot, suite).

        A partition whose snapshot advanced is NOT completed (it must be
        re-validated — the late-data analog, SURVEY.md §2.9 ST4); a
        manifest written under a different suite_hash is ignored entirely
        (config drift ⇒ nothing is reusable — mirror of
        ``validate_jsonl_header`` refusal semantics).
        """
        done: set[str] = set()
        for e in self.entries():
            if (
                e.suite_hash == suite_hash
                and e.snapshot_id == snapshot_id
                and e.status == STATUS_COMPLETED
            ):
                done.add(e.partition_id)
        return done

    def has_drift(self, suite_hash: str) -> bool:
        """True if prior runs used a different suite config (warn + rerun)."""
        return any(e.suite_hash != suite_hash for e in self.entries())

    # ---------------------------------------------------------- decisions
    # Physical-strategy decisions (e.g. text_equality digest-vs-direct,
    # engine._digest_auto_choice) are *measurements of the data*, valid
    # for exactly one (snapshot_id, suite_hash): the same scoping rule as
    # completed partitions. Caching them here means a RERUN of the same
    # snapshot skips the probe job entirely (round-5 verdict item 4) —
    # one Spark action saved per equality constraint per rerun — while a
    # snapshot advance or config drift naturally invalidates the entry.

    @property
    def _decisions_path(self) -> str:
        return os.path.join(
            os.path.dirname(self.path) or ".", "strategy_decisions.json")

    def strategy_decisions(
        self, snapshot_id: int, suite_hash: str
    ) -> dict[str, bool]:
        """Cached strategy choices for this (snapshot, suite), keyed by
        constraint_id. Returns {} when none recorded."""
        all_rows = _load_json(self._decisions_path, {})
        return dict(all_rows.get(f"{snapshot_id}:{suite_hash}", {}))

    def save_strategy_decisions(
        self, snapshot_id: int, suite_hash: str, decisions: dict[str, bool]
    ) -> None:
        """Atomically merge decisions under the (snapshot, suite) key."""
        if not decisions:
            return
        all_rows: dict[str, dict[str, bool]] = _load_json(
            self._decisions_path, {})
        key = f"{snapshot_id}:{suite_hash}"
        merged = dict(all_rows.get(key, {}))
        merged.update(decisions)
        all_rows[key] = merged
        _commit_json(self._decisions_path, all_rows)


class RefAggCache:
    """Persisted reference-side aggregates (round-6 verdict item 1).

    The cross-snapshot families (row-count / quantile / categorical /
    histogram drift) re-scan and re-aggregate the REFERENCE snapshot on
    every run even though it is immutable between snapshot advances.
    This cache extends the ``strategy_decisions`` sidecar pattern to
    DataFrames: the per-partition ref aggregates (a few rows per
    partition — counts, sketch quantiles, category counts, bin
    histograms, never raw data) are landed as parquet under the
    runner's own state root, keyed by (snapshot_id, suite_hash,
    wave-partition-set, aggregate key). A rerun of the same snapshot
    reads them back instead of re-scanning the reference; a snapshot
    advance or suite change keys to a different directory, and the
    runner prunes directories of other snapshots at run start (the
    invalidate-on-advance contract). Writes are atomic (tmp dir +
    rename), so a crashed first run can never leave a half-written
    aggregate readable.

    This is resume/rerun state in the deployment's own output root —
    the same class of artifact as the checkpoint manifest. One-shot
    evaluations (no runner) never see it.

    Contract: one runner per output root at a time; the cache takes no
    lock. If a directory still vanishes between :meth:`load`'s
    ``_SUCCESS`` check and its read (a second runner's prune, or an
    operator's), ``load`` reports a miss and :meth:`get_or_build`
    rebuilds."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root

    @staticmethod
    def _slug(key: str) -> str:
        import hashlib
        return hashlib.sha1(key.encode("utf-8")).hexdigest()[:16]

    def _dir(self, key: str) -> str:
        return os.path.join(self.root, self._slug(key))

    def load(self, key: str):
        from pyspark.errors import AnalysisException

        d = self._dir(key)
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            return None
        try:
            return self.spark.read.parquet(d)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return None

    def save(self, key: str, df):
        """Materialize ``df`` under ``key`` and return the read-back
        frame (also serving as the materialized copy for any further
        consumer in the same plan)."""
        d = self._dir(key)
        tmp = d + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(d):
            import shutil
            shutil.rmtree(d)
        os.replace(tmp, d)
        return self.spark.read.parquet(d)

    def get_or_build(self, key: str, build):
        cached = self.load(key)
        if cached is not None:
            return cached
        return self.save(key, build())
