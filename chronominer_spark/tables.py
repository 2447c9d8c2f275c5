"""Snapshot-versioned parquet tables (Iceberg-like commit semantics).

The target design (SURVEY.md §7.1) stores transcripts / results / manifest
in Iceberg tables; the sandbox image ships no Iceberg runtime jar, so this
module provides the same *commit semantics* over plain parquet:

- every write is a new immutable **snapshot directory** ``v{N}/``;
- a tiny ``_latest`` pointer file names the current snapshot and is
  replaced atomically (tmp + ``os.replace``), mirroring the reference's
  atomic materializer (``/root/reference/modules/infra/jsonl.py:329-349``);
- readers resolve the pointer once and then read an immutable directory,
  so a crash mid-write can never be observed (snapshot isolation);
- snapshot ids are monotonically increasing longs, used as lineage in
  results/violations/manifest rows exactly like Iceberg snapshot ids.

If a real Iceberg catalog is configured (``spark.sql.catalog.*`` set and
the runtime jar present), :func:`use_iceberg` returns True and callers can
swap in native tables — the engine only depends on the tiny interface
below (read / append-snapshot / current_snapshot_id).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def _commit_json(path: str, obj) -> None:
    """The one commit point of every persisted JSON state: write
    ``path.tmp``, then ``os.replace`` it over ``path`` atomically."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _load_json(path: str, default):
    """The JSON value at ``path``, or ``default`` if never committed."""
    if not os.path.exists(path):
        return default
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def use_iceberg(spark: SparkSession) -> bool:
    """True if an Iceberg catalog is actually loadable in this session."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


_POINTER = "_latest"
_META = "_snapshots.json"


@dataclass(frozen=True)
class SnapshotInfo:
    snapshot_id: int
    path: str
    committed_at: float
    operation: str


class SnapshotTable:
    """A parquet table with atomic snapshot commits and time travel.

    Layout::

        root/
          _latest             # text file: current snapshot id
          _snapshots.json     # snapshot log (id, op, wall time)
          v1/ ... parquet ...
          v2/ ... parquet ...

    Partitioned writes use ``partition_by`` so downstream scans get
    partition pruning on the partition column (the engine partitions
    transcripts by a conv_id hash bucket — FIXTURES.md §1).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- pointer management -------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.root, _POINTER)

    def current_snapshot_id(self) -> int | None:
        p = self._pointer_path()
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as f:
            txt = f.read().strip()
        return int(txt) if txt else None

    def snapshot_path(self, snapshot_id: int | None = None) -> str:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(f"table {self.root} has no committed snapshot")
        return os.path.join(self.root, f"v{sid}")

    def snapshots(self) -> list[SnapshotInfo]:
        return [SnapshotInfo(**row) for row in
                _load_json(os.path.join(self.root, _META), [])]

    def _commit_pointer(self, snapshot_id: int, operation: str) -> None:
        log = [s.__dict__ for s in self.snapshots()]
        log.append(
            SnapshotInfo(
                snapshot_id=snapshot_id,
                path=f"v{snapshot_id}",
                committed_at=time.time(),
                operation=operation,
            ).__dict__
        )
        _commit_json(os.path.join(self.root, _META), log)
        # the pointer holds the bare id: its JSON text is str(snapshot_id)
        _commit_json(self._pointer_path(), snapshot_id)

    # -- write --------------------------------------------------------------
    def write_snapshot(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        operation: str = "overwrite",
    ) -> int:
        """Write ``df`` as a brand-new snapshot; commit the pointer last.

        The data write happens into an uncommitted ``v{N}`` directory; the
        pointer flip is the commit point (crash before it leaves the table
        on the previous snapshot — same guarantee as an Iceberg commit).
        """
        cur = self.current_snapshot_id() or 0
        sid = cur + 1
        path = os.path.join(self.root, f"v{sid}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._commit_pointer(sid, operation)
        return sid

    def write_snapshot_partial(
        self,
        touched_df: DataFrame,
        partition_by: str,
        touched_values: list,
        operation: str = "merge",
    ) -> int:
        """Partition-level merge commit: write ONLY the touched
        partitions of ``partition_by`` into the new snapshot and
        carry every other partition forward from the current snapshot
        by hard-linking its files — the plain-parquet analog of an
        Iceberg ``MERGE INTO`` commit, whose new snapshot manifest
        references the untouched data files of the old one instead of
        rewriting them. Write cost is O(touched partitions), commit is
        still the atomic pointer flip, and older snapshots stay
        readable (hard links share inodes; both directories remain
        valid until both are deleted).

        ``touched_df`` must contain exactly the merged rows of the
        touched partitions (its ``partition_by`` values ⊆
        ``touched_values``). Falls back to a plain full write when
        there is no current snapshot."""
        cur = self.current_snapshot_id()
        if cur is None:
            return self.write_snapshot(touched_df,
                                       partition_by=[partition_by],
                                       operation=operation)
        sid = cur + 1
        path = os.path.join(self.root, f"v{sid}")
        touched_df.write.mode("overwrite") \
            .partitionBy(partition_by).parquet(path)
        touched_dirs = {f"{partition_by}={v}" for v in touched_values}
        prev = os.path.join(self.root, f"v{cur}")
        for entry in os.listdir(prev):
            if not entry.startswith(f"{partition_by}="):
                continue
            if entry in touched_dirs:
                continue
            src_dir = os.path.join(prev, entry)
            dst_dir = os.path.join(path, entry)
            os.makedirs(dst_dir, exist_ok=True)
            for f in os.listdir(src_dir):
                if f.startswith("."):
                    continue
                os.link(os.path.join(src_dir, f), os.path.join(dst_dir, f))
        self._commit_pointer(sid, operation)
        return sid

    # -- read ---------------------------------------------------------------
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        return self.spark.read.parquet(self.snapshot_path(snapshot_id))

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None


class AppendLog:
    """Append-only parquet log with atomic visibility (results/violations).

    Each ``append`` writes a new immutable subdirectory; readers union all
    committed segments. This is the Spark analog of the reference's
    flush-per-record temp JSONL (``/root/reference/modules/infra/jsonl.py:
    27-57``): one durable commit per finished unit of work, never a
    partially visible one.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._committed = os.path.join(root, "_committed.json")

    def _segments(self) -> list[str]:
        return _load_json(self._committed, [])

    def append(self, df: DataFrame, label: str = "seg") -> str:
        segs = self._segments()
        name = f"{label}-{len(segs):06d}"
        path = os.path.join(self.root, name)
        df.write.mode("overwrite").parquet(path)
        segs.append(name)
        _commit_json(self._committed, segs)
        return name

    def read(self) -> DataFrame | None:
        segs = self._segments()
        if not segs:
            return None
        return self.spark.read.parquet(*[os.path.join(self.root, s) for s in segs])

    # -------------------------------------------------- maintenance
    @property
    def _absorbed_path(self) -> str:
        return os.path.join(self.root, "_absorbed.json")

    def _absorbed(self) -> list[str]:
        return _load_json(self._absorbed_path, [])

    def has_label(self, label: str) -> bool:
        """True if a segment with this label was ever committed —
        including segments later absorbed by :meth:`rewrite`. The
        replay guards of the streaming folds key on this, so
        compaction MUST NOT forget which batches were ingested."""
        pfx = f"{label}-"
        return any(s.startswith(pfx)
                   for s in self._segments() + self._absorbed())

    def rewrite(self, df: DataFrame, label: str = "compact") -> str:
        """Atomically replace ALL committed segments with ONE compacted
        segment (maintenance — e.g. the near-dup bucket-state
        compaction). Sequence: write the new segment, record the old
        segment names as absorbed (their labels keep answering
        :meth:`has_label` — replay guards survive), then flip the
        committed pointer; readers see the old set or the new single
        segment, never a mix. A crash between the absorbed write and
        the pointer flip is safe: the old segments are still committed
        and the absorbed names merely duplicate them. Old segment
        directories are removed last (a crash leaves orphan dirs,
        never corruption)."""
        import shutil
        import uuid

        old = self._segments()
        name = f"{label}-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, name))
        _commit_json(self._absorbed_path, self._absorbed() + old)
        _commit_json(self._committed, [name])
        for s in old:
            shutil.rmtree(os.path.join(self.root, s), ignore_errors=True)
        return name

    def clear(self) -> None:
        if os.path.exists(self._committed):
            os.remove(self._committed)
