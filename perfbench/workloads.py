"""The two workloads, their inputs and their output gates.

``snapshot_validate``: one op is ``SuiteRunner.run`` of the default
17-constraint suite, in one wave, on a fresh output root, over an
on-disk transcripts table and its reference (the generator's default
planted diffs, so equality takes the direct join).

``stream_fold``: one op is one micro-batch of pre-split turns folded
through ``IncrementalExactDedup``, ``IncrementalQuantileDigest`` and
``IncrementalNearDup``. A stream is a fixed number of batches on fresh
state, so every run folds the same mix of state sizes.

Inputs come from ``chronominer_spark.datagen`` with the run's seed and
are cached on disk under the work directory, outside every timed
window. Each workload also has a traced-only part that reaches the
layers its ops do not time on their own.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import sys
import time

from tracing import instrument_runner, traced_run

# input sizes per scale and workload: bench is the benchmark, tiny is for
# its tests. Each run takes a seeded sample of exactly ``turns`` turns
# from a base table of 2 x turns, generated once per checkout with
# BASE_SEED. A snapshot of 100k turns spends over a third of its cold
# op on per-row work (the rest is the suite's fixed per-job cost), so a
# per-row regression shows in its latency. A stream is six micro-batches
# of 1k turns, one cold and five warm on growing state: a batch costs the
# twins' fixed per-batch work (state read, merge, commit) far more than
# its rows.
SCALES = {
    "bench": {"snapshot_validate": {"turns": 100_000, "buckets": 4},
              "stream_fold": {"turns": 6_000, "buckets": 2, "batches": 6}},
    "tiny": {"snapshot_validate": {"turns": 1_000, "buckets": 2},
             "stream_fold": {"turns": 1_000, "buckets": 2, "batches": 3}},
}
BASE_SEED = 7
QS = [0.1, 0.5, 0.9, 0.99]
TDIGEST_RANK_EPS = 0.02


class GateError(Exception):
    """Output that disagrees with its pin or its cross-check; ``ops`` is
    how many ops produced it."""

    def __init__(self, msg: str, ops: int = 1):
        super().__init__(msg)
        self.ops = ops


class InjectedCrash(RuntimeError):
    pass


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _fingerprint(df, cols) -> str:
    """``dataset_fingerprint`` over ``cols``, doubles rounded so the
    summation order of an aggregate cannot change the last digits."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from chronominer_spark.functions.keys import dataset_fingerprint

    types = dict((f.name, f.dataType) for f in df.schema.fields)
    return dataset_fingerprint(df.select(*[
        F.round(c, 9).alias(c) if isinstance(types[c], DoubleType)
        else F.col(c) for c in cols]))


def data_root(work: str) -> str:
    """Where generated inputs are cached: a directory named after the
    sources that make them (the generator and this file), so a change
    to either generates them again."""
    import chronominer_spark.datagen as datagen

    h = hashlib.sha256()
    for path in (datagen.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return os.path.join(work, "data", h.hexdigest()[:12])


def _arrow(df):
    """A small generated frame collected to Arrow, timestamps as UTC
    microseconds (what Spark reads back as its timestamp type)."""
    import pyarrow as pa

    pdf = df.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]").dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, preserve_index=False)


def base_tables(spark, work: str, scale: dict) -> dict:
    """The generator's transcripts, its reference and a near-identical
    reference (about one turn per million differs) for ``BASE_SEED`` as
    Arrow tables, written once per checkout."""
    import pyarrow.parquet as pq

    from chronominer_spark.datagen import (
        TranscriptGenConfig, generate_reference_snapshot,
        generate_transcripts)

    n = 2 * scale["turns"]
    cfg = TranscriptGenConfig(n_turns=n, n_convs=max(40, n // 50),
                              seed=BASE_SEED, n_buckets=scale["buckets"])
    makers = {
        "cur": lambda: generate_transcripts(spark, cfg),
        "ref": lambda: generate_reference_snapshot(spark, cfg),
        "ref_near": lambda: generate_reference_snapshot(
            spark, dataclasses.replace(cfg, ref_mutate_rate=1e-6,
                                       ref_drop_rate=0.0, ref_add_rate=0.0)),
    }
    root = os.path.join(data_root(work), f"base_n{n}_b{scale['buckets']}")
    os.makedirs(root, exist_ok=True)
    out = {}
    for name, make in makers.items():
        path = os.path.join(root, f"{name}.parquet")
        if not os.path.exists(path):
            pq.write_table(_arrow(make()), path + ".tmp")
            os.replace(path + ".tmp", path)
        out[name] = pq.read_table(path)
    return out


def seeded_sample(tables: dict, seed: int, turns: int) -> dict:
    """The first ``turns`` turns of ``tables["cur"]`` taken conversation
    by conversation in a seeded order (the last one cut short), and
    every other table restricted to the same conversations."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    cur = tables["cur"]
    convs = np.asarray(pc.unique(cur["conv_id"]).to_pylist(), dtype=object)
    convs = np.sort(convs)[np.random.default_rng(seed).permutation(
        len(convs))]
    rank = pc.index_in(cur["conv_id"], value_set=pa.array(list(convs)))
    cur = cur.take(pc.sort_indices(
        pa.table({"r": rank, "t": cur["turn_idx"]}),
        [("r", "ascending"), ("t", "ascending")]))[:turns]
    keep = pc.unique(cur["conv_id"])
    return {k: cur if k == "cur" else
            t.filter(pc.is_in(t["conv_id"], value_set=keep))
            for k, t in tables.items()}


def _output(runner, s) -> dict:
    """Fingerprints of a finished run's results and violations."""
    from chronominer_spark.constraints.engine import (
        RESULT_COLUMNS, VIOLATION_COLUMNS)

    if s.status != "complete":
        raise GateError(f"run status {s.status}")
    return {"results": _fingerprint(runner.results(), RESULT_COLUMNS),
            "violations": _fingerprint(runner.violations(),
                                       VIOLATION_COLUMNS)}


def _check_pin(pins: dict, key: str, got: dict) -> None:
    print(f"[perfbench] {key} {json.dumps(got)}", file=sys.stderr)
    want = pins.get(key)
    if want is not None and want != got:
        raise GateError(f"{key}: got {got}, pinned {want}")


def default_suite(spark):
    """The default 17-constraint transcript suite and its vocabularies."""
    from chronominer_spark.constraints.spec import (
        default_transcript_suite, default_vocab_dfs)
    from chronominer_spark.datagen import ROLE_VOCAB, TOOL_VOCAB

    return (default_transcript_suite(list(ROLE_VOCAB), list(TOOL_VOCAB)),
            default_vocab_dfs(spark, list(TOOL_VOCAB)))


def write_partitioned(spark, data: str, tables: dict) -> dict:
    """Each Arrow table as a parquet table partitioned by ``pbucket``
    under ``data`` (kept if already there), read back by Spark."""
    import pyarrow.parquet as pq

    out = {}
    for name, tbl in tables.items():
        path = os.path.join(data, name)
        if not os.path.exists(path):
            pq.write_to_dataset(tbl, path + ".tmp", partition_cols=["pbucket"])
            os.replace(path + ".tmp", path)
        out[name] = spark.read.parquet(path)
    return out


def crash_and_resume(spark, work: str, tracer, cur, ref, buckets: int,
                     pins: dict, pin_key: str) -> None:
    """The checkpoint path, with the members of the default suite that
    leave state in the checkpoint: equality, as ``digest="auto"`` (its
    strategy decision; a near-identical ``ref`` makes it pick the digest
    prepass), and the two drift checks (their reference aggregates),
    plus one row check. An uninterrupted one-wave run gives the expected
    output; a two-wave run then crashes on its second manifest commit and
    a fresh runner resumes it, reusing the strategy decision and the
    reference aggregates the crashed run saved. The resumed output must
    equal the uninterrupted one and the pin."""
    from chronominer_spark.checkpoint import CheckpointManifest
    from chronominer_spark.constraints.spec import text_equality
    from chronominer_spark.runner import SuiteRunner

    suite, vocab = default_suite(spark)
    suite = dataclasses.replace(suite, constraints=tuple(
        text_equality("text", digest="auto")
        if c.kind == "text_equality" else c for c in suite.constraints
        if c.kind in ("text_equality", "drift_psi", "drift_ks")
        or c.params.get("col") == "role" and c.kind == "not_null"))
    wave_size = max(1, buckets // 2)

    def runner(name, fresh=True):
        out = os.path.join(work, name)
        return SuiteRunner(spark, suite, _fresh(out) if fresh else out,
                           vocab_dfs=vocab)

    whole = runner("cycle_whole")
    expect = _output(whole, whole.run(cur, ref, snapshot_id=1))
    orig = CheckpointManifest.mark_completed
    calls = [0]

    def crashing(manifest, *a, **k):
        calls[0] += 1
        if calls[0] == 2:
            raise InjectedCrash("injected at the second commit")
        return orig(manifest, *a, **k)

    CheckpointManifest.mark_completed = crashing
    try:
        runner("cycle_resume").run(cur, ref, snapshot_id=1,
                                   wave_size=wave_size)
        raise GateError("injected crash did not fire")
    except InjectedCrash:
        pass
    finally:
        CheckpointManifest.mark_completed = orig
    resumed = runner("cycle_resume", fresh=False)
    instrument_runner(resumed, tracer)
    with tracer.span("checkpoint.resume"):
        s = traced_run(resumed, tracer, cur, ref, snapshot_id=1,
                       wave_size=wave_size)
    if not s.skipped:
        raise GateError("the resumed run skipped no partition")
    got = _output(resumed, s)
    if got != expect:
        raise GateError(f"resumed {got} != uninterrupted {expect}")
    _check_pin(pins, pin_key, got)


# =========================================================== snapshot
class SnapshotValidate:
    name = "snapshot_validate"
    ops_per_stream = 1

    def __init__(self, spark, work: str, seed: int, scale: dict, pins: dict):
        self.spark, self.work, self.seed, self.pins = spark, work, seed, pins
        self.scale = scale
        self.data = os.path.join(data_root(work),
                                 f"sv_n{scale['turns']}_s{seed}")
        self.pin_key = f"{self.name}/n={scale['turns']}/seed={seed}"
        self.expect = None

    def prepare(self) -> None:
        """The seeded table, its reference and the near-identical
        reference as parquet tables partitioned by ``pbucket``."""
        for name, df in write_partitioned(self.spark, self.data, seeded_sample(
                base_tables(self.spark, self.work, self.scale), self.seed,
                self.scale["turns"])).items():
            setattr(self, name, df)
        self.suite, self.vocab = default_suite(self.spark)
        self.rows = self._duckdb_counts()

    def _duckdb_counts(self) -> dict:
        """Row count and null roles counted by DuckDB straight from the
        parquet files: an independent check of the runner's results."""
        import duckdb

        glob = os.path.join(self.data, "cur", "*", "*.parquet")
        n, null_role = duckdb.connect().execute(
            "SELECT count(*), count(*) FILTER (WHERE role IS NULL) "
            f"FROM read_parquet('{glob}')").fetchone()
        return {"rows": n, "null_role": null_role}

    def op(self, i: int, tracer) -> tuple[float, int]:
        from chronominer_spark.runner import SuiteRunner

        out = _fresh(os.path.join(self.work, "sv_out"))
        runner = SuiteRunner(self.spark, self.suite, out,
                             vocab_dfs=self.vocab)
        instrument_runner(runner, tracer)
        t0 = time.perf_counter()
        s = traced_run(runner, tracer, self.cur, self.ref, snapshot_id=1)
        wall = time.perf_counter() - t0
        self.last = runner, s
        return wall, s.rows_validated

    def check(self, i: int, tracer) -> None:
        """Gate the last op: status, row count, the DuckDB null-role
        count, the same fingerprints as the first op, and the pin."""
        from pyspark.sql import functions as F

        runner, s = self.last
        if s.rows_validated != self.rows["rows"]:
            raise GateError(f"rows_validated {s.rows_validated} != "
                            f"{self.rows['rows']}")
        got = _output(runner, s)
        if self.expect is None:
            # later ops must match this one, so one DuckDB check holds
            # for all of them
            null_role = runner.results() \
                .where(F.col("constraint_id") == "not_null:role") \
                .agg(F.sum("violation_count")).collect()[0][0]
            if null_role != self.rows["null_role"]:
                raise GateError(f"not_null:role {null_role} != "
                                f"{self.rows['null_role']}")
            self.expect = got
        if got != self.expect:
            raise GateError(f"output {got} != first op's {self.expect}")
        _check_pin(self.pins, self.pin_key, got)

    def families(self, tracer) -> None:
        """Each engine family alone through ``SuiteEvaluator.evaluate``,
        its results written to the noop sink."""
        from chronominer_spark.constraints.engine import (
            ROW_LEVEL_KINDS, SuiteEvaluator)
        from chronominer_spark.constraints.spec import (
            ConstraintSuite, drift_categorical, drift_quantile,
            row_count_drift, text_equality)

        cons = self.suite.constraints
        families = [
            ("engine.row_checks", [
                c for c in cons if c.kind in ("column_stats", "quantiles")
                or (c.kind in ROW_LEVEL_KINDS
                    and not c.params.get("vocab_name"))], self.ref),
            ("engine.unique", [c for c in cons if c.kind == "unique"],
             self.ref),
            ("engine.referential_dim", [c for c in cons
                                        if c.params.get("vocab_name")],
             self.ref),
            ("engine.group_stats", [c for c in cons
                                    if c.kind == "group_stats"], self.ref),
            ("engine.equality_direct", [text_equality("text")], self.ref),
            ("engine.equality_digest", [text_equality("text", digest=True)],
             self.ref_near),
            ("engine.drift", [c for c in cons
                              if c.kind in ("drift_psi", "drift_ks")] + [
                drift_quantile("length(text)"), drift_categorical("role"),
                row_count_drift()], self.ref_near),
        ]
        for name, members, ref in families:
            ev = SuiteEvaluator(self.spark, ConstraintSuite(
                name=name, constraints=tuple(members)), self.vocab)
            with tracer.span(name):
                res, _ = ev.evaluate(self.cur, ref, snapshot_id=1,
                                     with_violations=False)
                res.write.format("noop").mode("overwrite").save()
            ev.unpersist_all()


# ============================================================= stream
class StreamFold:
    name = "stream_fold"

    def __init__(self, spark, work: str, seed: int, scale: dict, pins: dict):
        self.spark, self.work, self.seed, self.pins = spark, work, seed, pins
        self.scale = scale
        self.n_batches = self.ops_per_stream = scale["batches"]
        self.data = os.path.join(data_root(work),
                                 f"sf_n{scale['turns']}_s{seed}")
        self.pin_key = f"{self.name}/n={scale['turns']}/seed={seed}"
        self.reference = None

    def prepare(self) -> None:
        """The seeded turns with a stable ``turn_id`` and planted
        duplicates, dealt at random into ``n_batches`` parquet files; and,
        for the traced crash-and-resume cycle, the same turns as they were
        generated with their near-identical reference."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        tables = seeded_sample(base_tables(self.spark, self.work, self.scale),
                               self.seed, self.scale["turns"])
        self.cycle = write_partitioned(self.spark, self.data, {
            "cur": tables["cur"], "ref": tables["ref_near"]})
        done = os.path.join(self.data, "_SUCCESS")
        if not os.path.exists(done):
            tbl = tables["cur"].sort_by([("conv_id", "ascending"),
                               ("turn_idx", "ascending"),
                               ("ts", "ascending"), ("text", "ascending")])
            tbl = tbl.add_column(0, "turn_id", pa.array(
                np.arange(tbl.num_rows, dtype="int64")))
            tbl = self._plant_duplicates(tbl)
            order = np.random.default_rng(self.seed).permutation(
                tbl.num_rows)
            for b, idx in enumerate(np.array_split(order, self.n_batches)):
                pq.write_table(tbl.take(np.sort(idx)),
                               os.path.join(self.data, f"batch={b}.parquet"))
            open(done, "w").close()
        self.batches = [os.path.join(self.data, f"batch={b}.parquet")
                        for b in range(self.n_batches)]
        self.batch_rows = [pq.ParquetFile(p).metadata.num_rows
                           for p in self.batches]

    def _plant_duplicates(self, tbl):
        """Copy the text of random other turns into a fifth of the turns,
        a third of those with one word appended, so exact and near
        duplicates cross batch boundaries."""
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng(self.seed + 1)
        text = tbl.column("text").to_pylist()
        n = len(text)
        for i in rng.choice(n, n // 5, replace=False):
            src = text[int(rng.integers(n))]
            if src:
                text[i] = src + " again" if rng.random() < 1 / 3 else src
        return tbl.set_column(tbl.schema.get_field_index("text"), "text",
                              pa.array(text, pa.string()))

    def _new_state(self) -> None:
        from chronominer_spark.streaming.dedup_stream import (
            IncrementalExactDedup, IncrementalNearDup,
            IncrementalQuantileDigest)

        root = self.state_root = _fresh(os.path.join(self.work, "sf_state"))
        self.twins = [
            ("streaming.exact_dedup", IncrementalExactDedup(
                self.spark, f"{root}/dedup", "turn_id", "text")),
            ("streaming.tdigest", IncrementalQuantileDigest(
                self.spark, f"{root}/tdigest", "pbucket", "length(text)")),
            ("streaming.near_dup", IncrementalNearDup(
                self.spark, f"{root}/neardup", "turn_id", "text")),
        ]

    def op(self, i: int, tracer) -> tuple[float, int]:
        b = i % self.n_batches
        if b == 0:
            self._new_state()
        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.batches[b])
        for name, twin in self.twins:
            with tracer.span(name + ".batch"):
                twin.process_batch(df, b)
        return time.perf_counter() - t0, self.batch_rows[b]

    def check(self, i: int, tracer) -> None:
        """Gate a stream once its last batch is folded."""
        if i % self.n_batches == self.n_batches - 1:
            self.end_stream(tracer)

    def _outputs(self) -> tuple[dict, dict]:
        """Fingerprints of the folded exact-dedup and near-dup states,
        and the folded t-digest quantiles."""
        from pyspark.sql import functions as F

        (_, ed), (_, qd), (_, nd) = self.twins
        dedup = ed.result()
        got = {"dedup": _fingerprint(dedup, sorted(dedup.columns)),
               "pairs": _fingerprint(nd.result(), ["id_a", "id_b"])}
        q = {(r["part"], r["q"]): r["value"] for r in
             qd.quantiles(QS).select("part", "q", F.col("value")).collect()}
        return got, q

    def _batch_reference(self, tracer) -> dict:
        """The batch operators over the concatenated batches."""
        from chronominer_spark.operators.dedup import (
            exact_dedup, lsh_candidate_pairs, minhash_signatures)

        all_df = self.spark.read.parquet(*self.batches)
        with tracer.span("operators.exact_dedup"):
            dedup = exact_dedup(all_df, "turn_id", "text")
            fp_dedup = _fingerprint(dedup, sorted(dedup.columns))
        with tracer.span("operators.lsh_pairs"):
            sigs = minhash_signatures(all_df, "turn_id", "text", k=3,
                                      num_hashes=16)
            pairs = lsh_candidate_pairs(sigs, "turn_id", bands=4,
                                        num_hashes=16, max_bucket_size=None)
            fp_pairs = _fingerprint(pairs, ["id_a", "id_b"])
        return {"dedup": fp_dedup, "pairs": fp_pairs}

    def _check_quantiles(self, q: dict) -> None:
        """Each folded quantile within the t-digest rank-error envelope
        of the exact distribution."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = pa.concat_tables(pq.read_table(p, columns=["pbucket", "text"])
                               for p in self.batches)
        part = tbl.column("pbucket").to_numpy()
        length = pc.utf8_length(tbl.column("text")).to_numpy(
            zero_copy_only=False).astype(float)
        for p in np.unique(part):
            v = np.sort(length[(part == p) & ~np.isnan(length)])
            for qq in QS:
                est = q.get((str(p), qq))
                if est is None:
                    raise GateError(f"t-digest: no estimate for {p}/{qq}")
                lo = np.searchsorted(v, est, "left") / len(v)
                hi = np.searchsorted(v, est, "right") / len(v)
                if not lo - TDIGEST_RANK_EPS <= qq <= hi + TDIGEST_RANK_EPS:
                    raise GateError(f"t-digest {p}/q{qq}: rank "
                                    f"[{lo:.4f}, {hi:.4f}] of {est}")

    def end_stream(self, tracer) -> None:
        """Every run checks that the folded dedup state counts each
        ingested turn once, the folded quantiles against the exact ones,
        and the pin; a traced run also compares the folded states with
        the batch operators over the concatenated batches."""
        from pyspark.sql import functions as F

        try:
            got, q = self._outputs()
            self._check_quantiles(q)
            seen = self.twins[0][1].result().agg(F.sum("dup_count")) \
                .collect()[0][0]
            if seen != sum(self.batch_rows):
                raise GateError(f"dedup state counts {seen} turns, "
                                f"{sum(self.batch_rows)} ingested")
            if tracer.enabled:
                if self.reference is None:
                    self.reference = self._batch_reference(tracer)
                if got != self.reference:
                    raise GateError(f"folded {got} != batch {self.reference}")
            _check_pin(self.pins, self.pin_key, got)
        except GateError as e:
            raise GateError(str(e), ops=self.n_batches) from None

    def state_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.state_root) for f in fs)

    def candidate_pairs(self) -> int:
        return self.twins[2][1].result().count()

    def crash_and_resume(self, tracer) -> None:
        crash_and_resume(self.spark, self.work, tracer, self.cycle["cur"],
                         self.cycle["ref"], self.scale["buckets"], self.pins,
                         f"{self.name}/resume/n={self.scale['turns']}"
                         f"/seed={self.seed}")


WORKLOADS = {w.name: w for w in (SnapshotValidate, StreamFold)}


def text_kernel_rows_per_s(paths: list[str], seconds: float = 1.0) -> float:
    """Rows per second of the Arrow normalize + DuckDB hash kernel that
    text equality runs per batch, on in-memory 10k-row batches of the
    ``text`` column of ``paths``, with no Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chronominer_spark.functions.text import (
        _arrow_norm_array, _duckdb_hash64)

    text = pa.concat_tables(pq.read_table(p, columns=["text"])
                            for p in paths).column("text").to_pandas()
    batches = [text[i:i + 10_000].reset_index(drop=True)
               for i in range(0, len(text), 10_000)]

    def kernel(b):
        return _duckdb_hash64(_arrow_norm_array(b, True, True, False, False))

    kernel(batches[0])
    rows, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for b in batches:
            kernel(b)
            rows += len(b)
    return rows / (time.perf_counter() - t0)
