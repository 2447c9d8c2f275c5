"""Similarity search over embedding columns (array<float>).

- :func:`brute_force_topk`   exact top-k: broadcast the (small) query set
  against the corpus, window-rank per query. The baseline and the
  verifier for the approximate path.
- :func:`lsh_topk`           approximate top-k via random-hyperplane LSH:
  sign-bit sketches bucket the corpus; candidates share a bucket in any
  of several sketch tables; verify with exact cosine inside buckets.
  Scale path: shuffle is (docs × tables) bucket keys, never the cross
  product. Hot buckets are capped (logged, never silent).
- :func:`embedding_near_dups` cosine ≥ threshold pairs through the
  :func:`lsh_topk` self-join.
- :func:`ivf_train` / :func:`ivf_build_index` / :func:`ivf_search`
  IVF (inverted-file) ANN with the index build and the search as
  SEPARATE jobs: the cell-assignment index is an ordinary DataFrame the
  caller can persist as a table and reuse across query batches.
  :func:`ivf_topk` is the one-shot convenience wrapper.

The vector family owns ONE cosine (:func:`_cosine_rows` for a batch of
row pairs, :func:`_cosine_pair` for one pair), ONE ranker
(:func:`_top_k`) and shares the LSH hot-bucket guard
(:func:`~chronominer_spark.operators.dedup.drop_hot_buckets`) with the
MinHash family; every scoring path calls them through the two Arrow
UDFs :func:`_np_cosine_udf` (vectors as columns) and
:func:`_np_cosine_lookup_udf` (vectors from broadcast matrices).
:func:`cosine_similarity` and :func:`_sketch_buckets` are the Catalyst
forms of the cosine and the sign sketch, kept as the reference the
kernels are pytest-asserted against; no engine path calls them.

Hyperplanes and centroids are NOT folded into the query plan as
literals: they ride in a one-row broadcast DataFrame as a nested array
column (``crossJoin(broadcast(...))``) or in the sketch UDF's closure,
so plan size stays O(1) in (tables × bits × dim) / (centroids × dim).
With plan literals a 768-dim × 256-centroid index used to blow past
codegen limits.

Hyperplanes are generated deterministically (seeded md5), so results
are reproducible at any parallelism.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronominer_spark.operators.dedup import drop_hot_buckets

logger = logging.getLogger(__name__)


def dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a, b) -> F.Column:
    """Catalyst reference cosine the numpy kernels are tested against.
    On a NaN element it returns NaN, unlike the engine's NULL contract
    (:func:`_cosine_pair`)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    ca = F.transform(ca, lambda x: x.cast("double"))
    cb = F.transform(cb, lambda x: x.cast("double"))
    d = norm(ca) * norm(cb)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(ca, cb) / d)


def _top_k(pairs: DataFrame, cosine: F.Column, k: int) -> DataFrame:
    """The one ranker of the vector family: score each (query_id,
    neighbor_id) pair with ``round(cosine, 6)`` and keep each query's
    top ``k`` by that ROUNDED cosine desc, ties broken by neighbor_id —
    a total order, so float noise below the 6th decimal can never flip
    an ordering across engines or parallelism levels."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("cosine", F.round(cosine, 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus. The query
    side is broadcast (it is the small side by construction); ranking
    breaks ties by neighbor id for a total order."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"))
    pairs = q.crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    return _top_k(pairs, _np_cosine_udf()(F.col("__qv"), F.col("__cv")), k)


# --------------------------------------------------------------------------
# Random-hyperplane LSH
# --------------------------------------------------------------------------

def _hyperplane(
    seed: int, table: int, bit: int, dim: int,
    scheme: str = "md5_uniform",
) -> list[float]:
    """Deterministic hyperplane components (driver-side; shipped via
    broadcast, never as plan literals).

    ``md5_uniform``: pseudo-gaussian (difference of two md5-derived
    uniforms). ``rademacher_md5``: ±1 signs from the top bit of the md5
    hex digest — an equally valid sign-sketch family (Achlioptas-style
    random signs) whose plane values any engine with ``md5()`` can
    reproduce, which is what makes the q26 DuckDB oracle possible."""
    import hashlib
    import struct
    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}:{table}:{bit}:{d}".encode())
        if scheme == "rademacher_md5":
            vals.append(1.0 if h.hexdigest()[0] in "01234567" else -1.0)
            continue
        dg = h.digest()
        # two uniform(0,1] from the digest -> symmetric difference is
        # good enough for sign sketches
        u1 = (struct.unpack("<I", dg[:4])[0] + 1) / 2**32
        u2 = (struct.unpack("<I", dg[4:8])[0] + 1) / 2**32
        vals.append(u1 - u2)
    return vals


def _broadcast_nested(
    df: DataFrame, col_name: str, value, depth: int
) -> DataFrame:
    """Attach a driver-side nested float list as a column via a one-row
    broadcast crossJoin — the scale-safe alternative to F.lit arrays."""
    dt: T.DataType = T.DoubleType()
    for _ in range(depth):
        dt = T.ArrayType(dt, False)
    schema = T.StructType([T.StructField(col_name, dt, False)])
    one_row = df.sparkSession.createDataFrame([(value,)], schema)
    return df.crossJoin(F.broadcast(one_row))


def _sketch_buckets(vec_col, planes_col: str) -> F.Column:
    """array<string> of per-table bucket keys ('t<i>:<bits>') for a
    vector, computed against the broadcast plane tensor
    (tables × bits × dim). Reference (pure-Catalyst) formulation: every
    engine path uses :func:`_np_sketch_udf`, whose semantics mirror this
    expression bit for bit; this one is kept as the executable spec the
    tests compare that kernel against."""
    v = F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: x.cast("double"),
    )
    return F.transform(
        F.col(planes_col),
        lambda planes_t, ti: F.concat(
            F.lit("t"), ti.cast("string"), F.lit(":"),
            F.array_join(
                F.transform(
                    planes_t,
                    lambda p: F.when(
                        F.aggregate(
                            F.zip_with(v, p, lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x,
                        ) >= 0,
                        F.lit("1"),
                    ).otherwise(F.lit("0")),
                ),
                "",
            ),
        ),
    )


def _np_sketch_udf(planes: list[list[list[float]]]):
    """Vectorized (Arrow + numpy) twin of :func:`_sketch_buckets`: one
    (n × dim) @ (dim × tables·bits) matmul per Arrow batch instead of
    tables × bits interpreted ``aggregate``/``zip_with`` folds per row
    (guide §4.2 — measured 15 s → <1 s on the 22k-vector sf1.0
    bucketize stage). The plane matrix rides in the UDF closure
    (tables·bits·dim doubles — ~30 KB for every configuration used
    here), NOT as plan literals.

    Semantics mirror the Catalyst fold exactly:
    - sign bit '1' iff dot >= 0, and NaN dots give '1' (Spark orders
      NaN above every double, so ``NaN >= 0`` is true);
    - a NULL vector or a length-mismatched vector yields the all-'0'
      bucket in every table (the fold's null-propagation collapses to
      the ``otherwise('0')`` branch for every bit);
    - float32 inputs are widened to float64 before the product, the
      same as the fold's element-wise ``cast("double")``.
    Caveat (documented, untested upstream): a NULL *element* inside a
    vector arrives as NaN through Arrow and is sketched as NaN (bit
    '1') rather than the fold's '0' — no caller produces null elements.
    """
    P = np.asarray(planes, dtype=np.float64)            # (T, B, D)
    n_tables, n_bits, dim = P.shape
    M = np.ascontiguousarray(P.reshape(n_tables * n_bits, dim).T)
    zero_key = [f"t{t}:" + "0" * n_bits for t in range(n_tables)]

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sketch(vs: pd.Series) -> pd.Series:
        out: list = [None] * len(vs)
        clean_idx: list[int] = []
        clean_rows: list = []
        for i, v in enumerate(vs):
            if v is None or len(v) != dim:
                out[i] = zero_key
            else:
                clean_idx.append(i)
                clean_rows.append(v)
        if clean_rows:
            x = np.asarray(clean_rows, dtype=np.float64)     # (n, D)
            s = x @ M                                        # (n, T*B)
            bits = np.where((s >= 0) | np.isnan(s), "1", "0")
            for j, i in enumerate(clean_idx):
                row = bits[j]
                out[i] = [
                    f"t{t}:" + "".join(row[t * n_bits:(t + 1) * n_bits])
                    for t in range(n_tables)
                ]
        return pd.Series(out)

    return sketch


def _cosine_pair(a, b) -> float | None:
    """Cosine of ONE vector pair under :func:`cosine_similarity`'s
    rules: NULL on either side → NULL; ``|a|·|b| == 0`` → 0.0
    (zero-length arrays included); otherwise a length mismatch → NULL
    (the fold's zip_with null-padding makes the dot NULL); a NaN element
    gives NaN, which every engine path returns as NULL (Arrow masks NaN
    in the UDF result), so :func:`_top_k` ranks it last. Inputs are
    widened to float64 first, like the fold's element-wise cast."""
    if a is None or b is None:
        return None
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    d = float(np.sqrt((a * a).sum()) * np.sqrt((b * b).sum()))
    if d == 0.0:
        return 0.0
    if a.shape[0] != b.shape[0]:
        return None
    return float(a @ b) / d


def _cosine_rows(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two float64 matrices (row i of ``x`` against
    row i of ``y``): one einsum per product instead of ~3·dim
    interpreted lambda evaluations per row (guide §4.2 — the q35 verify
    stage over 3.7M candidate pairs spent ~30 s in the Catalyst fold).
    Zero norm → 0.0 and NaN (NULL in Spark) as in :func:`_cosine_pair`.
    When the two sides differ in width, every row goes through
    :func:`_cosine_pair` (NULL, carried as NaN, unless a norm is 0)."""
    if x.shape[1] != y.shape[1]:
        return np.array([_cosine_pair(a, b) for a, b in zip(x, y)],
                        dtype=np.float64)
    dots = np.einsum("ij,ij->i", x, y)
    d = np.sqrt(np.einsum("ij,ij->i", x, x)) \
        * np.sqrt(np.einsum("ij,ij->i", y, y))
    out = np.zeros(len(x), dtype=np.float64)
    np.divide(dots, d, out=out, where=d != 0)
    return out


def _stack(vs: pd.Series) -> np.ndarray | None:
    """A batch of vectors as one (n × dim) float64 matrix, or None when
    a NULL or ragged row (or an empty batch) prevents stacking."""
    try:
        m = np.stack(vs.values).astype(np.float64, copy=False)
    except (ValueError, TypeError):
        return None
    return m if m.ndim == 2 else None


def _np_cosine_udf():
    """Vectorized (Arrow + numpy) twin of :func:`cosine_similarity`
    over two vector columns, returning the RAW double (callers round
    through :func:`_top_k`, preserving Spark's HALF_UP rounding). A
    batch that stacks into two matrices is scored by
    :func:`_cosine_rows`; a batch holding a NULL or ragged vector
    falls back to :func:`_cosine_pair` per row (never hit by fixed-dim
    embedding tables). A NaN element gives NULL, the contract stated at
    :func:`_cosine_pair`."""
    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        x, y = _stack(a), _stack(b)
        if x is None or y is None:
            return pd.Series([_cosine_pair(va, vb) for va, vb in zip(a, b)],
                             dtype="float64")
        return pd.Series(_cosine_rows(x, y))

    return cos


# Spark-driver memory budget for the id→vector matrices lsh_topk
# broadcasts (float64 rows): a side holding more than
# BROADCAST_VECTOR_BYTES // (8 * dim) vectors is verified through the
# shuffled re-attach joins instead.
BROADCAST_VECTOR_BYTES = 64 << 20


def _np_cosine_lookup_udf(spark, side_frames, cap: int):
    """Cosine over BROADCAST id→vector matrices: the UDF receives only
    the (query_id, neighbor_id) longs; vectors are resolved inside the
    Python worker from matrices broadcast ONCE per executor (guide §4.5
    heavyweight state per task, §8 "move heavy bytes once"). Versus the
    per-pair re-attach joins this removes the 2×dim doubles that every
    candidate pair previously carried through two joins and the Arrow
    boundary (~1 KB/pair at dim=64 — the dominant verify-stage bytes).

    Size-guarded: each side is collected through ``limit(cap + 1)``,
    and if either holds more than ``cap`` rows nothing is broadcast and
    ``None`` is returned — the caller then takes the shuffled
    re-attach. Under the cap, materializing the side on the driver is
    the same collect a ``BroadcastExchange`` of the re-attach join
    performs internally, minus shipping it per pair afterwards.

    Semantics are exactly :func:`_np_cosine_udf` on the same float64
    values (Arrow driver collection is bit-lossless): pairs of matrix
    rows are scored by :func:`_cosine_rows`, NULL vectors and vectors
    whose length differs from their side's first go through
    :func:`_cosine_pair`. ``side_frames`` is (query_df, neighbor_df)
    of (id, vec) columns; pass the same object twice for a self-join
    (one collection, one broadcast)."""
    def _collect(df):
        pdf = df.limit(cap + 1).toPandas()
        if len(pdf) > cap:
            return None
        idc, vc = pdf.columns[:2]
        ids: list = []
        rows: list = []
        odd: dict = {}          # NULL / ragged vectors: exact scalar path
        dim = None
        for i, v in zip(pdf[idc], pdf[vc]):
            if v is None:
                odd[int(i)] = None
                continue
            a = np.asarray(v, dtype=np.float64)
            if dim is None:
                dim = a.shape[0]
            if a.shape[0] != dim:
                odd[int(i)] = a
                continue
            ids.append(int(i))
            rows.append(a)
        mat = (np.vstack(rows) if rows
               else np.zeros((0, dim or 0), dtype=np.float64))
        index = {i: j for j, i in enumerate(ids)}
        return index, mat, odd

    qf, nf = side_frames
    q_side = _collect(qf)
    n_side = q_side if nf is qf or q_side is None else _collect(nf)
    if q_side is None or n_side is None:
        return None
    bc = spark.sparkContext.broadcast((q_side, n_side))

    @F.pandas_udf("double")
    def cos(qs: pd.Series, ns: pd.Series) -> pd.Series:
        (qidx, qmat, qodd), (nidx, nmat, nodd) = bc.value
        qi = qs.map(qidx).to_numpy(dtype=np.float64, na_value=np.nan)
        ni = ns.map(nidx).to_numpy(dtype=np.float64, na_value=np.nan)
        ok = ~(np.isnan(qi) | np.isnan(ni))
        out = np.empty(len(qs), dtype=object)
        out[np.flatnonzero(ok)] = _cosine_rows(
            qmat[qi[ok].astype(np.int64)], nmat[ni[ok].astype(np.int64)])
        for j in np.flatnonzero(~ok):
            a = qodd.get(int(qs.iloc[j])) if np.isnan(qi[j]) \
                else qmat[int(qi[j])]
            b = nodd.get(int(ns.iloc[j])) if np.isnan(ni[j]) \
                else nmat[int(ni[j])]
            out[j] = _cosine_pair(a, b)
        return pd.Series(out, dtype="float64")

    return cos


def lsh_topk(
    queries: DataFrame, corpus: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, dim: int = 16, n_tables: int = 8, n_bits: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
    plane_scheme: str = "md5_uniform",
) -> DataFrame:
    """Approximate cosine top-k: candidates = corpus rows sharing any
    sketch-table bucket with the query; exact cosine + rank inside the
    candidate set. Recall grows with ``n_tables``; cost stays linear.

    ``max_bucket_size`` guards against degenerate buckets on the corpus
    side (e.g. the all-zeros region): larger buckets are excluded from
    candidate generation with a logged drop
    (:func:`~chronominer_spark.operators.dedup.drop_hot_buckets`) — the
    affected vectors can still be found through their other tables.

    Shuffle discipline: the bucket self-join, the candidate ``distinct``
    and the (eager) lineage-truncating checkpoint all carry ONLY
    ``(id, bucket)`` / ``(query_id, neighbor_id)`` — never the embedding
    vectors. Vectors are re-joined by key after candidate generation,
    exactly once per surviving pair (the same pattern as
    ``dedup.lsh_candidate_pairs``). Carrying vectors through the
    candidate set multiplied shuffle/checkpoint bytes by 2×dim per pair
    and caused a measured 2× regression at sf0.1.

    When ``queries is corpus`` (the near-dup self-join), the corpus is
    sketched ONCE and the persisted (id, bucket) frame serves both join
    sides — the second full sketch pass of the identical plan was pure
    duplicate compute (guide §1.2: don't compute things twice).

    Verification resolves vectors from broadcast id→vector matrices
    inside the cosine UDF (:func:`_np_cosine_lookup_udf`) when both
    sides fit :data:`BROADCAST_VECTOR_BYTES` at ``dim`` float64s per
    vector; the candidate pair set then crosses no exchange until the
    final ranking window. A larger side logs a warning and re-attaches
    vectors by shuffled joins on id — the scale-safe path. Both paths
    produce identical rows (pytest-asserted)."""
    planes = [
        [_hyperplane(seed, t, b, dim, plane_scheme) for b in range(n_bits)]
        for t in range(n_tables)
    ]
    sketch = _np_sketch_udf(planes)

    def bucketize(df: DataFrame, name: str) -> DataFrame:
        # only (id, bucket) leaves this projection — the vector is
        # consumed by the sketch and projected away before any shuffle
        return df.select(
            F.col(id_col).alias(name),
            F.explode(sketch(F.col(vec_col))).alias("bucket"),
        )

    self_join = queries is corpus
    cb = bucketize(corpus, "neighbor_id")

    cached = None
    if max_bucket_size is not None:
        from pyspark import StorageLevel
        cached = cb = cb.persist(StorageLevel.MEMORY_AND_DISK)
    # the query side reuses the corpus sketch verbatim on a self-join
    # (same ids, same planes — only the column name differs); with the
    # guard armed the persisted frame makes the reuse physical — the
    # corpus is sketched ONCE instead of twice
    qb = (
        cb.select(F.col("neighbor_id").alias("query_id"), "bucket")
        if self_join else bucketize(queries, "query_id")
    )
    if max_bucket_size is not None:
        cb, _, _ = drop_hot_buckets(cb, ["bucket"], max_bucket_size,
                                    "lsh_topk")

    cand = (
        qb.join(cb, on="bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if cached is not None:
        # release the corpus-bucket cache: truncate lineage at the
        # (bounded, id-pairs-only) candidate set, then unpersist — a
        # long-lived session must not accumulate one MEMORY_AND_DISK
        # frame per call. localCheckpoint blocks are context-cleaned on
        # GC, unlike CacheManager entries.
        cand = cand.localCheckpoint(eager=True)
        cached.unpersist()
    # resolve vectors once per surviving candidate pair: from broadcast
    # matrices inside the cosine UDF when both id→vector sides fit the
    # Spark-driver budget (only the id pair crosses the Arrow boundary,
    # guide §8), otherwise by shuffled re-attach joins on id — still linear
    # in candidates, never in the corpus cross product.
    qvec = queries.select(F.col(id_col), F.col(vec_col))
    nvec = qvec if self_join else corpus.select(F.col(id_col), F.col(vec_col))
    cap = BROADCAST_VECTOR_BYTES // (8 * dim)
    cos = _np_cosine_lookup_udf(queries.sparkSession, (qvec, nvec), cap)
    if cos is not None:
        return _top_k(cand, cos(F.col("query_id"), F.col("neighbor_id")), k)
    logger.warning(
        "lsh_topk: an id→vector side exceeds %d vectors (%d B at "
        "dim=%d); verifying through the shuffled re-attach",
        cap, BROADCAST_VECTOR_BYTES, dim,
    )
    qv = qvec.select(F.col(id_col).alias("query_id"),
                     F.col(vec_col).alias("__query_id_v"))
    nv = nvec.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("__neighbor_id_v"))
    cand = cand.join(qv, on="query_id").join(nv, on="neighbor_id")
    cos = _np_cosine_udf()
    return _top_k(cand, cos(F.col("__query_id_v"), F.col("__neighbor_id_v")),
                  k)


def embedding_near_dups(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, dim: int = 16, n_tables: int = 6,
    n_bits: int = 10, seed: int = 7,
    plane_scheme: str = "md5_uniform",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, via the same
    hyperplane bucketing (self-join) + exact verify. The self-join path
    sketches the corpus once and size-guards the vector broadcast (see
    :func:`lsh_topk`)."""
    pairs = lsh_topk(
        df, df, id_col=id_col, vec_col=vec_col, k=50,
        dim=dim, n_tables=n_tables, n_bits=n_bits, seed=seed,
        plane_scheme=plane_scheme,
    )
    return (
        pairs.where((F.col("cosine") >= threshold)
                    & (F.col("query_id") < F.col("neighbor_id")))
        .select(F.col("query_id").alias("id_a"),
                F.col("neighbor_id").alias("id_b"), "cosine")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — build and search as separate jobs
# --------------------------------------------------------------------------

def ivf_train(
    corpus: DataFrame, vec_col: str = "embedding",
    n_centroids: int = 16, sample_fraction: float = 0.2,
    seed: int = 42, iters: int = 3,
) -> list[list[float]]:
    """K-means centroids on a deterministic corpus sample. The sample is
    hard-capped driver-sized (≤20k vectors), so Lloyd iterations run in
    driver numpy — training is the one deliberately driver-side step;
    assignment and search stay distributed."""
    sample_rows = (
        corpus.select(vec_col)
        .sample(fraction=sample_fraction, seed=seed)
        .limit(20_000)
        .collect()
    )
    x = np.array([r[vec_col] for r in sample_rows], dtype=float)
    if len(x) < n_centroids:
        n_centroids = max(1, len(x))
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), n_centroids, replace=False)]
    for _ in range(iters):
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = (xn @ cn.T).argmax(axis=1)
        for ci in range(n_centroids):
            members = x[assign == ci]
            if len(members):
                cent[ci] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cent]


def _nearest_cells(
    vec_col, cents_col: str, top: int, sim_round: int | None = None,
) -> F.Column:
    """Top cells by dot product against the broadcast centroid matrix;
    ties break toward the larger cell id (array_sort + reverse), which
    is deterministic across engines and parallelism. ``sim_round``
    rounds the dot product before ordering so summation-order float
    noise (last-bit differences between engines / parallelism levels)
    can never flip a cell assignment — required for exact cross-engine
    oracle mirroring (q31)."""
    v = F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda x: x.cast("double"),
    )

    def _sim(c):
        s = F.aggregate(F.zip_with(v, c, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x)
        return F.round(s, sim_round) if sim_round is not None else s

    sims = F.transform(
        F.col(cents_col),
        lambda c, ci: F.struct(_sim(c).alias("s"), ci.alias("cell")),
    )
    return F.slice(F.reverse(F.array_sort(sims)), 1, top)


def ivf_build_index(
    corpus: DataFrame, centroids: list[list[float]],
    id_col: str = "vec_id", vec_col: str = "embedding",
    sim_round: int | None = None,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid cell. Returns
    (neighbor_id, __cv, cell) — an ordinary DataFrame: write it out
    partitioned by ``cell`` to make the index a reusable table and the
    per-cell search a partition-pruned scan."""
    with_cents = _broadcast_nested(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv")),
        "__cents", centroids, depth=2,
    )
    return with_cents.select(
        "neighbor_id", "__cv",
        F.element_at(
            _nearest_cells("__cv", "__cents", 1, sim_round), 1
        )["cell"].alias("cell"),
    )


def ivf_search(
    queries: DataFrame, index: DataFrame, centroids: list[list[float]],
    id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_probe: int = 3, sim_round: int | None = None,
) -> DataFrame:
    """Probe each query's ``n_probe`` nearest cells of a prebuilt index
    and rank exact cosine within those cells — cost ~ corpus/centroids ×
    n_probe per query instead of the full corpus. Scoring and ranking
    are the family's own :func:`_np_cosine_udf` and :func:`_top_k`."""
    probed = _broadcast_nested(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv")),
        "__cents", centroids, depth=2,
    ).select(
        "query_id", "__qv",
        F.explode(
            F.transform(_nearest_cells("__qv", "__cents", n_probe, sim_round),
                        lambda s: s["cell"])
        ).alias("cell"),
    )
    pairs = (
        probed.join(index, on="cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    cos = _np_cosine_udf()
    return _top_k(pairs, cos(F.col("__qv"), F.col("__cv")), k).distinct()


def ivf_topk(
    queries: DataFrame, corpus: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_centroids: int = 16, n_probe: int = 3,
    sample_fraction: float = 0.2, seed: int = 42, iters: int = 3,
) -> DataFrame:
    """One-shot IVF ANN: train + build + search in a single call."""
    centroids = ivf_train(corpus, vec_col, n_centroids,
                          sample_fraction, seed, iters)
    index = ivf_build_index(corpus, centroids, id_col, vec_col)
    return ivf_search(queries, index, centroids, id_col, vec_col, k, n_probe)
