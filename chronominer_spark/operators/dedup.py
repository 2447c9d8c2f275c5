"""Deduplication family for large-scale training-data pipelines.

Exact and near-dup detection over a documents table, all expressed as
DataFrame plans that scale by shuffling only hashes, never by
comparing all pairs:

- :func:`exact_dedup`          hash-groupBy (md5 of normalized text)
- :func:`shingle_hash_docs`    the one shingle representation of the
  near-dup family: per doc, the md5 halves of its distinct word
  k-shingles
- :func:`minhash_signatures`   Kirsch–Mitzenmacher MinHash over those
  halves; md5-derived, so engine-portable (the same signature is
  computable in DuckDB for the correctness oracle)
- :func:`lsh_candidate_pairs`  banded LSH over the signature -> candidate
  pairs via bucket self-join (never O(n^2))
- :func:`drop_hot_buckets`     the hot-bucket guard shared by every LSH
  self-join (MinHash bands, hyperplane sketches, streaming compaction)
- :func:`ngram_jaccard_pairs`  exact Jaccard on shingle-hash sets for a
  given candidate pair set (verification step after LSH)
- :func:`prefix_jaccard_pairs` exact all-pairs Jaccard join by prefix
  filtering
- :func:`simhash`              64-bit SimHash via per-bit majority vote,
  computed with JVM bit ops (no UDF)

The near-dup family owns ONE tokenizer (:func:`_shingles`), ONE
shingle hash (:func:`_shingle_halves`) and ONE MinHash fold
(:func:`_minhash_fold`); every Arrow UDF here is a thin wrapper over
them. :func:`word_shingles` is the Catalyst form of the tokenizer,
kept as the reference the kernels are pytest-asserted against.
Embedding near-dups live in
:func:`chronominer_spark.operators.similarity.embedding_near_dups`.

The reference's dedup is key-based last-wins (``/root/reference/modules/
extract/batch_output.py:108-128``) — covered by
:func:`chronominer_spark.operators.assembly.last_wins_dedup`; the
content-based families here are the scale extension a 100 TB corpus
needs.
"""

from __future__ import annotations

import hashlib
import logging
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronominer_spark.functions.text import normalize_text

logger = logging.getLogger(__name__)


def content_key(text_col, normalize: bool = True) -> F.Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if normalize:
        c = normalize_text(c)
    return F.md5(F.coalesce(c, F.lit("")))


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalize: bool = True
) -> DataFrame:
    """Keep one row per distinct (normalized) content, the smallest id
    winning (deterministic; id ties break on the remaining columns).
    Adds ``dup_count`` = group size.

    ONE hash aggregate: ``min(struct(id, payload))`` + ``count`` per
    content key — duplicate groups collapse map-side (partial agg) and
    nothing is sorted, unlike a ``row_number`` window, which would
    shuffle every full row keyed by content hash and then SORT within
    groups (a scale-killer at corpus size; the same join/window →
    struct-agg collapse that won 3× on the equality engine).
    Falls back to the window plan only for unorderable column types
    (maps cannot ride a comparable struct)."""
    keyed = df.withColumn("__ck", content_key(text_col, normalize))
    from pyspark.sql.types import MapType
    if any(isinstance(f.dataType, MapType) for f in df.schema.fields):
        w = W.partitionBy("__ck").orderBy(F.col(id_col).asc())
        return (
            keyed.withColumn("__rn", F.row_number().over(w))
            .withColumn("dup_count",
                        F.count(F.lit(1)).over(W.partitionBy("__ck")))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__ck")
        )
    others = [c for c in df.columns if c != id_col]
    won = keyed.groupBy("__ck").agg(
        F.min(F.struct(F.col(id_col), *[F.col(c) for c in others]))
        .alias("__w"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return won.select(
        *[F.col(f"__w.{c}").alias(c) for c in df.columns], "dup_count"
    )


def word_shingles(text_col, k: int = 3) -> F.Column:
    """Distinct word k-shingles of the normalized text (array<string>),
    as a Catalyst expression: the reference the Arrow kernel below is
    pytest-asserted against, and the expression the DuckDB oracles
    mirror.

    Tokenization is a single regex split on ``\\s+`` over
    lower(trim(text)) — equivalent to collapsing whitespace first but
    one regex pass instead of two."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(F.lower(F.trim(F.coalesce(c, F.lit("")))), r"\s+")
    n = F.size(words)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )
    return F.array_distinct(
        F.when(n >= k, shingles).otherwise(F.array(F.array_join(words, " ")))
    )


MINHASH_PRIME = 1_000_000_007

_WS = re.compile(r"\s+", re.ASCII)


def _shingles(text: str | None, k: int) -> list[str]:
    """The one tokenizer: the plain-Python twin of :func:`word_shingles`
    for one text. Semantics mirror the Catalyst expression exactly for
    the data this engine processes:

    - ``lower(trim(coalesce(text, '')))`` → NULL text becomes '',
      ``str.strip(' ')`` strips the 0x20 space char only (Spark's
      ``trim``), ``str.lower()`` matches UTF8String.toLowerCase for
      ASCII (exotic locale-sensitive codepoints may case differently —
      the same caveat the DuckDB oracle already carries);
    - ``split('\\s+', limit=-1)`` with Java's ASCII ``\\s`` class —
      ``re.ASCII`` makes Python's ``\\s`` the identical
      ``[ \\t\\n\\r\\f\\v]`` set, and ``re.split`` keeps leading/
      trailing empty tokens exactly like Java ``String.split(re, -1)``;
    - k-shingles joined with ' ', first-occurrence-order dedup
      (``array_distinct`` preserves first occurrence; ``dict.fromkeys``
      ditto); docs with fewer than k words collapse to the single
      whole-doc shingle."""
    words = _WS.split(("" if text is None else text).strip(" ").lower())
    n = len(words)
    if n < k:
        return [" ".join(words)]
    return list(dict.fromkeys(
        " ".join(words[i:i + k]) for i in range(n - k + 1)))


def _shingle_halves(
    text: str | None, k: int,
) -> tuple[list[int], list[int], list[int]]:
    """The one shingle hash: md5 every shingle of one text ONCE and
    return three parallel lists over the deduped shingle set —

    - ``h1``/``h2``: the two 60-bit md5 halves mod ``MINHASH_PRIME``,
      exactly ``conv(substring(md5(s), 1, 15), 16, 10) % P`` /
      ``substring(md5(s), 17, 15)`` — the Kirsch–Mitzenmacher inputs
      of :func:`_minhash_fold` (and of the q18/q19 DuckDB oracles);
    - ``hs``: the raw first 60-bit md5 half — a distinct-preserving
      (w.h.p., ~s²·2⁻⁶⁰ per doc pair) stand-in for the shingle string
      in Jaccard verification and in the prefix index (see the
      collision caveat on :func:`ngram_jaccard_pairs`)."""
    P = MINHASH_PRIME
    h1: list[int] = []
    h2: list[int] = []
    hs: list[int] = []
    for s in _shingles(text, k):
        d = hashlib.md5(s.encode("utf-8")).hexdigest()
        a = int(d[0:15], 16)
        h1.append(a % P)
        h2.append(int(d[16:31], 16) % P)
        hs.append(a)
    return h1, h2, hs


def _minhash_fold(h1, h2, lens: list, num_hashes: int) -> pd.Series:
    """The one MinHash fold over an Arrow batch: ``h1``/``h2`` hold the
    md5 halves of every row's shingles, concatenated row after row, and
    ``lens[i]`` is row i's shingle count (None for a NULL row). Per row,
    ``sig[i] = min over shingles of (h1 + i·h2) mod P`` — one flat
    numpy broadcast + ``minimum.reduceat`` for the whole batch. Integer
    math only, so it is bit-identical to the Catalyst ``aggregate``
    fold (pytest-asserted). A NULL row yields a NULL signature; an
    EMPTY row yields the all-``MINHASH_PRIME`` fold init."""
    P = MINHASH_PRIME
    init = [P] * num_hashes
    out = [None if n is None else init for n in lens]
    rows = [i for i, n in enumerate(lens) if n]
    if rows:
        h1 = np.asarray(h1, dtype=np.int64)[:, None]
        h2 = np.asarray(h2, dtype=np.int64)[:, None]
        perms = (h1 + np.arange(num_hashes, dtype=np.int64) * h2) % P
        starts = np.cumsum([0] + [lens[i] for i in rows[:-1]])
        mins = np.minimum.reduceat(perms, starts, axis=0).tolist()
        for i, m in zip(rows, mins):
            out[i] = m
    return pd.Series(out)


def _np_shingles_udf(k: int):
    """Arrow UDF: the shingle strings of :func:`_shingles` (array<string>).
    Only decontamination needs the strings — its exact n-gram match
    against a benchmark set is a string contract."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def shingles(texts: pd.Series) -> pd.Series:
        return pd.Series([_shingles(t, k) for t in texts])

    return shingles


def shingle_docs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """One row per doc: (id_col, ``shingles`` array<string>), the
    :func:`word_shingles` set computed by the Arrow tokenizer. Used by
    :mod:`~chronominer_spark.operators.decontam`; the near-dup family
    reads :func:`shingle_hash_docs` instead."""
    return df.select(
        F.col(id_col), _np_shingles_udf(k)(F.col(text_col)).alias("shingles")
    )


def _np_shingle_hash_udf(k: int):
    """Arrow UDF: :func:`_shingle_halves` per text, as a struct of three
    parallel long arrays ``h1``/``h2``/``hs``."""

    @F.pandas_udf(T.StructType([
        T.StructField("h1", T.ArrayType(T.LongType())),
        T.StructField("h2", T.ArrayType(T.LongType())),
        T.StructField("hs", T.ArrayType(T.LongType())),
    ]))
    def fused(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([_shingle_halves(t, k) for t in texts],
                            columns=["h1", "h2", "hs"])

    return fused


def shingle_hash_docs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """One row per doc: (id_col, ``__h1``, ``__h2``, ``__hs``
    array<long>) — the shingle representation the whole near-dup family
    reads (see :func:`_shingle_halves`). Compute once, persist, and pass
    it as ``hash_df`` to :func:`minhash_signatures`,
    :func:`ngram_jaccard_pairs` and :func:`prefix_jaccard_pairs`: the
    corpus is then tokenized AND hashed exactly once for the whole
    signature→band→verify pipeline, and the cache holds ~3×8 B per
    shingle instead of the shingle string."""
    return df.select(
        F.col(id_col), _np_shingle_hash_udf(k)(F.col(text_col)).alias("__f")
    ).select(
        F.col(id_col),
        F.col("__f.h1").alias("__h1"),
        F.col("__f.h2").alias("__h2"),
        F.col("__f.hs").alias("__hs"),
    )


def _np_minhash_from_halves_udf(num_hashes: int):
    """Arrow UDF: :func:`_minhash_fold` over the ``__h1``/``__h2``
    arrays of :func:`shingle_hash_docs` — zero tokenization or hashing."""

    def flat(rows: pd.Series) -> np.ndarray:
        return np.concatenate([np.empty(0, dtype=np.int64),
                               *(a for a in rows if a is not None)])

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(h1_rows: pd.Series, h2_rows: pd.Series) -> pd.Series:
        lens = [None if a is None else len(a) for a in h1_rows]
        return _minhash_fold(flat(h1_rows), flat(h2_rows), lens, num_hashes)

    return sig


def _np_minhash_text_udf(k: int, num_hashes: int):
    """Arrow UDF: raw text → signature in ONE Python pass
    (:func:`_shingle_halves` then :func:`_minhash_fold`), so a raw-text
    signature plan holds a single ``ArrowEvalPython`` node. Routing it
    through :func:`shingle_hash_docs` would read a struct field between
    two UDFs, which Spark cannot chain: two Python stages per batch."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        h1: list[int] = []
        h2: list[int] = []
        lens: list[int] = []
        for t in texts:
            a, b, _ = _shingle_halves(t, k)
            h1 += a
            h2 += b
            lens.append(len(a))
        return _minhash_fold(h1, h2, lens, num_hashes)

    return sig


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 3, num_hashes: int = 16,
    hash_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature via Kirsch–Mitzenmacher double
    hashing: each shingle is md5'd ONCE, split into two 60-bit halves
    (h1, h2), and the i-th permutation is ``(h1 + i·h2) mod p`` —
    ``sig[i] = min`` over shingles. One md5 per shingle instead of
    ``num_hashes`` md5s while staying engine-portable: DuckDB
    reproduces it with ``('0x' || substr(md5(s), ...))::UBIGINT`` (see
    the q18 oracle). One row per doc: (id, signature array<long>).

    Pass ``hash_df`` (from :func:`shingle_hash_docs`, ideally
    persisted) to fold its precomputed md5 halves; otherwise the text
    is shingled, hashed and folded in one Arrow pass. Both paths run
    the same tokenizer, hash and fold, so their signatures are
    bit-identical."""
    if hash_df is not None:
        return hash_df.select(
            F.col(id_col),
            _np_minhash_from_halves_udf(num_hashes)(
                F.col("__h1"), F.col("__h2")).alias("signature"),
        )
    return df.select(
        F.col(id_col),
        _np_minhash_text_udf(k, num_hashes)(F.col(text_col))
        .alias("signature"),
    )


BUCKET_SCHEME = "xxhash64-v1"


def band_buckets(
    signatures: DataFrame, id_col: str, bands: int = 4,
    num_hashes: int | None = None,
) -> DataFrame:
    """Banded-LSH bucket rows: (id, band, bucket) — ``bands`` rows per
    doc, bucket = ``xxhash64`` of the band's signature slice (a LONG).
    The shared banding of :func:`lsh_candidate_pairs` (batch self-join)
    and ``IncrementalNearDup`` (streaming new-vs-state join); both
    sides of any join MUST use identical (bands, num_hashes) AND the
    same bucket scheme (:data:`BUCKET_SCHEME` — the streaming twin
    stamps it into its state root and refuses to resume foreign state)
    or buckets never collide. ``num_hashes`` (when known) is validated
    divisible by ``bands``; the same check also runs row-level in the
    plan so a mismatched signature fails loudly instead of losing
    recall.

    The bucket value only ever groups EQUAL signature slices, so any
    injective-w.h.p. hash yields the identical candidate-pair set; a
    cross-slice collision can only ADD a candidate that downstream
    exact verification rejects. Round 7 swapped the md5 hex string
    (32 chars, one JVM md5 per doc-band) for ``xxhash64`` (8-byte
    long): the banding exchange/persist carries ~4× fewer key bytes
    and no md5 compute — measured q19 pair stage −1.7 s at the 500k-doc
    upsample with byte-identical verified output."""
    if num_hashes is not None and num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands}: "
            "trailing signature entries would be excluded from banding"
        )
    sig = signatures.select(F.col(id_col).alias("id"), "signature")
    n = F.size("signature")
    r = (n / bands).cast("int")
    # row-level guard woven into the bucket value (so Catalyst cannot
    # prune it): a signature whose length is not divisible by bands
    # fails the job instead of silently shrinking each band
    guard = F.when(n % bands == 0, F.lit("")).otherwise(
        F.raise_error(F.concat(
            F.lit(f"signature length not divisible by bands={bands}: "),
            n.cast("string"),
        ))
    )
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat(
                        F.array_join(
                            F.transform(F.slice("signature", b * r + 1, r),
                                        lambda x: x.cast("string")),
                            ",",
                        ),
                        guard,
                    )).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def drop_hot_buckets(
    frame: DataFrame, keys: list[str], max_bucket_size: int, who: str,
) -> tuple[DataFrame, int, int]:
    """The hot-bucket guard of both LSH families (MinHash bands here,
    hyperplane sketches in :func:`~chronominer_spark.operators.similarity.lsh_topk`,
    and the streaming state compaction): one degenerate bucket (e.g.
    thousands of boilerplate docs or all-zero vectors) would reintroduce
    O(B²) pairs in a bucket self-join, so every ``keys`` group holding
    more than ``max_bucket_size`` rows of ``frame`` is EXCLUDED, and the
    drop is logged as ``<who>: dropping N hot bucket(s)`` with bucket and
    row counts — never a silent cap. Members of a dropped bucket can
    still pair through their other buckets.

    The HOT set is materialized once (eager ``localCheckpoint``: one
    aggregate over ``frame``; tiny by construction — each entry is an
    entire dropped bucket), then applied as ONE broadcast anti-join.
    anti(hot) ≡ semi(ok): the sizes partition every group into ≤cap /
    >cap, so the output equals the shuffled left-semi against the ≤cap
    list, whose aggregate subtree was re-planned under both sides of
    the caller's self-join (guide §2.4, §3.1).

    Returns ``(kept, n_buckets, n_rows)``: ``frame`` minus the hot
    groups, and the number of groups and rows dropped."""
    hot = (
        frame.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .where(F.col("__bsz") > max_bucket_size)
        .localCheckpoint(eager=True)
    )
    dropped = hot.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum("__bsz"), F.lit(0)).alias("n_rows"),
    ).collect()[0]
    n_buckets, n_rows = int(dropped["n_buckets"]), int(dropped["n_rows"])
    if n_buckets:
        logger.warning(
            "%s: dropping %d hot bucket(s) covering %d rows (> "
            "max_bucket_size=%d); members may still pair via other buckets",
            who, n_buckets, n_rows, max_bucket_size,
        )
    kept = frame.join(F.broadcast(hot.select(*keys)), on=list(keys),
                      how="left_anti")
    return kept, n_buckets, n_rows


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, bands: int = 4,
    num_hashes: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` bands, hash each
    band, self-join docs sharing any band bucket. Returns distinct
    (id_a, id_b) with id_a < id_b. Shuffle volume = docs × bands rows of
    (bucket, id) — linear, never the cross product.

    ``num_hashes`` (when known) is validated to be divisible by
    ``bands`` — otherwise trailing signature entries would silently be
    excluded from banding; the same check runs row-level in the plan so
    a mismatched signature fails loudly instead of losing recall.

    ``max_bucket_size`` arms the hot-bucket guard,
    :func:`drop_hot_buckets`, over the (band, bucket) groups. Pass
    ``None`` to disable (exact small-scale runs)."""
    banded = band_buckets(signatures, id_col, bands, num_hashes)

    cached = None
    if max_bucket_size is not None:
        from pyspark import StorageLevel
        cached = banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        banded, _, _ = drop_hot_buckets(banded, ["band", "bucket"],
                                        max_bucket_size, "lsh_candidate_pairs")

    a = banded.alias("a")
    b = banded.alias("b")
    out = (
        a.join(b, on=["band", "bucket"], how="inner")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if cached is not None:
        # release the banded cache once the candidate pairs are
        # materialized: force the join here (the pair set is small by
        # construction), then unpersist — a long-lived session must not
        # accumulate MEMORY_AND_DISK blocks per call. localCheckpoint
        # blocks are context-cleaned on GC, unlike CacheManager entries.
        out = out.localCheckpoint(eager=True)
        cached.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    pairs: DataFrame, k: int = 3,
    min_jaccard: float | None = None,
    hash_df: DataFrame | None = None,
    pairs_materialized: bool = False,
) -> DataFrame:
    """Jaccard similarity on word k-shingle sets for the given candidate
    (id_a, id_b) pairs — the verify step after LSH. Computed
    set-algebraically: |A∩B| by a per-pair ``array_intersect`` of the
    two shingle-hash arrays, |A∪B| = |A|+|B|−|A∩B|.

    ``min_jaccard`` arms a DETERMINISTIC size-bound prefilter (round-5
    verdict item 8): ``|A∩B| ≤ min(|A|,|B|)`` implies ``jaccard ≤
    min(|A|,|B|) / max(|A|,|B|)``, so a candidate pair whose size ratio
    is already below the threshold can NEVER qualify and is dropped
    BEFORE the expensive exploded-shingle intersection join — only its
    two size ints are ever read. Unlike the signature-estimated-Jaccard
    band originally proposed (16 minhash agreements ⇒ σ≈0.1 at j=0.2 —
    any band either misdecides pairs or verifies nearly everything),
    the size bound is exact, so the surviving-pair OUTPUT is
    byte-identical to the unfiltered plan filtered at the same
    threshold (A/B'd in ``git show 4ff6869:tools/ab_jaccard_sizefilter.py``).
    With ``min_jaccard=None`` every candidate pair is verified and returned
    (below-threshold rows included), the previous contract.

    The intersection runs on the 60-bit md5-half ``hs`` shingle hashes
    of :func:`shingle_hash_docs`, not the shingle strings (~3× less
    shuffle), so the result is exact only up to hash collisions: a
    colliding pair of distinct shingles across a candidate pair
    inflates |A∩B| by 1. With s shingles per doc the per-pair
    false-intersection probability is ~s²·2⁻⁶⁰ — negligible at corpus
    scale but not zero.

    Plan discipline (round 7): the candidate list is referenced by
    several plan branches (participating ids, size prefilter,
    intersection counts, final assembly) and is small by construction
    (pairs, not corpus rows), so it is EAGERLY localCheckpoint'ed —
    one materialization, flat downstream plans, and the blocks are
    context-cleaned on GC (the previous MEMORY_AND_DISK persists were
    never released — a long-lived session leaked one cache entry per
    call). The id sets derived from it (``participating``,
    ``surviving``) and the pair side of the intersection join carry
    the same bound and are broadcast-hinted (guide §3.1), so the
    shingle cache is filtered in place and the exploded shingle table
    is never shuffled for the semi-restrictions.

    Pass ``hash_df`` (from :func:`shingle_hash_docs`, ideally
    persisted) when the pipeline already hashed the corpus for MinHash:
    the verify stage then does NO tokenization or hashing at all. Without
    it, only the docs that participate in a candidate pair are shingled
    and hashed, by the same kernel. Sizes are ``size(__hs)`` (the
    shingles are deduped before hashing, so they equal the
    :func:`word_shingles` set sizes).
    ``pairs_materialized=True`` skips the defensive eager checkpoint
    when the caller's pair frame is already materialized (e.g. the
    checkpointed output of :func:`lsh_candidate_pairs`) — one fewer
    job per pipeline."""
    if not pairs_materialized:
        pairs = pairs.localCheckpoint(eager=True)

    # restrict to docs that participate in a candidate pair — after
    # LSH the candidate set is typically a small fraction of the corpus
    participating = F.broadcast(
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    if hash_df is None:
        hash_df = shingle_hash_docs(
            df.join(participating.select(F.col("id").alias(id_col)),
                    on=id_col, how="left_semi"),
            id_col, text_col, k)
    sh = (
        hash_df.select(F.col(id_col).alias("id"), "__hs")
        .join(participating, on="id", how="left_semi")
        .withColumn("__n", F.size("__hs"))
    )
    sizes = sh.select("id", "__n")

    if min_jaccard is not None:
        # size-bound prefilter: attach the two size ints first (a join
        # against a one-int-per-doc frame — computing __n builds the
        # shingle arrays but never explodes or shuffles them) and drop
        # pairs that cannot reach the threshold. The survivors are
        # eagerly checkpointed (small: a subset of the candidate
        # pairs), and the expensive exploded-shingle stage below is
        # then restricted to docs that still participate in SOME
        # surviving pair.
        pairs = (
            pairs
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("__n").alias("na")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("__n").alias("nb")), "id_b")
            .where(F.least("na", "nb")
                   >= F.lit(float(min_jaccard)) * F.greatest("na", "nb"))
            .localCheckpoint(eager=True)
        )
        sized = pairs
        surviving = F.broadcast(
            pairs.select(F.col("id_a").alias("id"))
            .union(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh = sh.join(surviving, on="id", how="left_semi")
    else:
        sized = (
            pairs
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("__n").alias("na")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("__n").alias("nb")), "id_b")
        )

    # |A∩B| on 60-bit shingle hashes (same distinct counts as strings
    # w.h.p. — the long-documented collision caveat), computed per pair
    # with array_intersect after attaching the hash arrays to the
    # broadcast pair set. The previous formulation exploded every
    # participating doc's shingles and shuffled ~2 skinny rows per
    # (doc, shingle) through a two-key join; the array form moves each
    # doc's hash array exactly once through two pair-attach joins and
    # never exchanges per-shingle rows (guide §2.3/§8: decide on
    # lightweight proxies, move payloads once).
    harr = sh.select("id", "__hs")
    inter = (
        F.broadcast(pairs.select("id_a", "id_b"))
        .join(harr.select(F.col("id").alias("id_a"),
                          F.col("__hs").alias("__ha")), on="id_a")
        .join(harr.select(F.col("id").alias("id_b"),
                          F.col("__hs").alias("__hb")), on="id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("__ha", "__hb")).alias("inter"),
        )
    )
    out = (
        sized.join(inter, on=["id_a", "id_b"], how="left")
        .fillna(0, ["inter"])
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
    )
    return out.select("id_a", "id_b", "inter", "na", "nb", "jaccard")


def prefix_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    threshold: float, k: int = 3,
    hash_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs Jaccard self-join via prefix filtering (the
    AllPairs/PPJoin family of set-similarity joins) — guaranteed to
    emit EVERY pair with ``jaccard >= threshold``, the deterministic
    complement to the probabilistic MinHash-LSH path
    (:func:`lsh_candidate_pairs`), which can miss true pairs with
    banding probability. Returns (id_a, id_b, inter, na, nb, jaccard)
    with ``id_a < id_b``.

    Prefix-filter principle: order every doc's shingle set by ONE
    global total order; if ``J(A, B) >= t`` then A and B must share at
    least one shingle within their first ``p = n - ceil(t*n) + 1``
    shingles (dropping the last n-p elements of A can erase at most
    n-p intersections, and J >= t forces the intersection to be larger
    than that). So candidate generation = self-join on PREFIX tokens
    only, then exact verification — never O(n²) and never lossy. The
    argument holds for ANY global total order, so the emitted pairs do
    not depend on which one is chosen.

    Scale posture (100 TB): tokens are the ``__hs`` shingle hashes of
    :func:`shingle_hash_docs` (pass it as ``hash_df``, ideally
    persisted, to share it with the verify stage) and the global order
    is ascending document frequency, ties on the hash, so prefixes hold
    each doc's RAREST shingles — posting lists in the prefix inverted
    index are short by construction, and the index itself holds only
    ~(1-t)·total tokens. The size filter
    ``min(na, nb) >= t * max(na, nb)`` (a necessary condition for
    J >= t) prunes candidates before the distinct. The per-doc prefix
    is selected with a window partitioned by doc id — bounded,
    doc-sized groups, no global sort. Verification
    (:func:`ngram_jaccard_pairs`) runs only over surviving candidate
    ids. The q45 DuckDB oracle orders its prefixes by (frequency,
    shingle string) instead and reaches the same pair set."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if hash_df is None:
        hash_df = shingle_hash_docs(df, id_col, text_col, k)
    ex = hash_df.select(
        F.col(id_col).alias("id"), F.size("__hs").alias("n"),
        F.explode("__hs").alias("tok"))
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("__dfq"))
    w = W.partitionBy("id").orderBy(F.col("__dfq").asc(), F.col("tok").asc())
    ranked = ex.join(freq, "tok").withColumn("__rn", F.row_number().over(w))
    plen = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + F.lit(1)
    pre = ranked.where(F.col("__rn") <= plen).select("id", "tok", "n")

    a = pre.alias("a")
    b = pre.alias("b")
    cand = (
        a.join(b, on=[F.col("a.tok") == F.col("b.tok"),
                      F.col("a.id") < F.col("b.id")])
        .where(F.least(F.col("a.n"), F.col("b.n"))
               >= F.lit(threshold) * F.greatest(F.col("a.n"), F.col("b.n")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    verified = ngram_jaccard_pairs(df, id_col, text_col, cand, k=k,
                                   hash_df=hash_df)
    return verified.where(F.col("jaccard") >= threshold)


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 20, on_nonconverged: str = "raise",
    shortcut: bool = False,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    canonicalization step after :func:`lsh_candidate_pairs` /
    :func:`embedding_near_dups`: every document in a component gets
    ``cluster_id`` = the component's smallest member id, so "keep one
    per cluster" is a filter on ``id == cluster_id``.

    Iterative min-label propagation (the standard Spark CC formulation
    absent a graph library): each round, every node takes the min of
    its own label and its neighbors' labels; converges in O(component
    diameter) rounds — near-dup components are shallow (copies of a
    common original), so typically 2–3. Per round: one equi-join on the
    (deduplicated, bidirectional) edge list + one min-aggregate — all
    hash-partitioned on node id, no global structure. The loop is
    driver-side but touches only per-round CHANGE COUNTS (a 1-row
    aggregate), never rows; labels are localCheckpoint'ed each round so
    lineage stays flat across iterations.

    ``shortcut=True`` adds a pointer-jumping step per round
    (``label ← label(label)``, one extra self-equi-join on the compact
    label table): pointer depth halves each round, so a path component
    of diameter d converges in O(log d) rounds instead of O(d) — the
    right mode when chains may be deep (adversarial near-dup chains at
    corpus scale). Off by default: near-dup components are typically
    2–3 hops and the extra join is pure overhead there. Both modes
    reach the identical fixed point.

    Convergence is a CONTRACT, not a hope: if ``max_iter`` rounds pass
    without reaching a fixed point (a similarity chain longer than
    ``max_iter`` hops — e.g. doc0~doc1~...~docN with N > max_iter), the
    labels are WRONG (one component split into several), so the default
    ``on_nonconverged="raise"`` fails loudly with the residual change
    count. ``on_nonconverged="warn"`` logs and returns the partial
    labels for callers that prefer availability (e.g. exploratory runs);
    there is no silent path.

    Returns (id, cluster_id) for every node that appears in a pair;
    singletons (docs with no near-dup) are absent by construction —
    union them in with ``cluster_id = id`` if a total mapping is
    needed."""
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    from pyspark import StorageLevel
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)

    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels.select(F.col("id").alias("dst"),
                                     F.col("label").alias("__dl")), on="dst")
            .groupBy("src").agg(F.min("__dl").alias("__nl"))
        )
        new_labels = (
            labels.join(neigh.select(F.col("src").alias("id"), "__nl"),
                        on="id", how="left")
            .select("id", F.least(F.col("label"),
                                  F.coalesce("__nl", "label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        if shortcut:
            # pointer jumping over the (already materialized) label
            # table: my new label = min(label, label-of-my-label)
            ll = new_labels.select(F.col("id").alias("label"),
                                   F.col("label").alias("__ll"))
            new_labels = (
                new_labels.join(ll, on="label", how="left")
                .select("id", F.least(F.col("label"),
                                      F.coalesce("__ll", "label"))
                        .alias("label"))
                .localCheckpoint(eager=True)
            )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        msg = (
            f"dedup_clusters: min-label propagation did NOT converge within "
            f"max_iter={max_iter} rounds (labels still changing) — a "
            f"similarity chain longer than max_iter hops exists; returned "
            f"cluster ids would split that component. Raise max_iter."
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        logger.warning(msg)
    return labels.select("id", F.col("label").alias("cluster_id"))


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Per-document SimHash: hash every word, take the per-bit majority
    vote over the word multiset. All JVM bit ops — explode +
    conditional sums, no Python. Adds ``simhash`` (long).

    ``portable=True`` switches the word hash from xxhash64 to the
    md5-derived 60-bit scheme MinHash uses (``('0x'||substr(md5(w),1,15))``
    in DuckDB), making the sketch bit-identical across engines so the
    driver oracle can verify it; requires ``bits <= 60``."""
    if portable and bits > 60:
        raise ValueError("portable simhash supports at most 60 bits (md5 prefix)")
    words = df.select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), r"\s+")).alias("w")
    )
    if portable:
        words = words.withColumn(
            "h", F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
        )
    else:
        words = words.withColumn("h", F.xxhash64("w"))
    bit_sums = words.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ])
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc + F.when(F.col(f"b{b}") > 0,
                           F.lit(1).cast("long") * (2 ** b if b < 63 else -(2 ** 63))
                           ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select(F.col(id_col), acc.alias("simhash"))


def hamming_distance(a, b) -> F.Column:
    """Popcount of XOR via bit_count (Spark builtin)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))
