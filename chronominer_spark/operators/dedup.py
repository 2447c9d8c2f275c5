"""Deduplication family for large-scale training-data pipelines.

Exact and near-dup detection over a documents table, all expressed as
DataFrame plans that scale by shuffling only hashes/shingles, never by
comparing all pairs:

- :func:`exact_dedup`          hash-groupBy (md5 of normalized text)
- :func:`minhash_signatures`   word-shingle MinHash; hashes are
  ``md5(seed:shingle)`` strings so results are engine-portable (the same
  signature is computable in DuckDB for the correctness oracle)
- :func:`lsh_candidate_pairs`  banded LSH over the signature -> candidate
  pairs via bucket self-join (never O(n^2))
- :func:`ngram_jaccard_pairs`  exact Jaccard on shingle sets for a given
  candidate pair set (verification step after LSH)
- :func:`simhash`              64-bit SimHash via per-bit majority vote,
  computed with JVM bit ops (no UDF)
- :func:`embedding_near_dups`  cosine near-dup pairs over an embedding
  column via LSH-style random-hyperplane bucketing + in-bucket verify

The reference's dedup is key-based last-wins (``/root/reference/modules/
extract/batch_output.py:108-128``) — covered by
:func:`chronominer_spark.operators.assembly.last_wins_dedup`; the
content-based families here are the scale extension a 100 TB corpus
needs.
"""

from __future__ import annotations

import logging

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
    """Distinct word k-shingles of the normalized text (array<string>).

    Tokenization is a single regex split on ``\\s+`` over
    lower(trim(text)) — equivalent to collapsing whitespace first but
    one regex pass instead of two (this is the hot path of the dedup
    family)."""
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


def _np_shingles_udf(k: int):
    """Vectorized (Arrow) twin of :func:`word_shingles` — one Python
    pass per batch instead of the interpreted
    split→transform→array_join→array_distinct chain per row (guide
    §4.2; measured 8.2 s → ~2 s on the 50k-doc sf1.0 shingle stage).

    Semantics mirror the Catalyst expression exactly for the data this
    engine processes:
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
      whole-doc shingle.
    Equivalence is pytest-asserted against the Catalyst fold on edge
    fixtures (test_np_shingle_minhash_match_catalyst)."""
    import re

    ws = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = ("" if t is None else t).strip(" ").lower()
            words = ws.split(s)
            n = len(words)
            if n >= k:
                sh = [" ".join(words[i:i + k]) for i in range(n - k + 1)]
                out.append(list(dict.fromkeys(sh)))
            else:
                out.append([" ".join(words)])
        return pd.Series(out)

    return shingles


def shingle_docs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """One row per doc: (id_col, ``shingles`` array<string>). Compute
    once and feed both :func:`minhash_signatures` and
    :func:`ngram_jaccard_pairs` (via their ``shingles_df`` parameter) —
    shingling is the hot path of the dedup family and must not run
    twice per pipeline. Uses the vectorized Arrow twin of
    :func:`word_shingles` (identical output, pytest-asserted)."""
    return df.select(
        F.col(id_col), _np_shingles_udf(k)(F.col(text_col)).alias("shingles")
    )


MINHASH_PRIME = 1_000_000_007


def _np_shingle_hash_udf(k: int):
    """ONE Arrow pass fusing shingling + per-shingle md5 (guide §4.2 /
    §1.2: the md5 of every shingle was computed twice per pipeline —
    once in :func:`_np_minhash_udf` for signatures and again (as JVM
    ``xxhash64``) for the verify stage's intersection arrays). Emits,
    per doc, three parallel long arrays over the FIRST-OCCURRENCE-
    DEDUPED shingle set:

    - ``h1``/``h2``: the two 60-bit md5 halves mod ``MINHASH_PRIME`` —
      exactly the Kirsch–Mitzenmacher inputs of
      :func:`_np_minhash_udf`, so signatures built from them are
      bit-identical to the string path (pytest-asserted);
    - ``hs``: the raw first 60-bit md5 half — a distinct-preserving
      (w.h.p., ~s²·2⁻⁶⁰ per doc pair vs the previous xxhash64's
      ~s²·2⁻⁶⁴; both negligible and both inside the long-documented
      hash-collision caveat on :func:`ngram_jaccard_pairs`) stand-in
      for the shingle string in ``array_intersect`` verification.

    Shingle/tokenization semantics are byte-identical to
    :func:`_np_shingles_udf` (same strip/lower/ASCII-``\\s`` split and
    ``dict.fromkeys`` dedup). The persisted frame carries ~3×8 B per
    shingle instead of the shingle string — smaller cache, and the
    verify stage needs no further hashing at all."""
    import hashlib
    import re

    ws = re.compile(r"\s+", re.ASCII)
    P = MINHASH_PRIME

    @F.pandas_udf(T.StructType([
        T.StructField("h1", T.ArrayType(T.LongType())),
        T.StructField("h2", T.ArrayType(T.LongType())),
        T.StructField("hs", T.ArrayType(T.LongType())),
    ]))
    def fused(texts: pd.Series) -> pd.DataFrame:
        h1s: list = []
        h2s: list = []
        hss: list = []
        md5 = hashlib.md5
        for t in texts:
            s = ("" if t is None else t).strip(" ").lower()
            words = ws.split(s)
            n = len(words)
            if n >= k:
                sh = list(dict.fromkeys(
                    " ".join(words[i:i + k]) for i in range(n - k + 1)))
            else:
                sh = [" ".join(words)]
            h1: list = []
            h2: list = []
            hs: list = []
            for x in sh:
                d = md5(x.encode("utf-8")).hexdigest()
                a = int(d[0:15], 16)
                h1.append(a % P)
                h2.append(int(d[16:31], 16) % P)
                hs.append(a)
            h1s.append(h1)
            h2s.append(h2)
            hss.append(hs)
        return pd.DataFrame({"h1": h1s, "h2": h2s, "hs": hss})

    return fused


def shingle_hash_docs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """One row per doc: (id_col, ``__h1``, ``__h2``, ``__hs``
    array<long>) — the fused shingle+hash frame (see
    :func:`_np_shingle_hash_udf`). Compute once, persist, and feed both
    :func:`minhash_signatures` (via ``kh_df``) and
    :func:`ngram_jaccard_pairs` (via ``hash_df``): the corpus is then
    tokenized AND hashed exactly once for the whole
    signature→band→verify pipeline."""
    return df.select(
        F.col(id_col), _np_shingle_hash_udf(k)(F.col(text_col)).alias("__f")
    ).select(
        F.col(id_col),
        F.col("__f.h1").alias("__h1"),
        F.col("__f.h2").alias("__h2"),
        F.col("__f.hs").alias("__hs"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 3, num_hashes: int = 16,
    shingles_df: DataFrame | None = None,
    kh_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature via Kirsch–Mitzenmacher double
    hashing: each shingle is md5'd ONCE, split into two 60-bit halves
    (h1, h2), and the i-th permutation is ``(h1 + i·h2) mod p`` —
    ``sig[i] = min`` over shingles. One md5 per shingle instead of
    ``num_hashes`` md5s (16× less hashing on the hot path) while staying
    engine-portable: DuckDB reproduces it with
    ``('0x' || substr(md5(s), ...))::UBIGINT`` (see the q18 oracle).
    One row per doc: (id, sig array<long>).

    Pass ``shingles_df`` (from :func:`shingle_docs`) to reuse an
    already-computed (ideally persisted) shingle frame.

    The signature is computed by a vectorized Arrow twin of the
    reference Catalyst fold (md5 once per shingle, all ``num_hashes``
    permutation mins in one numpy pass — guide §4.2): pure integer
    math, so the output is bit-identical by construction and
    pytest-asserted against the fold. Edge semantics preserved: an
    EMPTY shingle array yields the all-``MINHASH_PRIME`` init
    signature; a NULL array yields a NULL signature.

    ``kh_df`` (from :func:`shingle_hash_docs`, ideally persisted) goes
    one step further than ``shingles_df``: the per-shingle md5 halves
    are already computed, so the signature is a pure numpy
    permutation-min over the ``__h1``/``__h2`` arrays — no second
    tokenization or hashing pass at all. Same integers in, same
    fold → bit-identical signatures (pytest-asserted)."""
    if kh_df is not None:
        return kh_df.select(
            F.col(id_col),
            _np_minhash_from_halves_udf(num_hashes)(
                F.col("__h1"), F.col("__h2")).alias("signature"),
        )
    if shingles_df is not None:
        sh = shingles_df.select(F.col(id_col), F.col("shingles").alias("__sh"))
    else:
        sh = df.select(
            F.col(id_col), _np_shingles_udf(k)(F.col(text_col)).alias("__sh"))
    return sh.select(
        F.col(id_col),
        _np_minhash_udf(num_hashes)(F.col("__sh")).alias("signature"),
    )


def _np_minhash_udf(num_hashes: int):
    """Vectorized Kirsch–Mitzenmacher MinHash: md5 each shingle once,
    split the hex digest into two 60-bit halves mod P (exactly
    ``conv(substring(md5(s), 1, 15), 16, 10) % P`` /
    ``substring(d, 17, 15)``), then one numpy
    ``(h1 + i·h2) mod P`` broadcast + segment-min per Arrow batch.
    Integer math only — bit-identical to the Catalyst fold it
    replaces (pytest-asserted)."""
    import hashlib

    P = MINHASH_PRIME

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(shingle_rows: pd.Series) -> pd.Series:
        idx: list[int] = []          # row index per shingle
        h1s: list[int] = []
        h2s: list[int] = []
        out: list = [None] * len(shingle_rows)
        init = [P] * num_hashes
        for i, row in enumerate(shingle_rows):
            if row is None:
                continue             # NULL array -> NULL signature
            out[i] = init            # EMPTY array -> fold init values
            for s in row:
                d = hashlib.md5(s.encode("utf-8")).hexdigest()
                idx.append(i)
                h1s.append(int(d[0:15], 16) % P)
                h2s.append(int(d[16:31], 16) % P)
        if h1s:
            h1 = np.asarray(h1s, dtype=np.int64)[:, None]
            h2 = np.asarray(h2s, dtype=np.int64)[:, None]
            perms = (h1 + np.arange(num_hashes, dtype=np.int64) * h2) % P
            ridx = np.asarray(idx, dtype=np.int64)
            starts = np.searchsorted(ridx, np.unique(ridx))
            mins = np.minimum.reduceat(perms, starts, axis=0)
            for j, i in enumerate(np.unique(ridx)):
                out[i] = mins[j].tolist()
        return pd.Series(out)

    return sig


def _np_minhash_from_halves_udf(num_hashes: int):
    """Kirsch–Mitzenmacher permutation-min over PRE-HASHED md5 halves
    (the ``__h1``/``__h2`` arrays of :func:`shingle_hash_docs`): one
    flat numpy ``(h1 + i·h2) mod P`` broadcast + ``minimum.reduceat``
    per Arrow batch and zero hashing. Identical integer math to
    :func:`_np_minhash_udf` — bit-identical signatures, same
    NULL-array → NULL / empty-array → all-``P`` init edge semantics."""
    P = MINHASH_PRIME

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(h1_rows: pd.Series, h2_rows: pd.Series) -> pd.Series:
        out: list = [None] * len(h1_rows)
        init = [P] * num_hashes
        idx: list = []
        h1_parts: list = []
        h2_parts: list = []
        for i, (a, b) in enumerate(zip(h1_rows, h2_rows)):
            if a is None:
                continue
            out[i] = init
            if len(a):
                idx.append(np.full(len(a), i, dtype=np.int64))
                h1_parts.append(np.asarray(a, dtype=np.int64))
                h2_parts.append(np.asarray(b, dtype=np.int64))
        if h1_parts:
            h1 = np.concatenate(h1_parts)[:, None]
            h2 = np.concatenate(h2_parts)[:, None]
            perms = (h1 + np.arange(num_hashes, dtype=np.int64) * h2) % P
            ridx = np.concatenate(idx)
            uniq = np.unique(ridx)
            starts = np.searchsorted(ridx, uniq)
            mins = np.minimum.reduceat(perms, starts, axis=0)
            for j, i in enumerate(uniq):
                out[i] = mins[j].tolist()
        return pd.Series(out)

    return sig


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

    ``max_bucket_size`` is the hot-bucket guard: one degenerate bucket
    (e.g. thousands of empty/boilerplate docs) would reintroduce O(B²)
    pairs in the self-join. Buckets above the cap are EXCLUDED from
    candidate generation and the drop is logged with bucket counts —
    never a silent cap. Docs in a dropped bucket can still pair through
    their other bands. Pass ``None`` to disable (exact small-scale
    runs)."""
    banded = band_buckets(signatures, id_col, bands, num_hashes)

    cached = None
    if max_bucket_size is not None:
        from pyspark import StorageLevel
        cached = banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
        # materialize the HOT bucket set once (eager checkpoint: one agg
        # over the cached band table; the set is tiny by construction —
        # each entry is an entire dropped bucket). The guard then runs
        # as ONE broadcast anti-join instead of a shuffled left-semi
        # against the full ≤cap bucket list whose aggregate subtree was
        # re-planned under BOTH sides of the self-join (guide §2.4:
        # duplicated exchanges removed; §3.1: broadcast the small side).
        # anti(hot) ≡ semi(ok): sizes partitions every (band, bucket)
        # of `banded` into ≤cap / >cap, so the two filters are
        # complementary — output identical.
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .where(F.col("__bsz") > max_bucket_size)
            .localCheckpoint(eager=True)
        )
        dropped = (
            hot.agg(F.count(F.lit(1)).alias("n_buckets"),
                    F.sum("__bsz").alias("n_rows"))
            .collect()[0]
        )
        if dropped["n_buckets"]:
            logger.warning(
                "lsh_candidate_pairs: dropping %d hot bucket(s) covering %d "
                "doc-band rows (> max_bucket_size=%d); docs may still pair "
                "via other bands",
                dropped["n_buckets"], dropped["n_rows"], max_bucket_size,
            )
        banded = banded.join(
            F.broadcast(hot.select("band", "bucket")),
            on=["band", "bucket"], how="left_anti",
        )

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
    shingles_df: DataFrame | None = None,
    min_jaccard: float | None = None,
    hash_df: DataFrame | None = None,
    pairs_materialized: bool = False,
) -> DataFrame:
    """Jaccard similarity on word k-shingle sets for the given candidate
    (id_a, id_b) pairs — the verify step after LSH. Computed
    set-algebraically: |A∩B| via an exploded shingle equi-join restricted
    to candidate pairs, |A∪B| = |A|+|B|−|A∩B|.

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

    The intersection join ships 64-bit ``xxhash64`` shingle hashes, not
    the shingle strings (~3× less shuffle), so the result is exact only
    up to hash collisions: a colliding pair of distinct shingles across
    a candidate pair inflates |A∩B| by 1. With s shingles per doc the
    per-pair false-intersection probability is ~s²·2⁻⁶⁴ — negligible at
    corpus scale but not zero; callers needing collision-free Jaccard
    should pass the strings through ``shingles_df`` verbatim and join on
    them (at ~3× the shuffle cost).

    Pass ``shingles_df`` (from :func:`shingle_docs`, ideally persisted)
    when the pipeline already shingled the corpus for MinHash — the
    corpus is then shingled once for the whole signature→band→verify
    pipeline instead of twice.

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

    ``hash_df`` (from :func:`shingle_hash_docs`, ideally persisted)
    supplies the per-shingle 60-bit md5-half arrays directly: the
    verify stage then does NO tokenization or hashing at all — sizes
    come from ``size(__hs)`` (the fused pass dedups shingles before
    hashing, so sizes match the string path) and the intersection runs
    on ``__hs`` verbatim (same w.h.p.-exact contract as hashed
    strings; see the collision caveat above).
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
    prehashed = hash_df is not None
    if prehashed:
        sh = (
            hash_df.select(F.col(id_col).alias("id"), "__hs")
            .join(participating, on="id", how="left_semi")
            .withColumn("__n", F.size("__hs"))
        )
    elif shingles_df is not None:
        sh = (
            shingles_df.select(F.col(id_col).alias("id"),
                               F.col("shingles").alias("__sh"))
            .join(participating, on="id", how="left_semi")
            .withColumn("__n", F.size("__sh"))
        )
    else:
        sh = (
            df.select(F.col(id_col).alias("id"), F.col(text_col))
            .join(participating, on="id", how="left_semi")
            .select("id", word_shingles(text_col, k).alias("__sh"))
            .withColumn("__n", F.size("__sh"))
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

    # |A∩B| on 64-bit shingle hashes (same distinct counts as strings
    # w.h.p. — the long-documented collision caveat), computed per pair
    # with array_intersect after attaching the hash arrays to the
    # broadcast pair set. The previous formulation exploded every
    # participating doc's shingles and shuffled ~2 skinny rows per
    # (doc, shingle) through a two-key join; the array form moves each
    # doc's hash array exactly once through two pair-attach joins and
    # never exchanges per-shingle rows (guide §2.3/§8: decide on
    # lightweight proxies, move payloads once).
    if prehashed:
        harr = sh.select("id", "__hs")
    else:
        harr = sh.select(
            "id", F.transform("__sh", lambda s: F.xxhash64(s)).alias("__hs"))
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
    shingles_df: DataFrame | None = None,
    hot_token_warn: int | None = None,
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
    only, then exact verification — never O(n²) and never lossy.

    Scale posture (100 TB): the global order is ascending document
    frequency (ties on the shingle string), so prefixes hold each
    doc's RAREST shingles — posting lists in the prefix inverted index
    are short by construction, and the index itself holds only
    ~(1-t)·total tokens. The size filter
    ``min(na, nb) >= t * max(na, nb)`` (a necessary condition for
    J >= t) prunes candidates before the distinct. The per-doc prefix
    is selected with a window partitioned by doc id — bounded,
    doc-sized groups, no global sort. Verification
    (:func:`ngram_jaccard_pairs`) runs only over surviving candidate
    ids. ``hot_token_warn`` (opt-in: it costs one extra eager pass
    over the prefix index) logs any prefix token whose posting list
    still exceeds the cap (a stop-shingle slipping into prefixes — a
    symptom of k too small for the corpus), without dropping it:
    exactness is the contract here.

    The frequency-ascending order is engine-portable (count, then
    binary string comparison), so a SQL engine reproduces the exact
    same prefixes — see the q45 DuckDB oracle."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if shingles_df is not None:
        sh = shingles_df.select(F.col(id_col).alias("id"),
                                F.col("shingles").alias("__sh"))
    else:
        sh = df.select(F.col(id_col).alias("id"),
                       word_shingles(text_col, k).alias("__sh"))
    ex = sh.select(
        "id", F.size("__sh").alias("n"), F.explode("__sh").alias("tok"))
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("__dfq"))
    w = W.partitionBy("id").orderBy(F.col("__dfq").asc(), F.col("tok").asc())
    ranked = ex.join(freq, "tok").withColumn("__rn", F.row_number().over(w))
    plen = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + F.lit(1)
    pre = ranked.where(F.col("__rn") <= plen).select("id", "tok", "n")

    if hot_token_warn is not None:
        hot = (
            pre.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > hot_token_warn)
            .limit(5).collect()
        )
        if hot:
            logger.warning(
                "prefix_jaccard_pairs: %d+ prefix token(s) exceed "
                "posting-list warn cap %d (worst: %s) — candidate join "
                "cost is quadratic in these lists; consider a larger "
                "shingle k", len(hot), hot_token_warn,
                [(r["tok"], r["c"]) for r in hot])

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
                                   shingles_df=shingles_df)
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
