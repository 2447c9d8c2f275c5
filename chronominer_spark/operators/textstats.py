"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, fingerprinting.

All JVM-side expressions (split/filter/regexp builtins); the scoring
heuristics are deliberately simple and deterministic so they are
cross-engine checkable. Designed to run as projections in the same scan
as other constraints (no shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronominer_spark.functions.text import normalize_text

# marker-word profiles for the n-gram-free language heuristic; real
# pipelines would swap in trigram tables — the plumbing is identical
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "es": ["el", "la", "los", "que", "de", "es", "una", "con"],
}

STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "it", "for", "on", "as", "are"]

# BPE-ish pre-tokenization: letter runs, digit runs, single other glyphs
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text_col) -> F.Column:
    return F.split(normalize_text(text_col), r"\s+")


def token_count(text_col) -> F.Column:
    """Token count under the BPE-ish regex (regexp_extract_all, group 0)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")),
                                       F.lit(TOKEN_PATTERN), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-scoring features: n_words, n_chars, mean_word_len,
    punct_ratio, stopword_ratio, alpha_ratio, and a composite
    quality_score in [0,1]."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    ws = words(c)
    n_words = F.size(F.filter(ws, lambda w: w != ""))
    n_chars = F.length(c)
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))

    out = (
        df.withColumn("n_words", n_words)
        .withColumn("n_chars", n_chars)
        .withColumn(
            "mean_word_len",
            F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(0.0),
        )
        .withColumn("punct_ratio",
                    F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0))
        .withColumn("alpha_ratio",
                    F.when(n_chars > 0, n_alpha / n_chars).otherwise(0.0))
        .withColumn("stopword_ratio",
                    F.when(n_words > 0, n_stop / n_words).otherwise(0.0))
    )
    # composite score: length in a sane band, mostly alphabetic, not
    # punctuation-soup — each clause in [0,1]
    length_ok = F.least(F.col("n_words") / 20.0, F.lit(1.0))
    score = (
        0.4 * length_ok
        + 0.4 * F.col("alpha_ratio")
        + 0.2 * (1.0 - F.least(F.col("punct_ratio") * 4, F.lit(1.0)))
    )
    return out.withColumn("quality_score", F.round(score, 6))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic: per language, the fraction of
    words that are that language's markers; argmax wins, 'und'
    (undetermined) when no markers hit. Adds ``lang_pred`` and
    ``lang_score``."""
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    n = F.greatest(F.size(ws), F.lit(1))

    def marker_score(markers: list[str]) -> F.Column:
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(ws, lambda w: F.array_contains(arr, w))) / n

    scores = {lang: marker_score(mk) for lang, mk in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    # explicit fixed-priority tiebreak (declaration order) so the result
    # is bit-identical across engines and parallelism levels
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return (
        df.withColumn("lang_score", F.round(best, 6))
        .withColumn("lang_pred", pred)
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 5, window: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every char k-gram,
    keep the minimum hash in each sliding window of ``window`` hashes,
    distinct per doc. Robust partial-overlap fingerprint (MOSS-style).
    Pure expressions: sequence + transform + slice, no UDF.

    ``portable=True`` hashes k-grams with the md5-derived 60-bit scheme
    (same as MinHash/SimHash) so the fingerprints are engine-portable
    and DuckDB-oracle-checkable; default stays xxhash64 (faster)."""
    c = normalize_text(F.col(text_col))
    n = F.length(c)
    if portable:
        def gram_hash(g: F.Column) -> F.Column:
            return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    else:
        gram_hash = F.xxhash64
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
        lambda i: gram_hash(c.substr(i, F.lit(k))),
    )
    picks = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(grams) - window, F.lit(0))),
        lambda i: F.array_min(F.slice(grams, i + 1, window)),
    )
    return df.select(
        F.col(id_col),
        F.array_distinct(picks).alias("fingerprints"),
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 2,
    max_dup_ngram_frac: float = 0.6, max_top_ngram_frac: float = 0.2,
) -> DataFrame:
    """Within-document repetition profile — the Gopher-family quality
    filters (duplicate-n-gram fraction and most-frequent-n-gram
    coverage) that catch boilerplate, keyword stuffing, and
    degenerate-loop text that the cross-document dedup family cannot
    (it only sees repetition ACROSS docs, not inside one).

    One row per doc: ``(id_col, n_words, dup_word_frac, n_grams,
    dup_ngram_frac, top_ngram_frac, repetitive)`` where

    - ``dup_word_frac``  = 1 − distinct(words)/count(words)
    - ``dup_ngram_frac`` = 1 − distinct(k-grams)/count(k-grams)
      (k-grams here are NON-distinct — repetition is the signal, so the
      dedup family's ``word_shingles`` distinct step must not apply)
    - ``top_ngram_frac`` = count(modal k-gram)/count(k-grams)
    - ``repetitive`` = dup_ngram_frac > max_dup_ngram_frac OR
      top_ngram_frac > max_top_ngram_frac

    Scale posture: two hash aggregates keyed (doc, gram) then (doc),
    both map-side-combining and fully whole-stage-codegen'd; docs
    shorter than k words survive via ``explode_outer``. A shuffle-free
    in-row fold (sorted gram array + ``F.aggregate`` longest-run) was
    measured ~4x slower warm and deleted (BENCH/BASELINE.md).
    """
    c = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.split(F.lower(F.trim(c)), r"\s+")
    n_words = F.size(ws)
    grams = F.when(
        n_words >= k,
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_words - k, F.lit(0))),
            lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

    exploded = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.size(F.array_distinct(ws)).alias("__ndw"),
        F.explode_outer(grams).alias("__gram"),
    )
    per_gram = exploded.groupBy(id_col, "__gram").agg(
        F.first("n_words").alias("n_words"),
        F.first("__ndw").alias("__ndw"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    live = F.col("__gram").isNotNull()
    per_doc = per_gram.groupBy(id_col).agg(
        F.first("n_words").alias("n_words"),
        F.first("__ndw").alias("__ndw"),
        F.sum(F.when(live, F.col("__cnt")).otherwise(0)).alias("n_grams"),
        F.sum(F.when(live, 1).otherwise(0)).alias("__ndg"),
        F.max(F.when(live, F.col("__cnt")).otherwise(0)).alias("__top"),
    )
    safe_w = F.greatest(F.col("n_words"), F.lit(1))
    safe_g = F.greatest(F.col("n_grams"), F.lit(1))
    dup_w = 1.0 - F.col("__ndw") / safe_w
    dup_g = F.when(F.col("n_grams") > 0,
                   1.0 - F.col("__ndg") / safe_g).otherwise(0.0)
    top_g = F.when(F.col("n_grams") > 0,
                   F.col("__top") / safe_g).otherwise(0.0)
    return per_doc.select(
        F.col(id_col),
        F.col("n_words"),
        F.round(dup_w, 6).alias("dup_word_frac"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round(dup_g, 6).alias("dup_ngram_frac"),
        F.round(top_g, 6).alias("top_ngram_frac"),
        ((dup_g > max_dup_ngram_frac) | (top_g > max_top_ngram_frac))
        .alias("repetitive"),
    )
