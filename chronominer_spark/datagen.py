"""Deterministic synthetic transcripts generator (FIXTURES.md §1).

Generates the engine's primary input — an (eventually 10^12-row) table of
multi-turn transcripts ``(conv_id, turn_idx, role, text, tool, ts)`` —
**entirely with Spark expressions** seeded by ``xxhash64``. No driver-side
row loops, no RNG state: every cell is a pure function of (seed, row id),
so the same (seed, n_turns) always produces byte-identical data at any
parallelism, and generation scales linearly with cluster size.

Planted violations (rates from FIXTURES.md §1) give the constraint suite
known-positive targets:

- duplicate ``(conv_id, turn_idx)`` keys        -> uniqueness violations
- null / off-vocabulary ``role``                -> not-null + RI violations
- null / empty ``text``                         -> empty-output guard (the
  reference treats blank output as failure, never a completed record:
  ``/root/reference/modules/extract/processing_strategy.py:639-659``)
- off-vocabulary ``tool``                       -> RI violations
- tied / out-of-order ``ts``                    -> exercises the stable
  ordering window (W1)

Conversation sizes are Zipf-ish (a few very hot conv_ids) so per-conv
aggregations hit real skew — the north rule requires explicit skew
handling (a map-side partial count before the one exchange).

The vocabulary dims mirror the reference's closed-enum discipline
(``/root/reference/schemas/bibliographic_schema.json:111-135``; nullable
enums admit null, ``tests/test_schema_invariants.py:71-90``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

ROLE_VOCAB = ["system", "user", "assistant", "tool", "developer"]
ROLE_INVALID = ["Assistant", "agent", "unknown_role"]
TOOL_VOCAB = ["search", "browser", "code_exec", "retrieval", "calculator", "none"]
TOOL_INVALID = ["shell", "Search"]

_WORDS = [
    "ledger", "archive", "folio", "press", "quarto", "octavo", "guilder",
    "estate", "auction", "catalog", "imprint", "vellum", "scribe", "plate",
    "engraving", "annotation", "margin", "binding", "colophon", "edition",
    "florin", "thaler", "parish", "census", "muster", "regiment", "garrison",
    "address", "street", "merchant", "widow", "printer", "bookseller",
    "atlas", "treatise", "sermon", "almanac", "gazette", "chronicle",
    "survey", "record", "entry", "price", "lot", "sale", "year", "place",
    "name", "title", "volume", "page", "line", "note", "query", "turn",
    "agent", "reply", "call", "result", "status", "token", "batch", "chunk",
]

BASE_EPOCH = "2026-01-01 00:00:00"


@dataclass(frozen=True)
class TranscriptGenConfig:
    n_turns: int = 100_000
    n_convs: int = 2_000
    seed: int = 42
    n_buckets: int = 16
    # planted-violation rates (per FIXTURES.md §1)
    dup_key_rate: float = 1e-4
    null_role_rate: float = 1e-4
    bad_role_rate: float = 1e-4
    null_text_rate: float = 1e-4
    empty_text_rate: float = 1e-4
    bad_tool_rate: float = 1e-4
    ts_tie_rate: float = 1e-3
    ts_swap_rate: float = 1e-3
    # fraction of turns that are tool turns (tool not null)
    tool_turn_rate: float = 0.25
    # conversation-size skew exponent (higher = more skew)
    skew: float = 2.0
    # reference-snapshot mutation rates (equality/drift counterpart)
    ref_mutate_rate: float = 5e-4
    ref_drop_rate: float = 2e-4
    ref_add_rate: float = 2e-4
    text_min_words: int = 2
    text_max_words: int = 120
    role_vocab: tuple = field(default=tuple(ROLE_VOCAB))
    tool_vocab: tuple = field(default=tuple(TOOL_VOCAB))


def _h(seed: int, tag: str, *cols) -> F.Column:
    """Deterministic 64-bit hash stream, one independent stream per tag."""
    return F.xxhash64(F.lit(f"{seed}:{tag}"), *cols)


def _u(seed: int, tag: str, *cols) -> F.Column:
    """Deterministic uniform double in [0, 1) derived from the hash."""
    return (F.pmod(_h(seed, tag, *cols), F.lit(1_000_000_007)).cast("double")
            / F.lit(1_000_000_007.0))


def _pick(arr: list[str], idx: F.Column) -> F.Column:
    return F.element_at(F.array(*[F.lit(w) for w in arr]), idx + 1)


def generate_transcripts(spark: SparkSession, cfg: TranscriptGenConfig) -> DataFrame:
    """Build the transcripts DataFrame (lazy; nothing materialized here).

    Columns: conv_id, turn_idx, role, text, tool, ts, pbucket.
    ``pbucket = pmod(xxhash64(conv_id), n_buckets)`` is the partition
    column (the Iceberg ``bucket(conv_id)`` analog).
    """
    s = cfg.seed
    base = spark.range(cfg.n_turns).withColumnRenamed("id", "row_id")

    # Zipf-ish conversation assignment: u^skew concentrates mass on low
    # conversation indices, giving a heavy-tailed size distribution.
    u_conv = _u(s, "conv", F.col("row_id"))
    conv_k = F.least(
        F.floor(F.pow(u_conv, F.lit(cfg.skew)) * cfg.n_convs).cast("long"),
        F.lit(cfg.n_convs - 1),
    )
    df = base.withColumn("conv_k", conv_k)
    df = df.withColumn("conv_id", F.format_string("conv-%08d", F.col("conv_k")))

    # contiguous 1-based turn_idx per conversation, deterministic order by
    # row_id (generator-only shuffle; the engine never renumbers — W6)
    w = W.partitionBy("conv_k").orderBy("row_id")
    df = df.withColumn("turn_idx", F.row_number().over(w).cast("int"))

    # role: planted nulls and off-vocabulary values
    role_base = _pick(list(cfg.role_vocab),
                      F.pmod(_h(s, "role", F.col("row_id")), F.lit(len(cfg.role_vocab))).cast("int"))
    role = (
        F.when(_u(s, "role_null", F.col("row_id")) < cfg.null_role_rate, F.lit(None))
        .when(
            _u(s, "role_bad", F.col("row_id")) < cfg.bad_role_rate,
            _pick(ROLE_INVALID, F.pmod(_h(s, "role_badpick", F.col("row_id")), F.lit(len(ROLE_INVALID))).cast("int")),
        )
        .otherwise(role_base)
    )
    df = df.withColumn("role", role)

    # tool: null for non-tool turns, vocab otherwise, planted off-vocab
    tool_base = _pick(list(cfg.tool_vocab),
                      F.pmod(_h(s, "tool", F.col("row_id")), F.lit(len(cfg.tool_vocab))).cast("int"))
    tool = (
        F.when(_u(s, "tool_turn", F.col("row_id")) >= cfg.tool_turn_rate, F.lit(None))
        .when(
            _u(s, "tool_bad", F.col("row_id")) < cfg.bad_tool_rate,
            _pick(TOOL_INVALID, F.pmod(_h(s, "tool_badpick", F.col("row_id")), F.lit(len(TOOL_INVALID))).cast("int")),
        )
        .otherwise(tool_base)
    )
    df = df.withColumn("tool", tool)

    # text: seeded token sampler, fully JVM-side — an array of vocabulary
    # words indexed by per-(row, position) hashes, joined with spaces.
    n_words = (
        F.lit(cfg.text_min_words)
        + F.pmod(_h(s, "tlen", F.col("row_id")), F.lit(cfg.text_max_words - cfg.text_min_words)).cast("int")
    )
    words_arr = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: _pick(_WORDS, F.pmod(_h(s, "tword", F.col("row_id"), i), F.lit(len(_WORDS))).cast("int")),
    )
    text = (
        F.when(_u(s, "text_null", F.col("row_id")) < cfg.null_text_rate, F.lit(None))
        .when(_u(s, "text_empty", F.col("row_id")) < cfg.empty_text_rate, F.lit(""))
        .otherwise(F.array_join(words_arr, " "))
    )
    df = df.withColumn("text", text)

    # ts: per-conversation monotone increments with planted ties (zero
    # jitter) and out-of-order swaps (negative offset)
    step_s = 7 + F.pmod(_h(s, "tsstep", F.col("conv_k")), F.lit(50)).cast("long")
    jitter = F.when(_u(s, "tstie", F.col("row_id")) < cfg.ts_tie_rate, F.lit(0)) \
        .otherwise(F.pmod(_h(s, "tsjit", F.col("row_id")), F.lit(5)).cast("long"))
    swap = F.when(_u(s, "tsswap", F.col("row_id")) < cfg.ts_swap_rate,
                  -(step_s * 2)).otherwise(F.lit(0))
    offset_s = (
        F.pmod(_h(s, "tsbase", F.col("conv_k")), F.lit(86_400 * 30)).cast("long")
        + F.col("turn_idx").cast("long") * step_s + jitter + swap
    )
    ts = F.to_timestamp(F.lit(BASE_EPOCH)) + F.make_interval(secs=offset_s.cast("double"))
    df = df.withColumn("ts", ts)

    # planted duplicate keys: re-append a thin slice with the same
    # (conv_id, turn_idx) but later ts and mutated text
    dups = (
        df.where(_u(s, "dup", F.col("row_id")) < cfg.dup_key_rate)
        .withColumn("ts", F.col("ts") + F.make_interval(secs=F.lit(3600.0)))
        .withColumn("text", F.concat_ws(" ", F.col("text"), F.lit("duplicate")))
    )
    df = df.unionByName(dups)

    df = df.withColumn(
        "pbucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(cfg.n_buckets)).cast("int")
    )
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pbucket")


def generate_reference_snapshot(spark: SparkSession, cfg: TranscriptGenConfig) -> DataFrame:
    """The equality/drift counterpart table: same rows with a controlled
    fraction of texts mutated, turns dropped, and turns added
    (FIXTURES.md §1 'reference snapshot')."""
    s = cfg.seed
    cur = generate_transcripts(spark, cfg)
    key_h = F.xxhash64(F.lit(f"{s}:ref"), F.col("conv_id"), F.col("turn_idx"))
    u_ref = (F.pmod(key_h, F.lit(1_000_000_007)).cast("double") / F.lit(1_000_000_007.0))

    kept = cur.where(u_ref >= cfg.ref_drop_rate)
    mutated = kept.withColumn(
        "text",
        F.when(
            (u_ref >= cfg.ref_drop_rate) & (u_ref < cfg.ref_drop_rate + cfg.ref_mutate_rate),
            F.concat_ws(" ", F.col("text"), F.lit("MUTATED")),
        ).otherwise(F.col("text")),
    )
    added = (
        cur.where(
            (u_ref >= cfg.ref_drop_rate + cfg.ref_mutate_rate)
            & (u_ref < cfg.ref_drop_rate + cfg.ref_mutate_rate + cfg.ref_add_rate)
        )
        .withColumn("turn_idx", (F.col("turn_idx") + F.lit(1_000_000)).cast("int"))
        .withColumn("text", F.lit("added turn"))
    )
    return mutated.unionByName(added)


def role_vocab_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(r,) for r in ROLE_VOCAB], "role string")


def tool_vocab_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(t,) for t in TOOL_VOCAB], "tool string")
