"""The engine's query catalog: every operator exposed as a named query
over the driver-provided parquet tables, each paired with an ANSI-SQL
oracle (DuckDB) computing the same result.

Each Spark query and its oracle alias every computed column identically,
round floating aggregates identically, and fix total orders explicitly,
so the driver's order-insensitive value-hash comparison is meaningful.

Organization mirrors SURVEY.md §2: scans/filters (implicit everywhere),
joins J1–J8, aggregations A1–A8, windows W1–W8, limits L1–L3, set ops
T1–T4, scalar functions F1–F16 — plus the training-data-pipeline
operator families (dedup, similarity, text analysis).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from chronominer_spark.constraints.engine import categorical_psi, psi_term
from chronominer_spark.functions.text import normalize_text
from chronominer_spark.operators.assembly import (
    full_outer_align,
    last_wins_dedup,
    merge_new_wins,
    sessionize,
    top_k_per_group,
)
from chronominer_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
    simhash,
)
from chronominer_spark.operators.evalmetrics import field_metrics
from chronominer_spark.operators.similarity import brute_force_topk, lsh_topk
from chronominer_spark.operators.textstats import (
    TOKEN_PATTERN,
    language_id,
    quality_features,
    token_count,
    winnowing_fingerprints,
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# Relational core
# --------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped aggregation (A-family: grouped
    conditional aggregation with derived ratio metrics)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                      * (1 + F.col("l_tax"))), 2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats constraint family applied per source (M2)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


_Q02_SQL = """
SELECT source,
       count(*)                         AS n_docs,
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_texts,
       min(n_chars)                     AS min_chars,
       max(n_chars)                     AS max_chars,
       round(avg(n_chars), 2)           AS avg_chars,
       count(DISTINCT lang)             AS n_langs
FROM documents GROUP BY source
"""


def q03_unique_key_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness constraint (north-rule salted two-stage agg): stage 1
    partial counts per input partition, stage 2 merge."""
    li = t(spark, sf_dir, "lineitem")
    stage1 = (
        li.groupBy("l_orderkey", "l_linenumber",
                   F.spark_partition_id().alias("_salt"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = stage1.groupBy("l_orderkey", "l_linenumber").agg(F.sum("c").alias("c"))
    return counts.agg(
        F.sum("c").alias("rows_checked"),
        F.count(F.lit(1)).alias("distinct_keys"),
        F.sum(F.col("c") - 1).alias("dup_excess"),
    )


_Q03_SQL = """
SELECT sum(c)::BIGINT     AS rows_checked,
       count(*)           AS distinct_keys,
       sum(c - 1)::BIGINT AS dup_excess
FROM (SELECT l_orderkey, l_linenumber, count(*) AS c
      FROM lineitem GROUP BY 1, 2)
"""


def q04_ri_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity constraint via broadcast left-anti (J6)."""
    o = t(spark, sf_dir, "orders")
    c = F.broadcast(t(spark, sf_dir, "customer").select("c_custkey"))
    bad = o.join(c, o.o_custkey == c.c_custkey, "left_anti")
    totals = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("rows_checked"))
    viols = bad.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("violation_count"))
    return (
        totals.join(viols, "o_orderpriority", "left")
        .select(
            "o_orderpriority", "rows_checked",
            F.coalesce("violation_count", F.lit(0)).alias("violation_count"),
        )
    )


_Q04_SQL = """
SELECT o_orderpriority,
       count(*) AS rows_checked,
       sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS violation_count
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderpriority
"""


def q05_merge_new_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 merge-by-key new-wins: overlay repriced updates onto orders."""
    o = t(spark, sf_dir, "orders")
    updates = o.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    merged = merge_new_wins(o, updates, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_Q05_SQL = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 3 = 0
),
merged AS (
  SELECT coalesce(u.o_orderkey, b.o_orderkey)         AS o_orderkey,
         coalesce(u.o_orderstatus, b.o_orderstatus)   AS o_orderstatus,
         coalesce(u.o_totalprice, b.o_totalprice)     AS o_totalprice
  FROM orders b FULL OUTER JOIN updates u USING (o_orderkey)
)
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM merged GROUP BY o_orderstatus
"""


def q06_last_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 last-wins dedup: latest event per (user, type), ties broken by
    event_id for a total order."""
    e = t(spark, sf_dir, "events")
    kept = last_wins_dedup(e, ["user_id", "event_type"], ["ts", "event_id"])
    return kept.select(
        "user_id", "event_type", "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_epoch"),
        F.round("value", 6).alias("value"),
    )


_Q06_SQL = """
SELECT user_id, event_type, event_id,
       floor(epoch(ts))::BIGINT AS ts_epoch, round(value, 6) AS value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q07_snapshot_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 full-outer alignment of two keyed snapshots with presence
    classification."""
    e = t(spark, sf_dir, "events")
    left = e.where(F.col("event_id") % 2 == 0).select("event_id", "event_type")
    right = e.where(F.col("event_id") % 3 == 0).select("event_id", "value")
    aligned = full_outer_align(left, right, ["event_id"], "hyp", "gt")
    return aligned.groupBy("presence").agg(F.count(F.lit(1)).alias("n"))


_Q07_SQL = """
SELECT CASE WHEN h.event_id IS NOT NULL AND g.event_id IS NOT NULL THEN 'both'
            WHEN h.event_id IS NOT NULL THEN 'hyp_only'
            ELSE 'gt_only' END AS presence,
       count(*) AS n
FROM (SELECT event_id FROM events WHERE event_id % 2 = 0) h
FULL OUTER JOIN (SELECT event_id FROM events WHERE event_id % 3 = 0) g
  USING (event_id)
GROUP BY 1
"""


def q08_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2/W-family top-k per group over a dimension join."""
    o = t(spark, sf_dir, "orders")
    c = F.broadcast(t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    joined = o.join(c, o.o_custkey == c.c_custkey)
    top = top_k_per_group(
        joined, ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3,
    )
    return top.select(
        "c_mktsegment", "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"), "rank",
    )


_Q08_SQL = """
SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rank
FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
      FROM orders JOIN customer ON o_custkey = c_custkey)
WHERE rank <= 3
"""


def q09_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 sessionization (running state with reset) as lag + cumsum."""
    e = t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", 1800)
    return s.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


_Q09_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w IS NULL
               OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
)
SELECT user_id, sum(new_s)::BIGINT AS n_sessions, count(*) AS n_events
FROM flagged GROUP BY user_id
"""


def q10_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame aggregation: per-customer cumulative revenue."""
    o = t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


_Q10_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate ASC, o_orderkey ASC
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_total
FROM orders
"""


def q11_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3: field-level TP/FP/FN + guarded P/R/F1 between two keyed
    snapshots (the reference's evaluation engine)."""
    e = t(spark, sf_dir, "events")
    hyp = e.where(F.col("event_id") % 2 == 0).select("event_id", "event_type", "value")
    gt = e.where(F.col("event_id") % 3 == 0).select("event_id", "event_type", "value")
    return field_metrics(hyp, gt, ["event_id"], ["event_type", "value"])


_Q11_SQL = """
WITH h AS (SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
     g AS (SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 0),
     j AS (SELECT h.event_id AS hid, g.event_id AS gid,
                  h.event_type AS het, g.event_type AS get_,
                  h.value AS hv, g.value AS gv
           FROM h FULL OUTER JOIN g ON h.event_id = g.event_id),
     counts AS (
       SELECT 'event_type' AS field,
              sum(CASE WHEN hid IS NOT NULL AND gid IS NOT NULL
                        AND het IS NOT DISTINCT FROM get_ THEN 1 ELSE 0 END)::BIGINT AS tp,
              sum(CASE WHEN (hid IS NOT NULL AND gid IS NOT NULL
                             AND het IS DISTINCT FROM get_ AND het IS NOT NULL)
                         OR (gid IS NULL AND het IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT AS fp,
              sum(CASE WHEN (hid IS NOT NULL AND gid IS NOT NULL
                             AND het IS DISTINCT FROM get_ AND get_ IS NOT NULL)
                         OR (hid IS NULL AND get_ IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT AS fn
       FROM j
       UNION ALL
       SELECT 'value',
              sum(CASE WHEN hid IS NOT NULL AND gid IS NOT NULL
                        AND hv IS NOT DISTINCT FROM gv THEN 1 ELSE 0 END)::BIGINT,
              sum(CASE WHEN (hid IS NOT NULL AND gid IS NOT NULL
                             AND hv IS DISTINCT FROM gv AND hv IS NOT NULL)
                         OR (gid IS NULL AND hv IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT,
              sum(CASE WHEN (hid IS NOT NULL AND gid IS NOT NULL
                             AND hv IS DISTINCT FROM gv AND gv IS NOT NULL)
                         OR (hid IS NULL AND gv IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT
       FROM j)
SELECT field, tp, fp, fn,
       round(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END, 6) AS precision,
       round(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END, 6) AS recall,
       round(CASE WHEN (CASE WHEN tp+fp=0 THEN 0.0 ELSE tp/(tp+fp) END)
                     + (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp/(tp+fn) END) = 0 THEN 0.0
             ELSE 2 * (CASE WHEN tp+fp=0 THEN 0.0 ELSE tp/(tp+fp) END)
                    * (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp/(tp+fn) END)
                  / ((CASE WHEN tp+fp=0 THEN 0.0 ELSE tp/(tp+fp) END)
                     + (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp/(tp+fn) END)) END, 6) AS f1
FROM counts
"""


def q12_set_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/T4: union-distinct, intersection, difference of key sets —
    ONE plan (full-outer presence flags + a single aggregate), not three
    separate count() jobs; o_orderkey is unique so the set algebra
    reduces to flag arithmetic."""
    o = t(spark, sf_dir, "orders")
    completed = o.where(F.col("o_orderstatus") == "F") \
        .select("o_orderkey").withColumn("__c", F.lit(1))
    temp = o.where(F.col("o_totalprice") > 100_000) \
        .select("o_orderkey").withColumn("__t", F.lit(1))
    j = completed.join(temp, "o_orderkey", "full_outer")
    return j.agg(
        F.sum((F.col("__c").isNotNull() & F.col("__t").isNotNull())
              .cast("long")).alias("in_both"),
        F.sum((F.col("__t").isNotNull() & F.col("__c").isNull())
              .cast("long")).alias("only_temp"),
        F.count(F.lit(1)).alias("union_distinct"),
    )


_Q12_SQL = """
WITH completed AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
     temp      AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)
SELECT (SELECT count(*) FROM (SELECT * FROM completed INTERSECT SELECT * FROM temp))
         AS in_both,
       (SELECT count(*) FROM (SELECT * FROM temp EXCEPT ALL SELECT * FROM completed))
         AS only_temp,
       (SELECT count(*) FROM (SELECT * FROM completed UNION SELECT * FROM temp))
         AS union_distinct
"""


def q13_rollup_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 multi-key bucket accounting with combined totals in one pass
    (rollup), the token-ledger pattern."""
    e = t(spark, sf_dir, "events")
    keyed = e.select(
        F.col("event_type").alias("provider"),
        (F.col("user_id") % 4).cast("long").alias("pool"),
        "value",
    )
    return (
        keyed.rollup("provider", "pool")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.coalesce("provider", F.lit("ALL")).alias("provider"),
            F.coalesce(F.col("pool").cast("string"), F.lit("ALL")).alias("pool"),
            "n", "total_value",
        )
    )


_Q13_SQL = """
SELECT coalesce(provider, 'ALL')       AS provider,
       coalesce(pool::VARCHAR, 'ALL')  AS pool,
       count(*)                        AS n,
       round(sum(value), 2)            AS total_value
FROM (SELECT event_type AS provider, (user_id % 4)::BIGINT AS pool, value FROM events)
GROUP BY ROLLUP (provider, pool)
"""


def q14_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 drift: PSI between first-half and second-half event values per
    type, over fixed-width bins — only bin counts are shuffled."""
    e = t(spark, sf_dir, "events")
    mid = e.agg(F.percentile("event_id", 0.5)).collect()[0][0]
    bins, lo, hi = 10, 0.0, 100.0
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("value") - lo) / width)),
    ).cast("int")
    # ONE scan with conditional sums (guide §2.3 "aggregate before you
    # shuffle"; the shape the oracle always had) — previously two
    # filtered scans + a full-outer join. A (type, bin) group exists
    # iff any row lands in it, exactly the join∪fillna(0) row set.
    j = e.groupBy("event_type", b.alias("bin")).agg(
        F.sum((F.col("event_id") > mid).cast("long")).alias("n_cur"),
        F.sum((F.col("event_id") <= mid).cast("long")).alias("n_ref"),
    )
    wt = W.partitionBy("event_type")
    probs = j.withColumn("p", F.col("n_cur") / F.sum("n_cur").over(wt)) \
             .withColumn("q", F.col("n_ref") / F.sum("n_ref").over(wt))
    contrib = psi_term(F.col("p"), F.col("q"), eps=1e-9)
    return probs.groupBy("event_type").agg(F.round(F.sum(contrib), 6).alias("psi"))


_Q14_SQL = """
WITH mid AS (SELECT quantile_cont(event_id, 0.5) AS m FROM events),
     binned AS (
       SELECT event_type,
              least(9, greatest(0, floor(value / 10.0)))::INT AS bin,
              CASE WHEN event_id > (SELECT m FROM mid) THEN 1 ELSE 0 END AS is_cur
       FROM events),
     h AS (SELECT event_type, bin,
                  sum(is_cur) AS n_cur, sum(1 - is_cur) AS n_ref
           FROM binned GROUP BY 1, 2),
     probs AS (
       SELECT event_type,
              n_cur / sum(n_cur) OVER (PARTITION BY event_type) AS p,
              n_ref / sum(n_ref) OVER (PARTITION BY event_type) AS q
       FROM h)
SELECT event_type,
       round(sum((p - q) * ln((p + 1e-9) / (q + 1e-9))), 6) AS psi
FROM probs GROUP BY event_type
"""


def q15_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quantiles (the approx path is exercised by the
    constraint engine; exact here so the oracle can agree bit-for-bit)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", 0.99), 4).alias("p99"),
    )


_Q15_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Text / dedup / similarity families
# --------------------------------------------------------------------------

_NORM_SQL = "lower(trim(regexp_replace({col}, '\\s+', ' ', 'g')))"


def q16_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8-style token counting (BPE-ish regex) + distinct content
    fingerprints per language."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(token_count("text")).alias("total_tokens"),
        F.countDistinct(F.md5(normalize_text(F.col("text")))).alias("distinct_norm"),
    )


_Q16_SQL = f"""
SELECT lang,
       sum(len(regexp_extract_all(coalesce(text, ''),
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_tokens,
       count(DISTINCT md5({_NORM_SQL.format(col='text')})) AS distinct_norm
FROM documents GROUP BY lang
"""


def q17_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash, smallest id wins."""
    d = t(spark, sf_dir, "documents")
    kept = exact_dedup(d, "doc_id", "text")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum((F.col("dup_count") > 1).cast("long")).alias("kept_with_dups"),
    )


_Q17_SQL = f"""
WITH keyed AS (
  SELECT *, md5({_NORM_SQL.format(col="coalesce(text, '')")}) AS ck FROM documents),
  ranked AS (
  SELECT *, row_number() OVER (PARTITION BY ck ORDER BY doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY ck) AS dup_count
  FROM keyed)
SELECT source, count(*) AS kept,
       sum(CASE WHEN dup_count > 1 THEN 1 ELSE 0 END)::BIGINT AS kept_with_dups
FROM ranked WHERE rn = 1 GROUP BY source
"""


def q18_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable MinHash signatures (md5-permutation), first 4 hashes, for
    a deterministic doc subset — the signature stage of MinHash-LSH."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    sigs = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=4)
    return sigs.select(
        "doc_id",
        *[F.element_at("signature", i + 1).alias(f"mh{i}") for i in range(4)],
    )


_Q18_SQL = f"""
WITH norm AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM documents WHERE doc_id < 50),
  sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
                         i -> array_to_string(w[i:i+2], ' ')))
         ELSE [array_to_string(w, ' ')] END AS shingles
  FROM norm),
  ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
  hh AS (SELECT doc_id,
                ('0x' || substr(md5(s), 1, 15))::UBIGINT % 1000000007 AS h1,
                ('0x' || substr(md5(s), 17, 15))::UBIGINT % 1000000007 AS h2
         FROM ex)
SELECT doc_id,
       min(h1 % 1000000007)::BIGINT            AS mh0,
       min((h1 + 1 * h2) % 1000000007)::BIGINT AS mh1,
       min((h1 + 2 * h2) % 1000000007)::BIGINT AS mh2,
       min((h1 + 3 * h2) % 1000000007)::BIGINT AS mh3
FROM hh GROUP BY doc_id
"""


def q19_lsh_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified with exact shingle Jaccard.
    The corpus is shingled ONCE (persisted) and feeds both the
    signature stage and the verify stage; the band self-join is
    hot-bucket-guarded. Oracle: full DuckDB mirror of the
    MinHash→band→bucket-join→Jaccard-verify pipeline (portable md5
    double-hashing makes the signatures engine-independent)."""
    from pyspark import StorageLevel

    from chronominer_spark.operators.dedup import shingle_hash_docs

    # the sandbox documents file is a single parquet split; spread the
    # shingling (the pipeline's CPU hot path) across all cores. On a
    # real corpus the scan is already multi-split and this coalesces
    # into a no-op-sized shuffle of doc ids+text.
    d = t(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    # ONE fused Arrow pass tokenizes AND md5s the corpus; the persisted
    # (id, h1, h2, hs) frame feeds the signature stage (pure numpy
    # permutation-min, bit-identical signatures) and the verify stage
    # (intersection directly on the 60-bit md5 halves) — the previous
    # plan tokenized once but hashed every shingle twice (Python md5 +
    # JVM xxhash64) and cached the strings themselves
    fh = shingle_hash_docs(d, "doc_id", "text", k=3) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=16,
                              hash_df=fh)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=8, num_hashes=16)
    # min_jaccard arms the exact size-bound prefilter: candidates whose
    # shingle-count ratio already proves jaccard < 0.2 never reach the
    # intersection join (identical output, A/B'd in
    # `git show 4ff6869:tools/ab_jaccard_sizefilter.py`)
    verified = ngram_jaccard_pairs(d, "doc_id", "text", pairs, k=3,
                                   hash_df=fh, min_jaccard=0.2,
                                   pairs_materialized=True)
    return verified.where(F.col("jaccard") >= 0.2).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _mk_q19_sql(num_hashes: int = 16, bands: int = 8, prime: int = 1_000_000_007,
                candidates_only: bool = False) -> str:
    """DuckDB mirror of the full MinHash→band→bucket-join→Jaccard-verify
    pipeline (portable md5 double-hashing, same constants as q19). The
    hot-bucket guard is intentionally absent: at oracle scale no bucket
    approaches the cap, so guarded and unguarded pipelines agree —
    guard behavior is pytest-covered instead. ``candidates_only`` stops
    after the band-bucket join (the q42 incremental-ingest oracle: the
    streaming path emits candidates; verification is a downstream
    stage)."""
    r = num_hashes // bands
    mins = ",\n         ".join(
        f"min((h1 + {i} * h2) % {prime})::BIGINT AS m{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
            b=b,
            expr=" || ',' || ".join(
                f"m{b * r + j}::VARCHAR" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    prefix = f"""
WITH norm AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
                         i -> array_to_string(w[i:i+2], ' ')))
         ELSE [array_to_string(w, ' ')] END AS shingles
  FROM norm),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hh AS (SELECT doc_id,
              ('0x' || substr(md5(s), 1, 15))::UBIGINT % {prime} AS h1,
              ('0x' || substr(md5(s), 17, 15))::UBIGINT % {prime} AS h2
       FROM ex),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hh GROUP BY doc_id),
banded AS (
  {band_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (band, bucket)
  WHERE a.doc_id < b.doc_id)"""
    if candidates_only:
        return prefix + """
SELECT id_a, id_b FROM pairs
"""
    return prefix + """,
sizes AS (SELECT doc_id, len(shingles)::BIGINT AS n FROM sh),
inter AS (
  SELECT p.id_a, p.id_b, count(*)::BIGINT AS i
  FROM pairs p
  JOIN ex ea ON ea.doc_id = p.id_a
  JOIN ex eb ON eb.doc_id = p.id_b AND eb.s = ea.s
  GROUP BY 1, 2)
SELECT t.id_a, t.id_b, round(t.i / (sa.n + sb.n - t.i), 6) AS jaccard
FROM inter t
JOIN sizes sa ON sa.doc_id = t.id_a
JOIN sizes sb ON sb.doc_id = t.id_b
WHERE t.i / (sa.n + sb.n - t.i) >= 0.2
"""


_Q19_SQL = _mk_q19_sql()


def q20_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SimHash sketches (md5-derived 60-bit word hash, same
    scheme as MinHash) so the DuckDB oracle reproduces them exactly."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return simhash(d, "doc_id", "text", bits=32, portable=True)


_Q20_SQL = f"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex({_NORM_SQL.format(col='text')}, '\\s+')) AS w
  FROM documents WHERE doc_id < 100),
h AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::UBIGINT AS h FROM w),
bits AS (
  SELECT doc_id, r.b AS b,
         sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, range(0, 32) r(b)
  GROUP BY doc_id, r.b)
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""


def q21_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline): rank on rounded
    cosine so cross-engine float noise cannot flip ties."""
    emb = t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.where(F.col("vec_id") < 8), emb, k=3)


_Q21_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
     scored AS (
       -- explicit double-precision math: list_cosine_similarity computes
       -- in float32 on FLOAT[] and diverges from Spark at the 6th decimal
       SELECT query_id, e.vec_id AS neighbor_id,
              round(
                list_sum(list_transform(list_zip(qv, e.embedding),
                         p -> p[1]::DOUBLE * p[2]::DOUBLE))
                / (sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(e.embedding,
                          x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
       FROM q CROSS JOIN embeddings e
       WHERE query_id <> e.vec_id),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
"""


def q22_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features aggregated per source. avg_quality sums
    integral millionths of the (pre-rounded-to-6) score: averaging
    pre-rounded doubles lands on exact .5e-6 rounding boundaries often,
    where partial-merge ORDER can flip the 6th decimal (observed on
    q40) — integral summation is associative-exact. The raw-ratio
    averages are boundary-hits only at ~1 ulp and stay as plain avg."""
    d = quality_features(t(spark, sf_dir, "documents"))
    q_micro = F.round(F.col("quality_score") * 1e6).cast("long")
    return d.groupBy("source").agg(
        F.round(F.sum(q_micro) / (F.count(F.lit(1)) * 1e6), 6)
        .alias("avg_quality"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
    )


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _mk_q22_sql() -> str:
    from chronominer_spark.operators.textstats import STOPWORDS

    ws_expr = ("string_split_regex(" + _NORM_SQL.format(col="coalesce(text, '')")
               + ", '\\s+')")
    return f"""
WITH f AS (
  SELECT source, coalesce(text, '') AS c, {ws_expr} AS ws FROM documents),
feat AS (
  SELECT source,
         len(list_filter(ws, w -> w <> '')) AS n_words,
         length(c) AS n_chars,
         length(c) - length(regexp_replace(c, '[^\\w\\s]', '', 'g')) AS n_punct,
         length(regexp_replace(c, '[^A-Za-z]', '', 'g')) AS n_alpha,
         len(list_filter(ws, w -> list_contains({_sql_list(STOPWORDS)}, w))) AS n_stop
  FROM f),
scored AS (
  SELECT source, n_words,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END AS stopword_ratio
  FROM feat)
SELECT source,
       round(sum(round(round(0.4 * least(n_words / 20.0, 1.0)
                             + 0.4 * alpha_ratio
                             + 0.2 * (1.0 - least(punct_ratio * 4, 1.0)),
                       6) * 1e6)::BIGINT) / (count(*) * 1e6), 6)
         AS avg_quality,
       round(avg(punct_ratio), 6)    AS avg_punct_ratio,
       round(avg(stopword_ratio), 6) AS avg_stopword_ratio,
       round(avg(n_words), 4)        AS avg_words
FROM scored GROUP BY source
"""


_Q22_SQL = _mk_q22_sql()


def q23_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification, counts per predicted lang."""
    d = language_id(t(spark, sf_dir, "documents"))
    return d.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))


def _mk_q23_sql() -> str:
    from chronominer_spark.operators.textstats import LANG_MARKERS

    ws_expr = ("string_split_regex(" + _NORM_SQL.format(col="coalesce(text, '')")
               + ", '\\s+')")
    score = {
        lang: (f"len(list_filter(ws, w -> list_contains({_sql_list(mk)}, w)))"
               " / greatest(len(ws), 1)")
        for lang, mk in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(f"s_{g}" for g in LANG_MARKERS) + ")"
    # fixed-priority tiebreak in declaration order, mirroring the Spark
    # when-chain in operators/textstats.py:language_id
    whens = "\n              ".join(
        f"WHEN s_{g} = {best} THEN '{g}'" for g in LANG_MARKERS
    )
    scores_sql = ",\n         ".join(f"{e} AS s_{g}" for g, e in score.items())
    return f"""
WITH f AS (SELECT {ws_expr} AS ws FROM documents),
s AS (
  SELECT {scores_sql}
  FROM f),
p AS (
  SELECT CASE WHEN {best} = 0 THEN 'und'
              {whens}
         END AS lang_pred
  FROM s)
SELECT lang_pred, count(*) AS n FROM p GROUP BY lang_pred
"""


_Q23_SQL = _mk_q23_sql()


def q24_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming windowed
    count; the streaming variant lives in streaming/validate.py)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("hour").cast("long").alias("hour_epoch"),
                "event_type", "n", "total")
    )


_Q24_SQL = """
SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS hour_epoch, event_type,
       count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY 1, 2
"""


def q25_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable winnowing rolling-hash fingerprints (md5-derived 60-bit
    gram hash) with a DuckDB oracle. Null texts excluded in both engines
    (DuckDB's list_distinct drops NULL entries, Spark's array_distinct
    keeps them — filtering sidesteps the divergent null convention)."""
    d = t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 100) & F.col("text").isNotNull()
    )
    fp = winnowing_fingerprints(d, "doc_id", "text", portable=True)
    return fp.select("doc_id", F.size("fingerprints").alias("n_fingerprints"))


_Q25_SQL = f"""
WITH d AS (
  SELECT doc_id, {_NORM_SQL.format(col='text')} AS c
  FROM documents WHERE doc_id < 100 AND text IS NOT NULL),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(c) - 5 + 1, 1) + 1),
           i -> ('0x' || substr(md5(substr(c, i, 5)), 1, 15))::UBIGINT::BIGINT)
           AS grams
  FROM d),
p AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(0, greatest(len(grams) - 4, 0) + 1),
           i -> list_min(grams[i + 1:i + 4]))) AS fps
  FROM g)
SELECT doc_id, len(fps)::BIGINT AS n_fingerprints FROM p
"""


def q26_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH (scale
    path). Planes use the portable Rademacher-md5 scheme so the DuckDB
    oracle reproduces the exact bucketing (recall vs exact top-k is
    additionally measured against q21 in tests)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    dim = len(emb.select("embedding").first()["embedding"])
    return lsh_topk(q, emb, k=3, dim=dim, n_bits=4, n_tables=8,
                    plane_scheme="rademacher_md5")


# Faithful mirror of q26: the Rademacher-md5 plane signs are re-derived
# from DuckDB's md5() (same hex as Python hashlib), the bucketing and
# candidate join replicate lsh_topk, and ranking is on round(cosine, 6)
# exactly as the Spark side ranks. dim is pinned to 64 (every testdata
# embeddings table is 64-wide; the Spark side reads it dynamically).
# The hot-bucket cap (10k) is inert at oracle scale (corpus ≤ 2k rows)
# and is deliberately not mirrored.
_Q26_SQL = """
WITH p AS (
  SELECT t.range AS t, b.range AS b, d.range AS d,
         CASE WHEN substr(md5(42 || ':' || t.range || ':' || b.range || ':' || d.range), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END AS s
  FROM range(8) t, range(4) b, range(64) d),
bits AS (
  SELECT e.vec_id, p.t, p.b,
         CASE WHEN sum(p.s * (e.embedding[p.d + 1])::DOUBLE) >= 0 THEN '1' ELSE '0' END AS bit
  FROM embeddings e CROSS JOIN p
  GROUP BY e.vec_id, p.t, p.b),
keys AS (
  SELECT vec_id, t, 't' || t || ':' || string_agg(bit, '' ORDER BY b) AS bucket
  FROM bits GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM keys q JOIN keys c ON q.bucket = c.bucket
  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
            JOIN embeddings b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
"""


def q27_range_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 overlap trimming via predecessor running-max window, on ranges
    synthesized deterministically from events."""
    from chronominer_spark.operators.ranges import trim_overlaps

    e = t(spark, sf_dir, "events")
    ranges = e.select(
        (F.col("user_id") % 20).cast("long").alias("doc"),
        F.col("event_id"),
        ((F.col("event_id") % 50) + 1).cast("long").alias("start"),
    ).withColumn("end", F.col("start") + (F.col("event_id") % 10))
    out = trim_overlaps(ranges, "doc", order_col="event_id")
    return out.select("doc", "event_id", "start", "end")


_Q27_SQL = """
WITH ranges AS (
  SELECT (user_id % 20)::BIGINT AS doc, event_id,
         ((event_id % 50) + 1)::BIGINT AS start,
         ((event_id % 50) + 1 + (event_id % 10))::BIGINT AS "end"
  FROM events)
SELECT doc, event_id,
       CASE WHEN prev_end IS NULL THEN start
            ELSE greatest(start, prev_end + 1) END AS start,
       "end"
FROM (SELECT *, max("end") OVER (PARTITION BY doc ORDER BY start, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS prev_end
      FROM ranges)
"""


def q28_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 three-stage JSON extraction: direct / code-fenced / balanced
    brace scan, exercised by deterministically noising the props
    column."""
    from chronominer_spark.functions.jsonx import extract_json

    e = t(spark, sf_dir, "events")
    noisy = (
        F.when(F.col("event_id") % 3 == 0, F.col("props"))
        .when(F.col("event_id") % 3 == 1,
              F.concat(F.lit("prose before ```json\n"), F.col("props"),
                       F.lit("\n``` prose after")))
        .otherwise(F.concat(F.lit("noise "), F.col("props"), F.lit(" tail")))
    )
    return e.select(
        "event_id",
        extract_json(noisy, "k int")["k"].alias("k"),
    )


_Q28_SQL = """
SELECT event_id, json_extract_string(props, '$.k')::INT AS k FROM events
"""


_Q29_QS = [0.5, 0.9, 0.99]
_Q29_REL_BOUND = 0.05


def q29_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-digest quantile sketches (``constraints/tdigest.py``: a
    map-side partial per input partition, one fold per group, a
    row-wise interpolation). The sketch is approximate by design, so its
    raw value has no SQL mirror — instead the query emits the CHECKABLE
    CONTRACT of :func:`_quantile_contract`. The oracle asserts
    ``within_bound`` TRUE for every row, so a sketch drifting out of its
    error envelope fails the parity check. Tighter accuracy and
    partitioning invariance stay pytest-asserted.

    SKETCH-CONTRACT MINIMUM GROUP SIZE (round-6 ADVICE): the 5%
    relative envelope is calibrated for the correctness tier and up
    (sf0.01: ~2.4k rows/group). At smoke scale (sf0.001, ~240
    rows/group) a t-digest p99 interpolates between a handful of tail
    values and the bound does NOT reliably hold — q29 and its
    streaming twin q74 are oracle-gated at sf0.01+, never at sf0.001.
    Rule of thumb: the contract needs ≳50 rows per (group × tail
    quantile), i.e. ≥ 50/(1−q) rows per group for quantile q."""
    from chronominer_spark.constraints.tdigest import tdigest_quantiles

    e = t(spark, sf_dir, "events")
    return _quantile_contract(
        e, tdigest_quantiles(e, "event_type", "value", _Q29_QS))


def _quantile_contract(e: DataFrame, td: DataFrame) -> DataFrame:
    """q29's checkable sketch contract, shared with q74: for each
    (event_type, q) of the sketch's ``td`` rows ``(part, q, value)``,
    the exact quantile over events ``e`` (computable identically in
    Spark and DuckDB) and ``within_bound`` = |sketch − exact| /
    max(|exact|, 1) ≤ 5%."""
    exact = (
        e.groupBy(F.col("event_type").alias("part"))
        .agg(F.percentile("value", _Q29_QS).alias("__ps"))
        .select(
            "part",
            F.explode(F.arrays_zip(
                F.array(*[F.lit(q) for q in _Q29_QS]).alias("q"),
                F.col("__ps").alias("exact"),
            )).alias("z"),
        )
        .select("part", F.col("z.q").alias("q"), F.col("z.exact").alias("exact"))
    )
    return (
        td.join(exact, ["part", "q"])
        .select(
            "part", "q",
            F.round("exact", 4).alias("exact_value"),
            ((F.abs(F.col("value") - F.col("exact"))
              / F.greatest(F.abs(F.col("exact")), F.lit(1.0)))
             <= _Q29_REL_BOUND).alias("within_bound"),
        )
    )


_Q29_SQL = "\nUNION ALL\n".join(
    f"SELECT event_type AS part, {q}::DOUBLE AS q,"
    f" round(quantile_cont(value, {q}), 4) AS exact_value,"
    f" TRUE AS within_bound FROM events GROUP BY event_type"
    for q in _Q29_QS
)


def q30_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 fuzzy entry match: blocked candidate join + Levenshtein
    threshold + greedy 1:1 assignment. Oracle-backed since round 3: the
    per-block greedy loop ("sort once by (score desc, ids), accept if
    both sides unused") is equivalent to repeatedly taking the best
    remaining pair, which a recursive CTE expresses exactly — one
    accepted pair per recursion step per block, used-id sets carried as
    lists (DuckDB levenshtein == Spark's; both sides sort on the
    ROUNDED score exactly as the operator does)."""
    from chronominer_spark.operators.fuzzy import fuzzy_match

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    gt = d.select((F.col("doc_id") % 80).cast("string").alias("block"),
                  F.col("doc_id").alias("gt_id"),
                  F.substring("text", 1, 80).alias("snippet"))
    hyp = d.select((F.col("doc_id") % 80).cast("string").alias("block"),
                   (F.col("doc_id") + 1_000_000).alias("hyp_id"),
                   F.substring(F.concat(F.col("text"), F.lit(" x")), 1, 80)
                   .alias("snippet"))
    return fuzzy_match(gt, hyp, ["block"], "snippet", threshold=0.85)


# The greedy 1:1 assignment as a recursive CTE: base = best candidate
# per block under (score desc, gt_id, hyp_id); each step extends every
# block's chain with the best pair whose ids are both unused (the
# LATERAL LIMIT 1 — empty result ends that block's recursion). The
# single-sorted-pass-with-skip the operator runs is equivalent to this
# take-best-remaining loop. Ordering uses round(score, 6) exactly like
# the operator's candidate frame.
_Q30_SQL = f"""
WITH RECURSIVE g AS (
  SELECT (doc_id % 80)::VARCHAR AS block, doc_id AS gt_id,
         {_NORM_SQL.format(col="substr(text, 1, 80)")} AS gn
  FROM documents WHERE doc_id < 400),
h AS (
  SELECT (doc_id % 80)::VARCHAR AS block, doc_id + 1000000 AS hyp_id,
         {_NORM_SQL.format(col="substr(text || ' x', 1, 80)")} AS hn
  FROM documents WHERE doc_id < 400),
cand AS (
  SELECT block, gt_id, hyp_id,
         round(CASE WHEN greatest(length(gn), length(hn)) = 0 THEN 1.0
               ELSE 1.0 - levenshtein(gn, hn)::DOUBLE
                          / greatest(length(gn), length(hn)) END, 6) AS score
  FROM g JOIN h USING (block)
  WHERE (CASE WHEN greatest(length(gn), length(hn)) = 0 THEN 1.0
         ELSE 1.0 - levenshtein(gn, hn)::DOUBLE
                    / greatest(length(gn), length(hn)) END) >= 0.85),
walk AS (
  SELECT block, gt_id, hyp_id, score, [gt_id] AS ug, [hyp_id] AS uh
  FROM (SELECT *, row_number() OVER (PARTITION BY block
          ORDER BY score DESC, gt_id, hyp_id) AS rn FROM cand)
  WHERE rn = 1
  UNION ALL
  SELECT w.block, nxt.gt_id, nxt.hyp_id, nxt.score,
         list_append(w.ug, nxt.gt_id), list_append(w.uh, nxt.hyp_id)
  FROM walk w, LATERAL (
    SELECT c.gt_id, c.hyp_id, c.score FROM cand c
    WHERE c.block = w.block
      AND NOT list_contains(w.ug, c.gt_id)
      AND NOT list_contains(w.uh, c.hyp_id)
    ORDER BY c.score DESC, c.gt_id, c.hyp_id
    LIMIT 1) nxt)
SELECT block, gt_id, hyp_id, score FROM walk
"""


def _q31_centroids(n: int = 8, dim: int = 64, seed: int = 31) -> list[list[float]]:
    """Pinned deterministic Rademacher-md5 centroids (same portable
    scheme as q26's hyperplanes): ±1 per dimension from the md5 top hex
    char, reproducible in any engine with ``md5()``."""
    import hashlib
    return [
        [1.0 if hashlib.md5(f"{seed}:{c}:{d}".encode()).hexdigest()[0]
         in "01234567" else -1.0 for d in range(dim)]
        for c in range(n)
    ]


def q31_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors over a PINNED deterministic
    centroid set: the build (cell assignment), probe and ranked search
    are all DuckDB-mirrorable, so the driver oracle verifies the full
    assignment+search path exactly. The trainer (driver Lloyd) remains
    covered by recall-vs-brute-force pytest — its float-summation order
    is legitimately engine-specific, but the
    index/search machinery it feeds is not, and this query proves it.
    ``sim_round=6`` makes the cell argmax float-noise-proof across
    engines (the same discipline as the rounded-cosine ranking)."""
    from chronominer_spark.operators.similarity import (ivf_build_index,
                                                        ivf_search)

    emb = t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    cents = _q31_centroids()
    index = ivf_build_index(emb, cents, sim_round=6)
    return ivf_search(q, index, cents, k=3, n_probe=3, sim_round=6)


# Faithful mirror of q31: centroids re-derived from DuckDB's md5 (same
# hex as Python hashlib), cell assignment = argmax of round(dot, 6) with
# ties toward the LARGER cell id (matching _nearest_cells'
# reverse(array_sort) order), probe = top-3 cells per query by the same
# order, cosine ranked after round(·, 6) with neighbor_id tiebreak.
# dim pinned to 64 like the q26 oracle.
_Q31_SQL = """
WITH cent AS (
  SELECT c.range AS cell, d.range AS d,
         CASE WHEN substr(md5(31 || ':' || c.range || ':' || d.range), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END AS v
  FROM range(8) c, range(64) d),
sims AS (
  SELECT e.vec_id, cent.cell,
         round(sum(cent.v * (e.embedding[cent.d + 1])::DOUBLE), 6) AS s
  FROM embeddings e CROSS JOIN cent
  GROUP BY e.vec_id, cent.cell),
assign AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM sims) WHERE rn = 1),
probe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
    FROM sims WHERE vec_id < 8) WHERE rn <= 3),
cand AS (
  SELECT DISTINCT p.query_id, a.neighbor_id
  FROM probe p JOIN assign a USING (cell)
  WHERE p.query_id <> a.neighbor_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> p[1]::DOUBLE * p[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
            JOIN embeddings b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
"""


def q32_group_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage per-group aggregation (the skew-proof plan used
    by the group_stats constraint), profiled per event_type."""
    e = t(spark, sf_dir, "events")
    stage1 = (
        e.groupBy("event_type", "user_id",
                  F.spark_partition_id().alias("_salt"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sizes = stage1.groupBy("event_type", "user_id").agg(F.sum("c").alias("n"))
    return sizes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("n").alias("min_events"),
        F.max("n").alias("max_events"),
        F.round(F.avg("n"), 4).alias("avg_events"),
    )


def q33_token_budget_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 true semantics: the reference's token-budget chunker
    (``modules/infra/chunking.py:147-187``) — close a chunk when the
    running per-line token sum would exceed the budget, absolute
    1-based line ranges. Lines synthesized deterministically from
    events (doc = user_id % 20, ordered by event_id)."""
    from chronominer_spark.operators.chunking import token_budget_chunks

    e = t(spark, sf_dir, "events")
    lines = (
        e.select(
            (F.col("user_id") % 20).cast("long").alias("doc"),
            F.col("event_id"),
            ((F.col("event_id") % 13) + 1).cast("long").alias("tok"),
        )
        .withColumn(
            "ln",
            F.row_number().over(
                W.partitionBy("doc").orderBy(F.col("event_id").asc())
            ).cast("long"),
        )
    )
    return token_budget_chunks(lines, "doc", "ln", "tok", budget=50)


_Q33_SQL = """
WITH RECURSIVE lines AS (
  SELECT (user_id % 20)::BIGINT AS doc,
         (row_number() OVER (PARTITION BY user_id % 20
                             ORDER BY event_id ASC))::BIGINT AS ln,
         ((event_id % 13) + 1)::BIGINT AS tok
  FROM events
),
walk AS (
  SELECT doc, ln, tok, tok AS cur, 1::BIGINT AS chunk_index
  FROM lines WHERE ln = 1
  UNION ALL
  SELECT l.doc, l.ln, l.tok,
         CASE WHEN w.cur + l.tok > 50 THEN l.tok ELSE w.cur + l.tok END,
         CASE WHEN w.cur + l.tok > 50 THEN w.chunk_index + 1
              ELSE w.chunk_index END
  FROM walk w JOIN lines l ON l.doc = w.doc AND l.ln = w.ln + 1
)
SELECT doc, chunk_index,
       min(ln)       AS start_line,
       max(ln)       AS end_line,
       count(*)      AS n_lines,
       sum(tok)::BIGINT AS chunk_tokens
FROM walk GROUP BY doc, chunk_index
"""


_Q32_SQL = """
SELECT event_type, count(*) AS n_users,
       min(n) AS min_events, max(n) AS max_events,
       round(avg(n), 4) AS avg_events
FROM (SELECT event_type, user_id, count(*) AS n
      FROM events GROUP BY 1, 2)
GROUP BY event_type
"""


def q34_anchor_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 text-anchored nearest-line resolution over lines synthesized
    from events (marker containment is ambiguous by construction — 'w1'
    matches 'w1','w10'..'w19' — so the nearest-to tie-break is
    exercised; window [5,30], one expansion by 2)."""
    from chronominer_spark.operators.ranges import resolve_anchor_lines

    e = t(spark, sf_dir, "events")
    lines = (
        e.select(
            (F.col("user_id") % 20).cast("long").alias("doc"),
            F.col("event_id"),
            F.concat(F.lit("w"), (F.col("event_id") % 37).cast("string"))
            .alias("line"),
        )
        .withColumn(
            "line_no",
            F.row_number().over(
                W.partitionBy("doc").orderBy(F.col("event_id").asc())
            ).cast("long"),
        )
    )
    anchors = lines.select("doc").distinct().select(
        "doc",
        F.col("doc").cast("string").alias("anchor_id"),
        F.concat(F.lit("w"), (F.col("doc") % 37).cast("string")).alias("marker"),
        F.lit(5).alias("search_start"),
        F.lit(30).alias("search_end"),
        F.lit(12).alias("nearest_to"),
    )
    out = resolve_anchor_lines(lines, anchors, context_window=2)
    # unresolved -> -1: a nullable BIGINT fetched through pandas decays
    # to float64 in the driver comparison; the sentinel keeps the typed
    # hash meaningful (operator-level null semantics tested in pytest)
    return out.select(
        "doc", F.coalesce("resolved_line", F.lit(-1)).alias("resolved_line")
    )


_Q34_SQL = """
WITH lines AS (
  SELECT (user_id % 20)::BIGINT AS doc,
         (row_number() OVER (PARTITION BY user_id % 20
                             ORDER BY event_id ASC))::BIGINT AS line_no,
         'w' || (event_id % 37)::VARCHAR AS line
  FROM events),
anchors AS (
  SELECT DISTINCT doc, 'w' || (doc % 37)::VARCHAR AS marker FROM lines),
cand AS (
  SELECT a.doc, l.line_no,
         (l.line_no BETWEEN 5 AND 30) AS in_primary
  FROM anchors a JOIN lines l ON l.doc = a.doc
  WHERE length(a.marker) >= 3  -- min_substring_length rejection (W7)
    AND l.line_no BETWEEN 5 - 2 AND 30 + 2
    AND contains(l.line, a.marker)),
ranked AS (
  SELECT doc, line_no,
         row_number() OVER (PARTITION BY doc
                            ORDER BY in_primary DESC,
                                     abs(line_no - 12) ASC,
                                     line_no ASC) AS rn
  FROM cand)
SELECT a.doc, coalesce(r.line_no, -1)::BIGINT AS resolved_line
FROM anchors a LEFT JOIN (SELECT doc, line_no FROM ranked WHERE rn = 1) r
  ON a.doc = r.doc
"""


def _plant_jittered(base: DataFrame, offset: int, mult: int, mod: int,
                    shift: int, scale: float) -> DataFrame:
    """A jittered near-copy of every 10th vector of ``base``: id
    ``vec_id + offset``, element d shifted by ``scale · (pmod(vec_id ·
    mult + d, mod) − shift)`` — the planted near-dups of q35 and q39."""
    # NOTE: the jitter must use the ORIGINAL id. With `(vec_id + offset)
    # .alias("vec_id")` in the same select, Spark's lateral-column-alias
    # resolution (3.4+) binds the lambda's `vec_id` to the NEW alias —
    # silently jittering with the remapped id. Rename first.
    return (
        base.where(F.col("vec_id") % 10 == 0)
        .select(F.col("vec_id").alias("orig_id"), "embedding")
        .select(
            (F.col("orig_id") + offset).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, d: x + F.lit(scale)
                * (F.pmod(F.col("orig_id") * mult + d.cast("long"),
                          F.lit(mod)) - shift).cast("double"),
            ).alias("embedding"),
        )
    )


def q35_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane LSH + exact
    verify. The synthetic embeddings are random (max pairwise cosine
    ~0.51), so near-dups are PLANTED deterministically: every 10th
    vector gets a jittered copy (id + 1,000,000) that the detector must
    pair with its original at cosine ≥ 0.99. Planes use the portable
    Rademacher-md5 scheme so the DuckDB oracle mirrors the bucketing."""
    from chronominer_spark.operators.similarity import embedding_near_dups

    emb = t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = _plant_jittered(base, 1_000_000, 31, 7, 3, 0.001)
    corpus = base.unionByName(planted)
    return embedding_near_dups(
        corpus, threshold=0.99, dim=64, n_tables=6, n_bits=10, seed=7,
        plane_scheme="rademacher_md5",
    ).orderBy("id_a")


_Q35_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
  FROM embeddings),
planted AS (
  -- inner select keeps the ORIGINAL vec_id for the jitter arithmetic;
  -- the id is remapped only in the outer projection (lateral-alias
  -- shadowing would otherwise make `vec_id` ambiguous in one SELECT)
  SELECT orig_id + 1000000 AS vec_id, jemb AS embedding
  FROM (
    SELECT vec_id AS orig_id,
           list_transform(range(0, 64),
             d -> embedding[d + 1]::DOUBLE
                  + 0.001 * (((vec_id * 31 + d) % 7) - 3)::DOUBLE) AS jemb
    FROM embeddings WHERE vec_id % 10 = 0)),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
p AS (
  SELECT t.range AS t, b.range AS b, d.range AS d,
         CASE WHEN substr(md5(7 || ':' || t.range || ':' || b.range || ':' || d.range), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END AS s
  FROM range(6) t, range(10) b, range(64) d),
bits AS (
  SELECT e.vec_id, p.t, p.b,
         CASE WHEN sum(p.s * e.embedding[p.d + 1]) >= 0 THEN '1' ELSE '0' END AS bit
  FROM corpus e CROSS JOIN p
  GROUP BY e.vec_id, p.t, p.b),
keys AS (
  SELECT vec_id, t, 't' || t || ':' || string_agg(bit, '' ORDER BY b) AS bucket
  FROM bits GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM keys q JOIN keys c ON q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x * x)))), 6) AS cosine
  FROM cand JOIN corpus a ON a.vec_id = cand.query_id
            JOIN corpus b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id AS id_a, neighbor_id AS id_b, cosine
FROM ranked
WHERE rank <= 50 AND cosine >= 0.99 AND query_id < neighbor_id
"""


def q36_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing, end-to-end through the REAL
    Arrow path: documents' text is encoded into an opaque binary payload
    column (standing in for image/audio bytes), streamed through the
    bounded ``mapInPandas`` feature extractor, and the per-payload
    byte size + sha256 are verified cross-engine. The model-feature
    vector itself is stub-derived (codec libs absent — see
    operators/multimodal.py) and checked in pytest instead."""
    from chronominer_spark.operators.multimodal import extract_features

    d = t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
    )
    return extract_features(media, batch_rows=256).select(
        "media_id", "kind", "byte_size", "payload_sha"
    )


_Q36_SQL = """
SELECT doc_id AS media_id,
       ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
       octet_length(encode(coalesce(text, '')))::BIGINT AS byte_size,
       sha256(coalesce(text, '')) AS payload_sha
FROM documents
"""


def q37_overlap_removal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 exact iterative overlap removal (the reference's trim-prev +
    shift-cur + clamp loop, ``readjuster.py:1642-1747``) over ranges
    with PLANTED degeneracies: every 9th range is a long swallower that
    fully contains successors, every 13th is inverted (start > end) —
    exactly the inputs where the one-pass q27 plan and the reference
    diverge. Oracle: recursive CTE carrying (prev_start, prev_end)
    through the same recurrence."""
    from chronominer_spark.operators.ranges import remove_overlaps_exact

    e = t(spark, sf_dir, "events")
    ranges = e.select(
        (F.col("user_id") % 20).cast("long").alias("doc"),
        F.col("event_id"),
        ((F.col("event_id") % 50) + 1).cast("long").alias("start"),
    ).withColumn(
        "end",
        F.when(F.col("event_id") % 9 == 0, F.col("start") + 45)
        .when(F.col("event_id") % 13 == 0, F.col("start") - 3)
        .otherwise(F.col("start") + (F.col("event_id") % 7))
        .cast("long"),
    )
    out = remove_overlaps_exact(ranges, "doc", order_col="event_id")
    return out.select("doc", "event_id", "start", "end")


# Recurrence per sorted row (see remove_overlaps_exact): each entry's
# end is only modified by its immediate successor, so the walk carries
# (s, e_pre) and emits the predecessor's final end (pfe) at each step;
# a final self-join by rn+1 stitches each row to the end its successor
# assigned it. Lateral aliases in the recursive branch carry UNIQUE
# names (pfe_nxt/s_nxt): DuckDB resolves a bare name to an in-scope
# table column (walk w has pfe/s/e_pre!) before a lateral alias, so
# reusing the base-branch names would silently read the previous row.
_Q37_SQL = """
WITH RECURSIVE ranges AS (
  SELECT (user_id % 20)::BIGINT AS doc, event_id,
         ((event_id % 50) + 1)::BIGINT AS s0,
         (CASE WHEN event_id % 9 = 0 THEN (event_id % 50) + 1 + 45
               WHEN event_id % 13 = 0 THEN (event_id % 50) + 1 - 3
               ELSE (event_id % 50) + 1 + (event_id % 7) END)::BIGINT AS e0
  FROM events),
ordered AS (
  SELECT doc, event_id, s0, e0,
         (row_number() OVER (PARTITION BY doc ORDER BY s0, event_id))::BIGINT AS rn
  FROM ranges),
walk AS (
  SELECT doc, rn, event_id,
         NULL::BIGINT AS pfe,
         s0 AS s,
         greatest(s0, e0) AS e_pre
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc, o.rn, o.event_id,
         CASE WHEN w.e_pre >= o.s0
              THEN least(w.e_pre, greatest(w.s, o.s0 - 1))
              ELSE w.e_pre END AS pfe_nxt,
         CASE WHEN pfe_nxt >= o.s0 THEN pfe_nxt + 1 ELSE o.s0 END AS s_nxt,
         greatest(s_nxt, greatest(o.s0, o.e0)) AS e_pre_nxt
  FROM walk w JOIN ordered o ON o.doc = w.doc AND o.rn = w.rn + 1)
SELECT w.doc, w.event_id, w.s AS start,
       coalesce(w2.pfe, w.e_pre) AS "end"
FROM walk w
LEFT JOIN walk w2 ON w2.doc = w.doc AND w2.rn = w.rn + 1
"""


def q38_gap_enforcement_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 reference-exact gap enforcement (``readjuster.py:1749-1804``):
    oversized gaps shrink to exactly max_gap by extending the PREVIOUS
    range's end, capped so the extension never reaches into a deleted
    span. Ranges synthesized disjoint (start = rn*20) with variable
    ends so some gaps exceed max_gap=10 and some don't; two fixed spans
    per doc exercise the cap."""
    from chronominer_spark.operators.ranges import enforce_max_gap_exact

    e = t(spark, sf_dir, "events")
    lines = e.select(
        (F.col("user_id") % 20).cast("long").alias("doc"), "event_id"
    )
    ranges = lines.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc").orderBy(F.col("event_id").asc())
        ).cast("long"),
    ).select(
        "doc", "event_id",
        (F.col("rn") * 20).alias("start"),
        (F.col("rn") * 20 + F.pmod(F.col("event_id"), F.lit(18)))
        .cast("long").alias("end"),
    )
    docs = lines.select("doc").distinct()
    spans = docs.select(
        "doc", F.lit(45).cast("long").alias("span_start"),
        F.lit(52).cast("long").alias("span_end"),
    ).unionByName(docs.select(
        "doc", F.lit(105).cast("long").alias("span_start"),
        F.lit(112).cast("long").alias("span_end"),
    ))
    out = enforce_max_gap_exact(ranges, "doc", max_gap=10,
                                order_col="event_id", deleted_spans=spans)
    return out.select("doc", "event_id", "start", "end")


_Q38_SQL = """
WITH ranges AS (
  SELECT (user_id % 20)::BIGINT AS doc, event_id,
         (rn * 20)::BIGINT AS start,
         (rn * 20 + (event_id % 18))::BIGINT AS "end"
  FROM (SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id % 20
                                  ORDER BY event_id ASC) AS rn
        FROM events)),
spans AS (
  SELECT DISTINCT doc, 45::BIGINT AS ss, 52::BIGINT AS se FROM ranges
  UNION ALL
  SELECT DISTINCT doc, 105::BIGINT, 112::BIGINT FROM ranges),
led AS (
  SELECT doc, event_id, start, "end",
         lead(start) OVER (PARTITION BY doc
                           ORDER BY start ASC, event_id ASC) AS ns
  FROM ranges),
cand AS (
  SELECT doc, event_id, start, "end",
         CASE WHEN ns IS NOT NULL AND ns - "end" - 1 > 10
              THEN ns - 10 - 1 END AS cd
  FROM led),
capped AS (
  SELECT c.doc, c.event_id, c.start, c."end", c.cd,
         min(s.ss - 1) AS cap
  FROM cand c LEFT JOIN spans s
    ON s.doc = c.doc AND s.se > c."end" AND s.ss <= c.cd
  GROUP BY c.doc, c.event_id, c.start, c."end", c.cd)
SELECT doc, event_id, start,
       coalesce(greatest("end", least(cd, coalesce(cap, cd))), "end")::BIGINT
         AS "end"
FROM capped
"""


def q39_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — the canonicalization step after pair
    generation: TWO jittered copies are planted per 10th vector
    (ids +1M and +2M), the guarded hyperplane-LSH near-dup detector
    produces the pair graph, and connected components assign every
    member its component-min ``cluster_id`` (so keep-one-per-cluster is
    ``id == cluster_id``). Transitivity is the point: copy₁–copy₂ may
    pair directly or only through the original; either way all three
    land in one cluster. Oracle: the q35-style LSH mirror for pairs +
    a recursive transitive-closure min-label."""
    from chronominer_spark.operators.dedup import dedup_clusters
    from chronominer_spark.operators.similarity import embedding_near_dups

    emb = t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )

    corpus = base.unionByName(
        _plant_jittered(base, 1_000_000, 31, 7, 3, 0.001)
    ).unionByName(_plant_jittered(base, 2_000_000, 37, 5, 2, 0.002))
    pairs = embedding_near_dups(
        corpus, threshold=0.99, dim=64, n_tables=6, n_bits=10, seed=7,
        plane_scheme="rademacher_md5",
    )
    return dedup_clusters(pairs).orderBy("id")


_Q39_SQL = """
WITH RECURSIVE base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
  FROM embeddings),
planted1 AS (
  SELECT orig_id + 1000000 AS vec_id, jemb AS embedding
  FROM (SELECT vec_id AS orig_id,
               list_transform(range(0, 64),
                 d -> embedding[d + 1]::DOUBLE
                      + 0.001 * (((vec_id * 31 + d) % 7) - 3)::DOUBLE) AS jemb
        FROM embeddings WHERE vec_id % 10 = 0)),
planted2 AS (
  SELECT orig_id + 2000000 AS vec_id, jemb AS embedding
  FROM (SELECT vec_id AS orig_id,
               list_transform(range(0, 64),
                 d -> embedding[d + 1]::DOUBLE
                      + 0.002 * (((vec_id * 37 + d) % 5) - 2)::DOUBLE) AS jemb
        FROM embeddings WHERE vec_id % 10 = 0)),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted1
           UNION ALL SELECT * FROM planted2),
p AS (
  SELECT t.range AS t, b.range AS b, d.range AS d,
         CASE WHEN substr(md5(7 || ':' || t.range || ':' || b.range || ':' || d.range), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END AS s
  FROM range(6) t, range(10) b, range(64) d),
bits AS (
  SELECT e.vec_id, p.t, p.b,
         CASE WHEN sum(p.s * e.embedding[p.d + 1]) >= 0 THEN '1' ELSE '0' END AS bit
  FROM corpus e CROSS JOIN p
  GROUP BY e.vec_id, p.t, p.b),
keys AS (
  SELECT vec_id, t, 't' || t || ':' || string_agg(bit, '' ORDER BY b) AS bucket
  FROM bits GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM keys q JOIN keys c ON q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x * x)))), 6) AS cosine
  FROM cand JOIN corpus a ON a.vec_id = cand.query_id
            JOIN corpus b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored),
pairs AS (
  SELECT query_id AS id_a, neighbor_id AS id_b
  FROM ranked
  WHERE rank <= 50 AND cosine >= 0.99 AND query_id < neighbor_id),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT DISTINCT src AS id, src AS label FROM edges
  UNION
  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON r.id = e.dst)
SELECT id, min(label)::BIGINT AS cluster_id FROM reach GROUP BY id
"""


def q40_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation — the composed pipeline a
    reference user actually runs: quality scoring → quality gate →
    language gate → exact dedup (content-hash winner) → per-source
    corpus accounting (kept docs, token budget, mean quality). Every
    stage is an already-oracle-verified operator (q22/q23/q17/q16);
    this query verifies their COMPOSITION end-to-end."""
    from chronominer_spark.operators.dedup import exact_dedup

    d = t(spark, sf_dir, "documents")
    kept = language_id(quality_features(d)).where(
        (F.col("quality_score") >= 0.5) & (F.col("lang_pred") == "en")
    )
    deduped = exact_dedup(kept, "doc_id", "text")
    # mean quality via integral-millionths summation: quality_score is
    # already round(x, 6), so round(score*1e6) is an exact long and the
    # sum is associative-exact — a plain avg(double) is last-ulp
    # sensitive to partial-merge ORDER (observed flipping the 6th
    # decimal under concurrent load), which an order-insensitive
    # cross-engine hash cannot tolerate
    q_micro = F.round(F.col("quality_score") * 1e6).cast("long")
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.round(F.sum(q_micro) / (F.count(F.lit(1)) * 1e6), 6)
        .alias("avg_quality"),
    )


def _mk_q40_sql() -> str:
    from chronominer_spark.operators.textstats import LANG_MARKERS, STOPWORDS

    ws_expr = ("string_split_regex(" + _NORM_SQL.format(col="coalesce(text, '')")
               + ", '\\s+')")
    _ = STOPWORDS  # stopword_ratio not used by the composite score
    scores_sql = ",\n         ".join(
        f"len(list_filter(ws, w -> list_contains({_sql_list(mk)}, w)))"
        f" / greatest(len(ws), 1) AS s_{lang}"
        for lang, mk in LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"s_{g}" for g in LANG_MARKERS) + ")"
    whens = "\n              ".join(
        f"WHEN s_{g} = {best} THEN '{g}'" for g in LANG_MARKERS
    )
    return f"""
WITH f AS (
  SELECT doc_id, source, text, coalesce(text, '') AS c, {ws_expr} AS ws
  FROM documents),
feat AS (
  SELECT doc_id, source, text, ws,
         len(list_filter(ws, w -> w <> '')) AS n_words,
         length(c) AS n_chars,
         length(c) - length(regexp_replace(c, '[^\\w\\s]', '', 'g')) AS n_punct,
         length(regexp_replace(c, '[^A-Za-z]', '', 'g')) AS n_alpha
  FROM f),
scored AS (
  SELECT doc_id, source, text, ws,
         round(0.4 * least(n_words / 20.0, 1.0)
               + 0.4 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars
                        ELSE 0.0 END)
               + 0.2 * (1.0 - least((CASE WHEN n_chars > 0
                                     THEN n_punct / n_chars ELSE 0.0 END) * 4,
                                    1.0)), 6) AS quality_score
  FROM feat),
lang AS (
  SELECT doc_id, source, text, quality_score,
         {scores_sql}
  FROM scored),
pred AS (
  SELECT doc_id, source, text, quality_score,
         CASE WHEN {best} = 0 THEN 'und'
              {whens}
         END AS lang_pred
  FROM lang),
kept AS (
  SELECT * FROM pred WHERE quality_score >= 0.5 AND lang_pred = 'en'),
keyed AS (
  SELECT *, md5({_NORM_SQL.format(col="coalesce(text, '')")}) AS ck
  FROM kept),
ded AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY ck
                                              ORDER BY doc_id ASC) AS rn
                 FROM keyed)
  WHERE rn = 1)
SELECT source, count(*) AS kept_docs,
       sum(len(regexp_extract_all(coalesce(text, ''),
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_tokens,
       round(sum(round(quality_score * 1e6)::BIGINT)
             / (count(*) * 1e6), 6) AS avg_quality
FROM ded GROUP BY source
"""


_Q40_SQL = _mk_q40_sql()


def q41_eval_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end EVALUATION lifecycle (the reference's other composed
    pipeline, ``/root/reference/eval/jsonl_eval.py:366-395`` +
    ``eval/metrics.py:495-674``): load two keyed snapshots → greedy
    fuzzy ENTRY matching within blocks (q30's operator) → align every
    entry on the resulting 1:1 pairing (matched pairs share a key,
    unmatched hyp entries get a synthetic never-matching key — J2's
    full-outer semantics over the MATCHING, not the raw ids) →
    field-level TP/FP/FN + guarded P/R/F1 per field (q11's operator) →
    micro/macro partial+final summary (A2/A3). One composed plan whose
    every stage is individually oracle-verified; this query verifies
    the composition.

    Planted structure: hyp drops every 5th doc (unmatched gt → FN),
    gt drops every 9th (unmatched hyp → FP), hyp mutates lang on every
    7th doc and shifts n_chars on every 11th (matched-pair field
    mismatches)."""
    from chronominer_spark.operators.evalmetrics import (field_metrics,
                                                         micro_macro_summary)
    from chronominer_spark.operators.fuzzy import fuzzy_match

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    block = (F.col("doc_id") % 80).cast("string").alias("block")
    gt_e = d.where(F.col("doc_id") % 9 != 0).select(
        block, F.col("doc_id").alias("gt_id"),
        F.substring("text", 1, 80).alias("snippet"),
        "lang", "source", "n_chars",
    )
    hyp_e = d.where(F.col("doc_id") % 5 != 0).select(
        block, (F.col("doc_id") + 1_000_000).alias("hyp_id"),
        F.substring(F.concat(F.col("text"), F.lit(" x")), 1, 80)
        .alias("snippet"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("lang"),
        "source",
        (F.col("n_chars")
         + (F.col("doc_id") % 11 == 0).cast("long")).alias("n_chars"),
    )
    matches = fuzzy_match(
        gt_e.select("block", "gt_id", "snippet"),
        hyp_e.select("block", "hyp_id", "snippet"),
        ["block"], "snippet", threshold=0.85,
    )
    hyp_k = (
        hyp_e.join(matches.select("hyp_id", "gt_id"), on="hyp_id", how="left")
        .withColumn("k", F.coalesce(F.col("gt_id"), -F.col("hyp_id")))
    )
    gt_k = gt_e.withColumn("k", F.col("gt_id"))
    fields = ["lang", "source", "n_chars"]
    m = field_metrics(hyp_k.select("k", *fields), gt_k.select("k", *fields),
                      ["k"], fields)
    s = micro_macro_summary(m)
    # micro carries the summed counts; macro's counts are 0 by convention
    # (a macro average has no natural count; an all-BIGINT column keeps
    # the cross-engine compare type-stable — a nullable BIGINT round-trips
    # through pandas as float64 on the DuckDB side)
    totals = m.agg(F.sum("tp").alias("__tp"), F.sum("fp").alias("__fp"),
                   F.sum("fn").alias("__fn"))
    s = s.crossJoin(totals).select(
        F.col("granularity").alias("metric"),
        F.when(F.col("granularity") == "micro", F.col("__tp"))
        .otherwise(F.lit(0)).cast("long").alias("tp"),
        F.when(F.col("granularity") == "micro", F.col("__fp"))
        .otherwise(F.lit(0)).cast("long").alias("fp"),
        F.when(F.col("granularity") == "micro", F.col("__fn"))
        .otherwise(F.lit(0)).cast("long").alias("fn"),
        "precision", "recall", "f1",
    )
    return m.select(
        F.col("field").alias("metric"), "tp", "fp", "fn",
        "precision", "recall", "f1",
    ).unionByName(s)


# Composition oracle: q30's recursive-CTE greedy walk over the q41
# snapshots, q11's per-field counting over the pairing-keyed full-outer
# alignment, and the micro/macro summary — each fragment mirrors the
# already-verified per-stage oracle.
_Q41_SQL = f"""
WITH RECURSIVE g AS (
  SELECT (doc_id % 80)::VARCHAR AS block, doc_id AS gt_id,
         {_NORM_SQL.format(col="substr(text, 1, 80)")} AS gn,
         lang, source, n_chars
  FROM documents WHERE doc_id < 400 AND doc_id % 9 <> 0),
h AS (
  SELECT (doc_id % 80)::VARCHAR AS block, doc_id + 1000000 AS hyp_id,
         {_NORM_SQL.format(col="substr(text || ' x', 1, 80)")} AS hn,
         CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
         source,
         n_chars + (CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS n_chars
  FROM documents WHERE doc_id < 400 AND doc_id % 5 <> 0),
cand AS (
  SELECT block, gt_id, hyp_id,
         round(CASE WHEN greatest(length(gn), length(hn)) = 0 THEN 1.0
               ELSE 1.0 - levenshtein(gn, hn)::DOUBLE
                          / greatest(length(gn), length(hn)) END, 6) AS score
  FROM g JOIN h USING (block)
  WHERE (CASE WHEN greatest(length(gn), length(hn)) = 0 THEN 1.0
         ELSE 1.0 - levenshtein(gn, hn)::DOUBLE
                    / greatest(length(gn), length(hn)) END) >= 0.85),
walk AS (
  SELECT block, gt_id, hyp_id, score, [gt_id] AS ug, [hyp_id] AS uh
  FROM (SELECT *, row_number() OVER (PARTITION BY block
          ORDER BY score DESC, gt_id, hyp_id) AS rn FROM cand)
  WHERE rn = 1
  UNION ALL
  SELECT w.block, nxt.gt_id, nxt.hyp_id, nxt.score,
         list_append(w.ug, nxt.gt_id), list_append(w.uh, nxt.hyp_id)
  FROM walk w, LATERAL (
    SELECT c.gt_id, c.hyp_id, c.score FROM cand c
    WHERE c.block = w.block
      AND NOT list_contains(w.ug, c.gt_id)
      AND NOT list_contains(w.uh, c.hyp_id)
    ORDER BY c.score DESC, c.gt_id, c.hyp_id
    LIMIT 1) nxt),
mt AS (SELECT gt_id, hyp_id FROM walk),
hk AS (
  SELECT coalesce(mt.gt_id, -h.hyp_id) AS k, h.lang, h.source, h.n_chars
  FROM h LEFT JOIN mt ON h.hyp_id = mt.hyp_id),
gk AS (SELECT gt_id AS k, lang, source, n_chars FROM g),
j AS (
  SELECT hk.k AS hkk, gk.k AS gkk,
         hk.lang AS hl, gk.lang AS gl,
         hk.source AS hs, gk.source AS gs,
         hk.n_chars AS hn, gk.n_chars AS gn
  FROM hk FULL OUTER JOIN gk ON hk.k = gk.k),
counts AS (
  SELECT 'lang' AS metric,
         sum(CASE WHEN hkk IS NOT NULL AND gkk IS NOT NULL
                   AND hl IS NOT DISTINCT FROM gl THEN 1 ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN (hkk IS NOT NULL AND gkk IS NOT NULL
                        AND hl IS DISTINCT FROM gl AND hl IS NOT NULL)
                    OR (gkk IS NULL AND hl IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT AS fp,
         sum(CASE WHEN (hkk IS NOT NULL AND gkk IS NOT NULL
                        AND hl IS DISTINCT FROM gl AND gl IS NOT NULL)
                    OR (hkk IS NULL AND gl IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT AS fn
  FROM j
  UNION ALL
  SELECT 'source',
         sum(CASE WHEN hkk IS NOT NULL AND gkk IS NOT NULL
                   AND hs IS NOT DISTINCT FROM gs THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN (hkk IS NOT NULL AND gkk IS NOT NULL
                        AND hs IS DISTINCT FROM gs AND hs IS NOT NULL)
                    OR (gkk IS NULL AND hs IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN (hkk IS NOT NULL AND gkk IS NOT NULL
                        AND hs IS DISTINCT FROM gs AND gs IS NOT NULL)
                    OR (hkk IS NULL AND gs IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT
  FROM j
  UNION ALL
  SELECT 'n_chars',
         sum(CASE WHEN hkk IS NOT NULL AND gkk IS NOT NULL
                   AND hn IS NOT DISTINCT FROM gn THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN (hkk IS NOT NULL AND gkk IS NOT NULL
                        AND hn IS DISTINCT FROM gn AND hn IS NOT NULL)
                    OR (gkk IS NULL AND hn IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT,
         sum(CASE WHEN (hkk IS NOT NULL AND gkk IS NOT NULL
                        AND hn IS DISTINCT FROM gn AND gn IS NOT NULL)
                    OR (hkk IS NULL AND gn IS NOT NULL) THEN 1 ELSE 0 END)::BIGINT
  FROM j),
ratios AS (
  SELECT metric, tp, fp, fn,
         round(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp) END, 6) AS precision,
         round(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn) END, 6) AS recall,
         round(CASE WHEN (CASE WHEN tp+fp=0 THEN 0.0 ELSE tp/(tp+fp) END)
                       + (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp/(tp+fn) END) = 0 THEN 0.0
               ELSE 2 * (CASE WHEN tp+fp=0 THEN 0.0 ELSE tp/(tp+fp) END)
                      * (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp/(tp+fn) END)
                    / ((CASE WHEN tp+fp=0 THEN 0.0 ELSE tp/(tp+fp) END)
                       + (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp/(tp+fn) END)) END, 6) AS f1
  FROM counts),
micro AS (
  SELECT sum(tp)::BIGINT AS tp, sum(fp)::BIGINT AS fp, sum(fn)::BIGINT AS fn
  FROM ratios),
micro_row AS (
  SELECT 'micro' AS metric, tp, fp, fn,
         round(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fp) END, 6) AS precision,
         round(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp::DOUBLE / (tp + fn) END, 6) AS recall,
         round(CASE WHEN (CASE WHEN tp+fp=0 THEN 0.0 ELSE tp::DOUBLE/(tp+fp) END)
                       + (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp::DOUBLE/(tp+fn) END) = 0 THEN 0.0
               ELSE 2 * (CASE WHEN tp+fp=0 THEN 0.0 ELSE tp::DOUBLE/(tp+fp) END)
                      * (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp::DOUBLE/(tp+fn) END)
                    / ((CASE WHEN tp+fp=0 THEN 0.0 ELSE tp::DOUBLE/(tp+fp) END)
                       + (CASE WHEN tp+fn=0 THEN 0.0 ELSE tp::DOUBLE/(tp+fn) END)) END, 6) AS f1
  FROM micro),
macro_row AS (
  SELECT 'macro' AS metric, 0::BIGINT AS tp, 0::BIGINT AS fp,
         0::BIGINT AS fn,
         round(avg(precision), 6) AS precision,
         round(avg(recall), 6) AS recall,
         round(avg(f1), 6) AS f1
  FROM ratios)
SELECT metric, tp, fp, fn, precision, recall, f1 FROM ratios
UNION ALL SELECT * FROM micro_row
UNION ALL SELECT * FROM macro_row
"""


def q42_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-semantics near-dup detection, driver-verified: the
    documents table is ingested as three deterministic micro-batches
    (doc_id % 3) through :class:`IncrementalNearDup`'s foreachBatch fold
    (append-only band-bucket state; each pair emitted once, at the batch
    where its later doc arrives) and the union of per-batch emissions is
    returned. The oracle is the BATCH banded-LSH candidate set over the
    full corpus — the exactly-once-across-batches contract is therefore
    checked by the driver, not just pytest. State lives in a throwaway
    temp dir; the result is checkpointed off it before cleanup."""
    import shutil
    import tempfile

    from chronominer_spark.streaming.dedup_stream import IncrementalNearDup

    d = t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="cm_q42_")
    try:
        inc = IncrementalNearDup(spark, root, "doc_id", "text",
                                 k=3, num_hashes=16, bands=8)
        for i in range(3):
            inc.process_batch(
                d.where(F.pmod(F.col("doc_id"), F.lit(3)) == i), i)
        return inc.result().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_Q42_SQL = _mk_q19_sql(candidates_only=True)


def q43_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-semantics exact dedup, driver-verified: documents are
    ingested as three deterministic micro-batches (doc_id % 3) through
    :class:`IncrementalExactDedup`'s compacted content-key state fold,
    then the survivors are profiled per source exactly like q17 — the
    oracle IS q17's SQL, so the driver checks that the incremental fold
    and the one-shot batch dedup reach the same fixed point (the
    min-struct winner and summed dup_count folds are associative and
    commutative; this proves it across an arbitrary batch split)."""
    import shutil
    import tempfile

    from chronominer_spark.streaming.dedup_stream import IncrementalExactDedup

    d = t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="cm_q43_")
    try:
        inc = IncrementalExactDedup(spark, root, "doc_id", "text")
        for i in range(3):
            inc.process_batch(
                d.where(F.pmod(F.col("doc_id"), F.lit(3)) == i), i)
        kept = inc.result().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum((F.col("dup_count") > 1).cast("long")).alias("kept_with_dups"),
    )


def q44_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal corpus curation composition: opaque binary payloads →
    the REAL Arrow ``mapInPandas`` feature path (byte size + sha256,
    q36's verified plumbing) → exact payload dedup (hash-agg winner per
    payload_sha, q17's plan shape on binary content) → per-kind
    accounting. The dedup keys on the UDF-computed sha, so the oracle
    cross-checks the Arrow path's output *through* a downstream
    aggregation, not just row-by-row."""
    from chronominer_spark.operators.multimodal import extract_features

    d = t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("payload"),
    )
    feats = extract_features(media, batch_rows=256)
    won = feats.groupBy("payload_sha").agg(
        F.min(F.struct("media_id", "kind", "byte_size")).alias("__w"),
        F.count(F.lit(1)).alias("dup_count"),
    ).select("__w.*", "dup_count")
    return won.groupBy("kind").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("byte_size").alias("bytes_total"),
        F.sum((F.col("dup_count") > 1).cast("long")).alias("kept_with_dups"),
    )


_Q44_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
         octet_length(encode(coalesce(text, '')))::BIGINT AS byte_size,
         sha256(coalesce(text, '')) AS payload_sha
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY payload_sha
                               ORDER BY media_id) AS rn,
         count(*) OVER (PARTITION BY payload_sha) AS dup_count
  FROM m)
SELECT kind, count(*) AS kept, sum(byte_size)::BIGINT AS bytes_total,
       sum(CASE WHEN dup_count > 1 THEN 1 ELSE 0 END)::BIGINT AS kept_with_dups
FROM r WHERE rn = 1 GROUP BY kind
"""


def q45_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard similarity join via prefix
    filtering (PPJoin-family) — the deterministic complement to q19's
    probabilistic MinHash-LSH path: guaranteed to surface EVERY pair
    with jaccard >= 0.25, not just pairs that happen to collide in a
    band. The corpus is shingled and hashed once (persisted) and feeds
    both the prefix index and the verification stage. Oracle: full
    DuckDB mirror of frequency-ordered prefixes → prefix-token join →
    size filter → exact Jaccard verify."""
    from pyspark import StorageLevel

    from chronominer_spark.operators.dedup import shingle_hash_docs

    d = t(spark, sf_dir, "documents") \
        .repartition(spark.sparkContext.defaultParallelism)
    fh = shingle_hash_docs(d, "doc_id", "text", k=3) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    out = prefix_jaccard_pairs(d, "doc_id", "text", threshold=0.25, k=3,
                               hash_df=fh)
    res = out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    return res


_Q45_SQL = """
WITH norm AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
                         i -> array_to_string(w[i:i+2], ' ')))
         ELSE [array_to_string(w, ' ')] END AS shingles
  FROM norm),
ex AS (SELECT doc_id, unnest(shingles) AS tok FROM sh),
freq AS (SELECT tok, count(*)::BIGINT AS dfq FROM ex GROUP BY tok),
sizes AS (SELECT doc_id, len(shingles)::BIGINT AS n FROM sh),
ranked AS (
  SELECT e.doc_id, e.tok, s.n,
         row_number() OVER (PARTITION BY e.doc_id
                            ORDER BY f.dfq, e.tok) AS rn
  FROM ex e JOIN freq f USING (tok) JOIN sizes s USING (doc_id)),
pre AS (
  SELECT doc_id, tok, n FROM ranked
  WHERE rn <= n - ceil(0.25 * n) + 1),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pre a JOIN pre b USING (tok)
  WHERE a.doc_id < b.doc_id
    AND least(a.n, b.n) >= 0.25 * greatest(a.n, b.n)),
inter AS (
  SELECT p.id_a, p.id_b, count(*)::BIGINT AS i
  FROM pairs p
  JOIN ex ea ON ea.doc_id = p.id_a
  JOIN ex eb ON eb.doc_id = p.id_b AND eb.tok = ea.tok
  GROUP BY 1, 2)
SELECT t.id_a, t.id_b, round(t.i / (sa.n + sb.n - t.i), 6) AS jaccard
FROM inter t
JOIN sizes sa ON sa.doc_id = t.id_a
JOIN sizes sb ON sb.doc_id = t.id_b
WHERE t.i / (sa.n + sb.n - t.i) >= 0.25
"""


def q46_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source hash sampling — the data-mixing
    primitive: rates are binary-exact fractions so the rate·buckets
    threshold is the same integer in every engine; selection is a pure
    scan-side filter (no RNG, no shuffle, stable under
    repartitioning)."""
    from chronominer_spark.operators.sampling import (
        portable_bucket,
        stratified_hash_sample,
    )

    d = t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        d, "doc_id", "source",
        rates={"src0": 1.0, "src1": 0.25, "src2": 0.5},
        default_rate=0.125)
    return out.select(
        "doc_id", "source", portable_bucket("doc_id").alias("bucket"))


_Q46_SQL = """
WITH b AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT
          % 1000000)::BIGINT AS bucket
  FROM documents)
SELECT doc_id, source, bucket FROM b
WHERE bucket < CASE source WHEN 'src0' THEN 1000000
                           WHEN 'src1' THEN 250000
                           WHEN 'src2' THEN 500000
                           ELSE 125000 END
"""


def q47_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget data mixing: priority order (token count
    desc, doc_id asc), keep the prefix whose inclusive cumulative token
    count fits the source's budget. The two-phase bucketed rewrite for
    skewed sources is pytest-verified equal
    (tests/test_sampling.py::test_token_budget_mix_bucketed_matches_windowed)."""
    from chronominer_spark.operators.sampling import token_budget_mix

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source",
        F.size(F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
                       r"\s+")).cast("long").alias("n_tok"))
    out = token_budget_mix(
        toks, "source", "n_tok",
        budgets={"src0": 500, "src1": 0}, default_budget=300,
        order_cols=[F.col("n_tok").desc(), F.col("doc_id").asc()],
        with_cum=True)
    return out.select("doc_id", "source", "n_tok", "cum_tokens")


_Q47_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         len(string_split_regex(lower(trim(coalesce(text, ''))),
             '\\s+'))::BIGINT AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM toks)
SELECT doc_id, source, n_tok, cum_tokens FROM c
WHERE cum_tokens <= CASE source WHEN 'src0' THEN 500
                                WHEN 'src1' THEN 0 ELSE 300 END
"""


def q48_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 10th document plays the role of
    a held-out eval set; the remaining corpus is profiled for word
    3-gram overlap against it and flagged at overlap_frac >= 0.5. The
    benchmark shingle set is BROADCAST (eval suites are bounded no
    matter how large the corpus), the corpus is shingled once and the
    only exchange is the per-doc hit-count hash aggregate — the plan a
    100-TB decontamination pass needs. Planted near-copies of benchmark
    docs surface at overlap_frac = 1.0."""
    from chronominer_spark.operators.decontam import decontaminate

    d = t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 10 == 0)
    corpus = d.where(F.col("doc_id") % 10 != 0)
    return decontaminate(corpus, bench, "doc_id", "text",
                         k=3, threshold=0.5)


_Q48_SQL = """
WITH norm AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
                         i -> array_to_string(w[i:i+2], ' ')))
         ELSE [array_to_string(w, ' ')] END AS shingles
  FROM norm),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 10 = 0),
ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 10 <> 0),
counted AS (
  SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_overlap
  FROM ex e LEFT JOIN bench b USING (shingle)
  GROUP BY e.doc_id)
SELECT doc_id, n_shingles, n_overlap,
       round(n_overlap * 1.0 / n_shingles, 6) AS overlap_frac,
       n_overlap * 1.0 / n_shingles >= 0.5 AS contaminated
FROM counted
"""


def q49_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family within-document repetition filters: duplicate-word
    fraction, duplicate-bigram fraction, and modal-bigram coverage per
    doc, with the `repetitive` flag at (dup_ngram > 0.08 OR top_ngram >
    0.1) — thresholds placed mid-distribution for this corpus so both
    branches of the flag are exercised. Complements the cross-document
    dedup family (q17-q20): this catches repetition INSIDE one doc."""
    from chronominer_spark.operators.textstats import repetition_features

    d = t(spark, sf_dir, "documents")
    return repetition_features(d, "doc_id", "text", k=2,
                               max_dup_ngram_frac=0.08,
                               max_top_ngram_frac=0.1)


_Q49_SQL = """
WITH norm AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM documents),
base AS (
  SELECT doc_id, len(w)::BIGINT AS n_words,
         len(list_distinct(w))::BIGINT AS ndw,
         CASE WHEN len(w) >= 2 THEN
           list_transform(range(1, len(w)),
                          i -> array_to_string(w[i:i+1], ' '))
         ELSE [] END AS grams
  FROM norm),
ex AS (SELECT doc_id, unnest(grams) AS gram FROM base),
pg AS (SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM ex GROUP BY 1, 2),
pd AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_grams, count(*)::BIGINT AS ndg,
         max(cnt)::BIGINT AS top
  FROM pg GROUP BY 1)
SELECT b.doc_id, b.n_words,
       round(1.0 - b.ndw / greatest(b.n_words, 1), 6) AS dup_word_frac,
       coalesce(p.n_grams, 0) AS n_grams,
       round(CASE WHEN coalesce(p.n_grams, 0) > 0
             THEN 1.0 - p.ndg / p.n_grams ELSE 0.0 END, 6) AS dup_ngram_frac,
       round(CASE WHEN coalesce(p.n_grams, 0) > 0
             THEN p.top * 1.0 / p.n_grams ELSE 0.0 END, 6) AS top_ngram_frac,
       (CASE WHEN coalesce(p.n_grams, 0) > 0
             THEN 1.0 - p.ndg / p.n_grams ELSE 0.0 END) > 0.08
       OR (CASE WHEN coalesce(p.n_grams, 0) > 0
             THEN p.top * 1.0 / p.n_grams ELSE 0.0 END) > 0.1 AS repetitive
FROM base b LEFT JOIN pd p USING (doc_id)
"""


def q50_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: deterministic synthetic PII (an email, a phone,
    or an IPv4, keyed by doc_id % 4 — the corpus itself is PII-free, so
    the query plants what it must find) is appended to each doc, then
    detected and redacted with the engine-portable patterns of
    operators/pii.py. Per-source audit row: docs, per-kind match
    totals, docs carrying any PII, and the redacted-text character sum
    — the last verifies the REPLACEMENT itself cross-engine, not just
    the counts. Pure regex projections in one scan + one map-side-
    combining aggregate: the shape of a 100-TB scrub pass."""
    from chronominer_spark.operators.pii import redact_pii

    d = t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    suffix = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit(" contact user"), sid,
                        F.lit("@example.com now")))
        .when(F.col("doc_id") % 4 == 1, F.lit(" call +1 555-123-4567 today"))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit(" seen from 10.0."),
                       (F.col("doc_id") % 256).cast("string"), F.lit(".7")))
        .otherwise(F.lit("")))
    seeded = d.withColumn("text", F.concat(F.col("text"), suffix))
    red = redact_pii(seeded, "text")
    any_pii = ((F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")) > 0)
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_phone").alias("phones"),
        F.sum("n_ipv4").alias("ips"),
        F.sum(any_pii.cast("long")).alias("docs_with_pii"),
        F.sum(F.length("redacted")).alias("redacted_chars"),
    )


_Q50_SQL = r"""
WITH seeded AS (
  SELECT source,
         text || CASE doc_id % 4
           WHEN 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
           WHEN 1 THEN ' call +1 555-123-4567 today'
           WHEN 2 THEN ' seen from 10.0.' || (doc_id % 256)::VARCHAR || '.7'
           ELSE '' END AS text
  FROM documents),
red AS (
  SELECT source,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
           AS n_email,
         len(regexp_extract_all(text,
             '(\+[0-9]{1,3}[ -])?[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT
           AS n_phone,
         len(regexp_extract_all(text,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT
           AS n_ipv4,
         regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '(\+[0-9]{1,3}[ -])?[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')
           AS redacted
  FROM seeded)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_email)::BIGINT AS emails,
       sum(n_phone)::BIGINT AS phones,
       sum(n_ipv4)::BIGINT AS ips,
       sum(CASE WHEN n_email + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END)::BIGINT
         AS docs_with_pii,
       sum(len(redacted))::BIGINT AS redacted_chars
FROM red GROUP BY source
"""


def q51_monotonicity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering-monotonicity audit (the operator behind the engine's
    ``monotone`` constraint): every 13th event's timestamp is
    deterministically pulled 2 hours backwards — the generated stream
    is perfectly ordered, so the query plants what it must find — and
    ``out_of_order`` surfaces exactly the rows that now precede their
    per-user predecessor in event_id order. One window partitioned by
    user_id; per-group state is a single lag value."""
    from chronominer_spark.operators.ranges import out_of_order

    e = t(spark, sf_dir, "events")
    perturbed = e.withColumn(
        "ts",
        F.when(F.col("event_id") % 13 == 0,
               F.col("ts") - F.expr("INTERVAL 2 HOURS"))
        .otherwise(F.col("ts")))
    bad = out_of_order(perturbed, "ts", ["user_id"], ["event_id"],
                       prev_col="prev_ts")
    # parquet NTZ timestamps don't cast to long directly; the session
    # timezone is pinned UTC so the LTZ hop is epoch-exact
    def epoch(c):
        return F.col(c).cast("timestamp").cast("long")

    return bad.select(
        "user_id", "event_id",
        epoch("ts").alias("ts_epoch"),
        epoch("prev_ts").alias("prev_epoch"))


_Q51_SQL = """
WITH p AS (
  SELECT user_id, event_id,
         CASE WHEN event_id % 13 = 0 THEN ts - INTERVAL 2 HOUR
              ELSE ts END AS ts
  FROM events),
x AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
  FROM p)
SELECT user_id, event_id,
       floor(epoch(ts))::BIGINT AS ts_epoch,
       floor(epoch(prev_ts))::BIGINT AS prev_epoch
FROM x WHERE prev_ts IS NOT NULL AND ts < prev_ts
"""


_Q52_QS = [0.5, 0.9, 0.99]


def q52_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile drift between snapshots (the math behind the engine's
    ``drift_quantile`` constraint, engine path pytest-verified): even
    events are the reference, odd events the current snapshot with a
    deterministic +20% planted on click values — a tail-heavy shift
    PSI/KS histograms can smear away. Per (event_type, q): sketch-based
    drift via percentile_approx on both sides. Like q29, the sketch
    value itself has no SQL mirror, so the emitted contract is the
    EXACT drift (computable identically in both engines) plus a
    RANK-window verdict — the only sound envelope for an element-valued
    sketch: a value-relative bound fails at the tail where the
    inter-element gap can be half the value (measured: p99 gap 46% of
    value at n≈100). The GK sketch guarantees rank error ≤ n/accuracy
    (< 1 element here), so each side's sketch value must lie within the
    exact quantile envelope [q−0.02, q+0.02] (sound for n ≥ 50, the
    foldable-literal form both engines compute identically);
    ``within_bound`` = both sides inside their envelopes. The oracle
    asserts the verdict TRUE per row."""
    e = t(spark, sf_dir, "events")
    ref = e.where(F.col("event_id") % 2 == 0)
    cur = e.where(F.col("event_id") % 2 == 1).withColumn(
        "value",
        F.when(F.col("event_type") == "click", F.col("value") * 1.2)
        .otherwise(F.col("value")))
    delta = 0.02
    q_arr = F.array(*[F.lit(q) for q in _Q52_QS])
    lo_arr = F.array(*[F.lit(max(q - delta, 0.0)) for q in _Q52_QS])
    hi_arr = F.array(*[F.lit(min(q + delta, 1.0)) for q in _Q52_QS])

    def quants(side: DataFrame, tag: str) -> DataFrame:
        return (
            side.groupBy("event_type").agg(
                F.percentile_approx("value", q_arr, F.lit(2500)).alias("__a"),
                F.percentile("value", q_arr).alias("__x"),
                F.percentile("value", lo_arr).alias("__lo"),
                F.percentile("value", hi_arr).alias("__hi"))
            .select(
                "event_type",
                F.explode(F.arrays_zip(
                    F.array(*[F.lit(q) for q in _Q52_QS]).alias("q"),
                    F.col("__a").alias(f"{tag}_a"),
                    F.col("__x").alias(f"{tag}_x"),
                    F.col("__lo").alias(f"{tag}_lo"),
                    F.col("__hi").alias(f"{tag}_hi"))).alias("z"))
            .select("event_type", F.col("z.q").alias("q"),
                    f"z.{tag}_a", f"z.{tag}_x", f"z.{tag}_lo", f"z.{tag}_hi")
        )

    def in_env(tag: str) -> F.Column:
        eps = 1e-9
        return (F.col(f"{tag}_a") >= F.col(f"{tag}_lo") - eps) \
            & (F.col(f"{tag}_a") <= F.col(f"{tag}_hi") + eps)

    return (
        quants(cur, "c").join(quants(ref, "r"), ["event_type", "q"])
        .select(
            "event_type", "q",
            F.round(F.abs(F.col("c_x") - F.col("r_x")), 4)
            .alias("exact_drift"),
            (in_env("c") & in_env("r")).alias("within_bound"))
    )


_Q52_SQL = "\nUNION ALL\n".join(
    f"""SELECT event_type, {q}::DOUBLE AS q,
       round(abs(
         quantile_cont(CASE WHEN event_id % 2 = 1 THEN
           CASE WHEN event_type = 'click' THEN value * 1.2 ELSE value END
         END, {q})
         - quantile_cont(CASE WHEN event_id % 2 = 0 THEN value END, {q})
       ), 4) AS exact_drift,
       TRUE AS within_bound
    FROM events GROUP BY event_type"""
    for q in _Q52_QS
)


def q53_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy-hitter detection — the hot-key scout run
    before committing to a shuffle strategy. Two hot keys are planted
    deterministically (user_id%5 → 'hot_a' ≈20% of the stream,
    user_id%6 → 'hot_b' ≈13%; the generated stream is skew-free, so
    the query plants what it must find). The sketch summary is
    stream-order-dependent, so the emitted rows are the DETERMINISTIC
    heavy set (exact count·(k+1) > n, identically computable in both
    engines) with the MG contract as verdicts: every such key must be
    found, with exact−n/(k+1) ≤ est ≤ exact. Oracle asserts both TRUE."""
    from chronominer_spark.operators.sketches import heavy_hitters

    k = 8
    e = t(spark, sf_dir, "events")
    keyed = e.select(
        F.when(F.col("user_id") % 5 == 0, F.lit("hot_a"))
        .when(F.col("user_id") % 6 == 0, F.lit("hot_b"))
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .alias("item"))
    sketch = heavy_hitters(keyed, "item", k=k)
    exact = keyed.groupBy("item").agg(F.count(F.lit(1)).alias("exact_count"))
    n_df = keyed.agg(F.count(F.lit(1)).alias("__n"))
    heavy = (
        exact.crossJoin(F.broadcast(n_df))
        .where(F.col("exact_count") * (k + 1) > F.col("__n"))
    )
    return (
        heavy.join(sketch, "item", "left")
        .select(
            "item", "exact_count",
            F.col("est_count").isNotNull().alias("found"),
            (F.col("est_count").isNotNull()
             & (F.col("est_count") <= F.col("exact_count"))
             & ((F.col("exact_count") - F.col("est_count")) * (k + 1)
                <= F.col("__n"))).alias("bounds_ok"))
    )


_Q53_SQL = """
WITH keyed AS (
  SELECT CASE WHEN user_id % 5 = 0 THEN 'hot_a'
              WHEN user_id % 6 = 0 THEN 'hot_b'
              ELSE 'u' || user_id::VARCHAR END AS item
  FROM events),
exact AS (SELECT item, count(*)::BIGINT AS exact_count FROM keyed GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n FROM keyed)
SELECT item, exact_count, TRUE AS found, TRUE AS bounds_ok
FROM exact, n WHERE exact_count * 9 > n
"""


def q54_suite_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The constraint ENGINE itself under the driver's oracle gate:
    SuiteEvaluator.evaluate() runs a seven-family suite (not_null,
    in_range, inline-vocab RI, salted unique, monotone, declared-schema
    conformance, per-group contiguity) over orders
    partitioned by o_orderpriority, and the oracle recomputes every
    per-partition result row — partition lineage, observed rate,
    threshold, violation count, pass verdict — in plain SQL. The
    engine families are individually pytest-verified; this row makes
    the composed evaluate() output itself driver-checked. The
    contiguity family runs over raw order keys, which are nowhere
    1..n — every group fails by construction, so this row checks the
    family's ARITHMETIC (q57 checks its planted-damage signal)."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        contiguous,
        in_range,
        monotone,
        not_null,
        referential,
        schema_match,
        unique,
    )

    o = t(spark, sf_dir, "orders")
    suite = ConstraintSuite(
        name="orders_audit",
        constraints=(
            not_null("o_custkey"),
            in_range("o_totalprice", lo=0.0, hi=450000.0),
            referential("o_orderstatus", vocab=["O", "F"]),
            unique("o_orderkey"),
            monotone("o_orderdate", ["o_custkey"], ["o_orderkey"]),
            schema_match({
                "o_orderkey": "bigint", "o_custkey": "bigint",
                "o_orderstatus": "string", "o_totalprice": "double",
                "o_orderdate": "timestamp_ntz",
                "o_orderpriority": "string"}),
            contiguous("o_orderkey", over="o_custkey"),
        ),
        partition_col="o_orderpriority",
        partition_fmt="prio=%s",
        key_cols=("o_orderkey",),
    )
    res, _ = SuiteEvaluator(spark, suite).evaluate(
        o, with_violations=False)
    return res.select(
        "partition_id", "constraint_id", "snapshot_id", "passed",
        F.round("observed", 6).alias("observed"),
        F.round("threshold", 6).alias("threshold"),
        "rows_checked", "violation_count")


_Q54_SQL = """
WITH base AS (
  SELECT 'prio=' || o_orderpriority AS pid, * FROM orders),
mono AS (
  SELECT pid,
         CASE WHEN o_orderdate IS NOT NULL
                   AND lag(o_orderdate) OVER w IS NOT NULL
                   AND o_orderdate < lag(o_orderdate) OVER w
              THEN 1 ELSE 0 END AS bad
  FROM base
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)),
uq AS (
  SELECT pid, sum(cnt - 1)::BIGINT AS excess, sum(cnt)::BIGINT AS rows_c
  FROM (SELECT pid, o_orderkey, count(*)::BIGINT AS cnt
        FROM base GROUP BY 1, 2)
  GROUP BY pid),
contig AS (
  SELECT pid, count(*)::BIGINT AS n_groups, sum(n)::BIGINT AS rows_c,
         sum(CASE WHEN lo <> 1 OR hi <> n THEN 1 ELSE 0 END)::BIGINT AS bad
  FROM (SELECT pid, o_custkey, count(DISTINCT o_orderkey)::BIGINT AS n,
               min(o_orderkey) AS lo, max(o_orderkey) AS hi
        FROM base GROUP BY 1, 2)
  GROUP BY pid)
SELECT pid AS partition_id, 'not_null:o_custkey' AS constraint_id,
       0::BIGINT AS snapshot_id,
       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed,
       round(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS observed,
       0.0 AS threshold, count(*)::BIGINT AS rows_checked,
       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS violation_count
FROM base GROUP BY pid
UNION ALL
SELECT pid, 'range:o_totalprice', 0::BIGINT,
       sum(CASE WHEN o_totalprice IS NOT NULL
                AND (o_totalprice < 0.0 OR o_totalprice > 450000.0)
           THEN 1 ELSE 0 END) = 0,
       round(sum(CASE WHEN o_totalprice IS NOT NULL
                 AND (o_totalprice < 0.0 OR o_totalprice > 450000.0)
             THEN 1 ELSE 0 END) * 1.0 / count(*), 6),
       0.0, count(*)::BIGINT,
       sum(CASE WHEN o_totalprice IS NOT NULL
                AND (o_totalprice < 0.0 OR o_totalprice > 450000.0)
           THEN 1 ELSE 0 END)::BIGINT
FROM base GROUP BY pid
UNION ALL
SELECT pid, 'ri:o_orderstatus', 0::BIGINT,
       sum(CASE WHEN o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O', 'F')
           THEN 1 ELSE 0 END) = 0,
       round(sum(CASE WHEN o_orderstatus IS NOT NULL
                 AND o_orderstatus NOT IN ('O', 'F')
             THEN 1 ELSE 0 END) * 1.0 / count(*), 6),
       0.0, count(*)::BIGINT,
       sum(CASE WHEN o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O', 'F')
           THEN 1 ELSE 0 END)::BIGINT
FROM base GROUP BY pid
UNION ALL
SELECT pid, 'unique:o_orderkey', 0::BIGINT, excess = 0,
       round(excess * 1.0 / rows_c, 6), 0.0, rows_c, excess
FROM uq
UNION ALL
SELECT pid, 'mono:o_orderdate', 0::BIGINT, sum(bad) = 0,
       round(sum(bad) * 1.0 / count(*), 6), 0.0,
       count(*)::BIGINT, sum(bad)::BIGINT
FROM mono GROUP BY pid
UNION ALL
SELECT pid, 'contig:o_orderkey/o_custkey', 0::BIGINT, bad = 0,
       round(bad * 1.0 / n_groups, 6), 0.0, rows_c, bad
FROM contig
UNION ALL
SELECT '__table__', 'schema:table', 0::BIGINT, TRUE, 0.0, 0.0,
       6::BIGINT, 0::BIGINT
"""


def q55_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 curation funnel: repetition gate (q49) →
    decontamination gate (q48) → quality gate (q22/q40) → exact dedup
    winner (q17), with PER-STAGE survivor counts per source — the
    drop-accounting view an operator of a real corpus pipeline watches.
    Gates are computed as flags in one joined frame (every join keyed
    doc_id) and the funnel falls out of conditional sums in a single
    aggregate, not four sequential filtered scans. Every stage is an
    individually-oracle-verified operator; this verifies the composed
    funnel."""
    from chronominer_spark.operators.decontam import decontaminate
    from chronominer_spark.operators.textstats import repetition_features

    docs = t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0)
    d = docs.where(F.col("doc_id") % 10 != 0)

    rep = repetition_features(d, "doc_id", "text", k=2,
                              max_dup_ngram_frac=0.08,
                              max_top_ngram_frac=0.1) \
        .select("doc_id", "repetitive")
    dec = decontaminate(d, bench, "doc_id", "text", k=3, threshold=0.5) \
        .select("doc_id", "contaminated")
    qual = quality_features(d).select(
        "doc_id", "source", "text", "quality_score")

    flags = (
        qual.join(rep, "doc_id").join(dec, "doc_id")
        .withColumn("p_rep", ~F.col("repetitive"))
        .withColumn("p_dec", F.col("p_rep") & ~F.col("contaminated"))
        .withColumn("p_q", F.col("p_dec") & (F.col("quality_score") >= 0.5))
    )
    ck = F.md5(normalize_text(F.coalesce(F.col("text"), F.lit(""))))
    winners = (
        flags.where("p_q")
        .withColumn("__ck", ck)
        .groupBy("__ck").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("kept"))
    )
    return (
        flags.join(winners, "doc_id", "left")
        .groupBy("source").agg(
            F.count(F.lit(1)).alias("n_input"),
            F.sum(F.col("p_rep").cast("long")).alias("pass_repetition"),
            F.sum(F.col("p_dec").cast("long")).alias("pass_decontam"),
            F.sum(F.col("p_q").cast("long")).alias("pass_quality"),
            F.sum(F.coalesce(F.col("kept"), F.lit(False)).cast("long"))
            .alias("kept_docs"),
            F.sum(F.when(F.coalesce(F.col("kept"), F.lit(False)),
                         token_count("text")).otherwise(0))
            .alias("total_tokens"),
        )
    )


def _mk_q55_sql() -> str:
    norm = _NORM_SQL.format(col="coalesce(text, '')")
    return f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
norm AS (
  SELECT doc_id, string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM corpus),
repb AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2 THEN
           list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
         ELSE [] END AS grams
  FROM norm),
repx AS (SELECT doc_id, unnest(grams) AS gram FROM repb),
reppg AS (SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM repx GROUP BY 1, 2),
reppd AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_grams, count(*)::BIGINT AS ndg,
         max(cnt)::BIGINT AS top
  FROM reppg GROUP BY 1),
rep AS (
  SELECT b.doc_id,
         (CASE WHEN coalesce(p.n_grams, 0) > 0
               THEN 1.0 - p.ndg / p.n_grams ELSE 0.0 END) > 0.08
         OR (CASE WHEN coalesce(p.n_grams, 0) > 0
               THEN p.top * 1.0 / p.n_grams ELSE 0.0 END) > 0.1 AS repetitive
  FROM repb b LEFT JOIN reppd p USING (doc_id)),
shall AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3 THEN
           list_distinct(list_transform(range(1, len(w) - 1),
                         i -> array_to_string(w[i:i+2], ' ')))
         ELSE [array_to_string(w, ' ')] END AS shingles
  FROM (SELECT doc_id,
               string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
        FROM documents)),
benchsh AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM shall WHERE doc_id % 10 = 0),
corpx AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shall WHERE doc_id % 10 <> 0),
dec AS (
  SELECT e.doc_id,
         sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0
           / count(*) >= 0.5 AS contaminated
  FROM corpx e LEFT JOIN benchsh b USING (shingle) GROUP BY e.doc_id),
feat AS (
  SELECT doc_id, source, text,
         len(list_filter(string_split_regex({norm}, '\\s+'),
                         w -> w <> '')) AS n_words,
         length(coalesce(text, '')) AS n_chars,
         length(coalesce(text, ''))
           - length(regexp_replace(coalesce(text, ''), '[^\\w\\s]', '', 'g'))
           AS n_punct,
         length(regexp_replace(coalesce(text, ''), '[^A-Za-z]', '', 'g'))
           AS n_alpha
  FROM corpus),
scored AS (
  SELECT doc_id, source, text,
         round(0.4 * least(n_words / 20.0, 1.0)
               + 0.4 * (CASE WHEN n_chars > 0 THEN n_alpha / n_chars
                        ELSE 0.0 END)
               + 0.2 * (1.0 - least((CASE WHEN n_chars > 0
                                     THEN n_punct / n_chars ELSE 0.0 END) * 4,
                                    1.0)), 6) AS quality_score
  FROM feat),
flags AS (
  SELECT s.doc_id, s.source, s.text,
         NOT r.repetitive AS p_rep,
         NOT r.repetitive AND NOT d.contaminated AS p_dec,
         NOT r.repetitive AND NOT d.contaminated
           AND s.quality_score >= 0.5 AS p_q
  FROM scored s JOIN rep r USING (doc_id) JOIN dec d USING (doc_id)),
winners AS (
  SELECT min(doc_id) AS doc_id FROM (
    SELECT doc_id, md5({norm}) AS ck FROM flags WHERE p_q)
  GROUP BY ck)
SELECT f.source, count(*)::BIGINT AS n_input,
       sum(CASE WHEN f.p_rep THEN 1 ELSE 0 END)::BIGINT AS pass_repetition,
       sum(CASE WHEN f.p_dec THEN 1 ELSE 0 END)::BIGINT AS pass_decontam,
       sum(CASE WHEN f.p_q THEN 1 ELSE 0 END)::BIGINT AS pass_quality,
       sum(CASE WHEN w.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS kept_docs,
       sum(CASE WHEN w.doc_id IS NOT NULL THEN
           len(regexp_extract_all(coalesce(f.text, ''),
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
           ELSE 0 END)::BIGINT AS total_tokens
FROM flags f LEFT JOIN winners w USING (doc_id)
GROUP BY f.source
"""


_Q55_SQL = _mk_q55_sql()


def q56_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: per source, docs in
    doc_id order are greedily packed into 200-token training sequences
    (q33's budget-walk at the doc grain — pack closes when the next doc
    would overflow; an over-budget doc packs alone). Oracle: the same
    greedy walk as a recursive CTE, one step per doc per source."""
    from chronominer_spark.operators.chunking import pack_sequences

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source", "doc_id",
        F.size(F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
                       r"\s+")).cast("long").alias("n_tok"))
    return pack_sequences(toks, "source", "doc_id", "n_tok", budget=200)


_Q56_SQL = """
WITH RECURSIVE docs AS (
  SELECT source, doc_id,
         len(string_split_regex(lower(trim(coalesce(text, ''))),
             '\\s+'))::BIGINT AS n_tok,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id ASC))::BIGINT
           AS rn
  FROM documents
),
walk AS (
  SELECT source, doc_id, n_tok, rn,
         1::BIGINT AS pack_id, 0::BIGINT AS pack_offset, n_tok AS cur
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.source, d.doc_id, d.n_tok, d.rn,
         CASE WHEN w.cur + d.n_tok > 200 THEN w.pack_id + 1
              ELSE w.pack_id END,
         CASE WHEN w.cur + d.n_tok > 200 THEN 0 ELSE w.cur END,
         CASE WHEN w.cur + d.n_tok > 200 THEN d.n_tok
              ELSE w.cur + d.n_tok END
  FROM walk w JOIN docs d ON d.source = w.source AND d.rn = w.rn + 1
)
SELECT source, doc_id, n_tok, pack_id, pack_offset FROM walk
"""


def q57_contiguity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group index contiguity (the plan behind the engine's
    ``contiguous`` constraint family; engine path pytest-verified in
    test_suite_engine). Transcript form:
    ``contiguous("turn_idx", over="conv_id")`` asserts a conversation's
    turns are exactly 1..n with no gaps (the reference refuses to merge
    chunk sets with missing indices: ChronoMiner
    modules/extract/batch_output.py:280-284 chunk-index order
    discipline; modules/extract/resume.py failed-chunk ledger). The
    audited plan is
    one distinct pass — the exchange hashes the full (group, idx) pair,
    so a hot group spreads across reducers, skew-proof without a salt
    stage — plus an algebraic per-group (count, min, max) aggregate; no
    sort, no window; a group is bad iff min != 1 or max != n.

    Planting harness: the synthetic lineitem's linenumbers are natively
    random (93% of orders non-contiguous), so the query builds a
    perfectly contiguous index first — ``turn_idx = row_number()`` over
    each customer's orders in order-key order — then deletes turn 1 for
    every 23rd customer (offset plant) and turn 3 for every 31st (gap
    plant; detectable only when the customer has >= 4 orders, since
    deleting the LAST turn shortens rather than gaps). The audit must
    surface exactly the customers whose damage is detectable."""
    o = t(spark, sf_dir, "orders")
    rn = o.select("o_custkey", "o_orderkey").withColumn(
        "turn_idx",
        F.row_number().over(
            W.partitionBy("o_custkey").orderBy("o_orderkey")).cast("long"))
    cur = rn.where(~(
        ((F.col("o_custkey") % 23 == 0) & (F.col("turn_idx") == 1))
        | ((F.col("o_custkey") % 31 == 0) & (F.col("turn_idx") == 3))))
    groups = (
        cur.select("o_custkey", "turn_idx").distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_turns"),
             F.min("turn_idx").alias("min_idx"),
             F.max("turn_idx").alias("max_idx"))
    )
    return groups.where(
        (F.col("min_idx") != 1) | (F.col("max_idx") != F.col("n_turns")))


_Q57_SQL = """
WITH rn AS (
  SELECT o_custkey,
         (row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey))::BIGINT
           AS turn_idx
  FROM orders),
cur AS (
  SELECT o_custkey, turn_idx FROM rn
  WHERE NOT ((o_custkey % 23 = 0 AND turn_idx = 1)
          OR (o_custkey % 31 = 0 AND turn_idx = 3))),
g AS (
  SELECT o_custkey,
         count(DISTINCT turn_idx)::BIGINT AS n_turns,
         min(turn_idx) AS min_idx,
         max(turn_idx) AS max_idx
  FROM cur GROUP BY o_custkey)
SELECT o_custkey, n_turns, min_idx, max_idx
FROM g WHERE min_idx <> 1 OR max_idx <> n_turns
"""


def q58_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-frequency PSI between snapshots (the plan behind the
    engine's ``drift_categorical`` family; engine path pytest-verified
    in test_suite_engine): role/tool-mix drift is invisible to a binned
    numeric histogram — the category frequencies ARE the distribution.
    Even events are the reference, odd events the current snapshot with
    a planted remap (every 5th odd event's type becomes 'click'), and
    per user-bucket the Laplace-smoothed PSI over event_type
    frequencies quantifies the shift. Only distinct (bucket, category)
    count rows shuffle; the PSI fold runs over buckets x categories
    rows — tiny at any input scale."""
    e = t(spark, sf_dir, "events")
    ref = e.where(F.col("event_id") % 2 == 0)
    cur = e.where(F.col("event_id") % 2 == 1).withColumn(
        "event_type",
        F.when(F.col("event_id") % 5 == 0, F.lit("click"))
        .otherwise(F.col("event_type")))
    pg = (F.col("user_id") % 4).cast("long").alias("pgroup")
    cur_c = cur.groupBy(pg, "event_type").agg(F.count(F.lit(1)).alias("cn"))
    ref_c = ref.groupBy(pg, "event_type").agg(F.count(F.lit(1)).alias("rn"))
    return categorical_psi(cur_c, ref_c, "pgroup", 0.5).select(
        "pgroup",
        F.col("n_categories").cast("long").alias("n_categories"),
        F.round("psi", 6).alias("psi"))


_Q58_SQL = """
WITH ref AS (
  SELECT user_id % 4 AS pgroup, event_type FROM events WHERE event_id % 2 = 0),
cur AS (
  SELECT user_id % 4 AS pgroup,
         CASE WHEN event_id % 5 = 0 THEN 'click' ELSE event_type END
           AS event_type
  FROM events WHERE event_id % 2 = 1),
cc AS (SELECT pgroup, event_type, count(*)::BIGINT AS cn FROM cur GROUP BY 1, 2),
rc AS (SELECT pgroup, event_type, count(*)::BIGINT AS rn FROM ref GROUP BY 1, 2),
j AS (
  SELECT coalesce(cc.pgroup, rc.pgroup) AS pgroup,
         coalesce(cn, 0) AS cn, coalesce(rn, 0) AS rn
  FROM cc FULL OUTER JOIN rc
    ON cc.pgroup = rc.pgroup AND cc.event_type = rc.event_type),
t AS (
  SELECT pgroup, cn, rn,
         sum(cn) OVER (PARTITION BY pgroup) AS ct,
         sum(rn) OVER (PARTITION BY pgroup) AS rt,
         count(*) OVER (PARTITION BY pgroup) AS k
  FROM j)
SELECT pgroup,
       max(k)::BIGINT AS n_categories,
       round(sum(((cn + 0.5) / (ct + 0.5 * k) - (rn + 0.5) / (rt + 0.5 * k))
                 * ln(((cn + 0.5) / (ct + 0.5 * k))
                      / ((rn + 0.5) / (rt + 0.5 * k)))), 6) AS psi
FROM t GROUP BY pgroup
"""


def q59_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeliness audit (the plan behind the engine's ``freshness``
    family; engine path pytest-verified in test_suite_engine): per
    event_type, the newest event's age against an EXPLICIT as_of
    instant — never now(), so the audit is deterministic and
    replayable. The plant simulates two feeds stalling: all 'error' and
    'signup' events after Jan 28 are dropped, so against
    as_of=Jan 31 with a 1-day budget those two types read stale
    (~3 days) while click/purchase/view stay fresh. Ages are integer
    MICROSECONDS (unix_micros / epoch_us) — exact on both engines, no
    float-epoch parity risk. One max() per group; a single long crosses
    the exchange per type."""
    e = t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-28 00:00:00").cast("timestamp")
    cur = e.where(~(F.col("event_type").isin("error", "signup")
                    & (F.col("ts").cast("timestamp") >= cutoff)))
    as_of_us = F.unix_micros(F.to_timestamp(F.lit("2024-01-31 00:00:00")))
    budget_us = F.lit(86400 * 1000000).cast("long")
    agg = cur.groupBy("event_type").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        .alias("newest_us"),
        F.count(F.lit(1)).alias("n_events"))
    age = (as_of_us - F.col("newest_us")).cast("long")
    return agg.select(
        "event_type", "n_events",
        age.alias("age_us"),
        (age <= budget_us).alias("fresh"))


_Q59_SQL = """
WITH cur AS (
  SELECT * FROM events
  WHERE NOT (event_type IN ('error', 'signup')
             AND ts >= TIMESTAMP '2024-01-28 00:00:00')),
a AS (
  SELECT event_type, count(*)::BIGINT AS n_events,
         max(epoch_us(ts))::BIGINT AS newest_us
  FROM cur GROUP BY 1)
SELECT event_type, n_events,
       (epoch_us(TIMESTAMP '2024-01-31 00:00:00') - newest_us)::BIGINT
         AS age_us,
       (epoch_us(TIMESTAMP '2024-01-31 00:00:00') - newest_us)
         <= 86400000000 AS fresh
FROM a
"""


def q60_conversation_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-sequence (dialogue-grammar) audit — the plan behind the
    engine's ``conversation_shape`` family (engine path pytest-verified
    in test_suite_engine): a transcript must open with ``system``,
    close with ``user``/``assistant``, and every adjacent turn pair
    must follow an allowed edge (``system>user``, ``user>assistant``,
    ``assistant>user``). The reference enforces the analogous
    request/response interleave discipline before accepting a merge
    (ChronoMiner modules/extract/batch_output.py:280-284 record
    ordering; modules/batch/ops.py custom_id pairing).

    Planting harness: events become transcripts (conv = user_id, turns
    ordered by (ts, event_id)) with perfectly alternating roles, then
    three deterministic plants: every 29th conv opens with ``user``
    (first-role damage, which also breaks the turn-2 edge), every 17th
    conv's turn 2 becomes ``assistant`` (two broken edges), every 41st
    conv's LAST turn becomes ``system`` (last-role damage + a broken
    closing edge). Output: per damaged conversation, the violation
    breakdown and the earliest offending turn.

    Scale posture: every window shares ONE exchange on the conversation
    key; first/last detection rides ``lag``/``lead`` of a one-field
    struct (null exactly when no neighbor row exists), so per-group
    window state is a single row — a hot conversation streams, never
    accumulates. The final per-conversation rollup is algebraic and
    map-side combined."""
    e = t(spark, sf_dir, "events")
    w0 = W.partitionBy("user_id").orderBy("ts", "event_id")
    w1 = W.partitionBy("user_id").orderBy("turn_idx")
    base = (
        e.select("user_id", "ts", "event_id")
        .withColumn("turn_idx", F.row_number().over(w0).cast("long"))
    )
    base_role = (
        F.when(F.col("turn_idx") == 1, F.lit("system"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    base = base.withColumn(
        "is_last", F.lead(F.struct(F.lit(1).alias("m"))).over(w1).isNull())
    role = (
        F.when((F.col("user_id") % 29 == 0) & (F.col("turn_idx") == 1),
               F.lit("user"))
        .when((F.col("user_id") % 17 == 0) & (F.col("turn_idx") == 2),
              F.lit("assistant"))
        .when((F.col("user_id") % 41 == 0) & F.col("is_last"),
              F.lit("system"))
        .otherwise(base_role)
    )
    d = base.withColumn("role", role).withColumn(
        "prev_role", F.lag("role").over(w1))
    edge = F.concat_ws(">", F.col("prev_role"), F.col("role"))
    first_bad = (F.col("turn_idx") == 1) & (F.col("role") != "system")
    last_bad = F.col("is_last") & ~F.col("role").isin("user", "assistant")
    trans_bad = (F.col("turn_idx") > 1) & ~edge.isin(
        "system>user", "user>assistant", "assistant>user")
    any_bad = first_bad | last_bad | trans_bad
    out = (
        d.groupBy(F.col("user_id").alias("conv_id"))
        .agg(
            F.max("turn_idx").alias("n_turns"),
            F.max(first_bad.cast("long")).alias("first_bad"),
            F.max(last_bad.cast("long")).alias("last_bad"),
            F.sum(trans_bad.cast("long")).alias("bad_transitions"),
            F.min(F.when(any_bad, F.col("turn_idx"))).alias("first_bad_turn"),
        )
        .where(F.col("first_bad_turn").isNotNull())
    )
    return out


_Q60_SQL = """
WITH base AS (
  SELECT user_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id))
           ::BIGINT AS turn_idx,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
planted AS (
  SELECT user_id, turn_idx, (turn_idx = n) AS is_last,
         CASE
           WHEN user_id % 29 = 0 AND turn_idx = 1 THEN 'user'
           WHEN user_id % 17 = 0 AND turn_idx = 2 THEN 'assistant'
           WHEN user_id % 41 = 0 AND turn_idx = n THEN 'system'
           WHEN turn_idx = 1 THEN 'system'
           WHEN turn_idx % 2 = 0 THEN 'user'
           ELSE 'assistant'
         END AS role
  FROM base),
seq AS (
  SELECT user_id, turn_idx, is_last, role,
         lag(role) OVER (PARTITION BY user_id ORDER BY turn_idx)
           AS prev_role
  FROM planted),
flags AS (
  SELECT user_id, turn_idx,
         (turn_idx = 1 AND role <> 'system') AS first_bad,
         (is_last AND role NOT IN ('user', 'assistant')) AS last_bad,
         (turn_idx > 1 AND prev_role || '>' || role NOT IN
            ('system>user', 'user>assistant', 'assistant>user')) AS trans_bad
  FROM seq)
SELECT user_id AS conv_id,
       max(turn_idx) AS n_turns,
       max(CASE WHEN first_bad THEN 1 ELSE 0 END)::BIGINT AS first_bad,
       max(CASE WHEN last_bad THEN 1 ELSE 0 END)::BIGINT AS last_bad,
       sum(CASE WHEN trans_bad THEN 1 ELSE 0 END)::BIGINT AS bad_transitions,
       min(CASE WHEN first_bad OR last_bad OR trans_bad THEN turn_idx END)
         AS first_bad_turn
FROM flags
GROUP BY user_id
HAVING min(CASE WHEN first_bad OR last_bad OR trans_bad THEN turn_idx END)
       IS NOT NULL
"""


def q61_transcript_suite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversation_shape family's ENGINE path under the driver
    oracle (q60 checks the plan mirror; this row checks
    SuiteEvaluator.evaluate() itself), composed with unique /
    contiguity / not_null over ONE multi-damaged transcript snapshot —
    the realistic shape of a validation run, where a single act of
    damage surfaces as different symptoms in different families:
    deleting turn 1 (every 23rd conv) is a contiguity OFFSET and a
    first-role violation; deleting turn 3 (every 31st) is a contiguity
    GAP and a broken user>user edge at turn 4; duplicating turn 4
    (every 19th) is a uniqueness excess and a broken tied-edge
    user>user; re-roling turn 2 to assistant (every 17th) breaks two
    adjacent edges. The oracle recomputes every per-partition result
    row — lineage, observed rate, threshold, counts, verdict — in
    plain SQL over the identical planted frame."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        contiguous,
        conversation_shape,
        not_null,
        unique,
    )

    e = t(spark, sf_dir, "events")
    w0 = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select("user_id", "ts", "event_id").withColumn(
        "turn_idx", F.row_number().over(w0).cast("long"))
    role = (
        F.when((F.col("user_id") % 17 == 0) & (F.col("turn_idx") == 2),
               F.lit("assistant"))
        .when(F.col("turn_idx") == 1, F.lit("system"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    planted = base.withColumn("role", role).where(~(
        ((F.col("user_id") % 23 == 0) & (F.col("turn_idx") == 1))
        | ((F.col("user_id") % 31 == 0) & (F.col("turn_idx") == 3))))
    frame = planted.unionByName(
        planted.where((F.col("user_id") % 19 == 0)
                      & (F.col("turn_idx") == 4))
    ).select(
        F.col("user_id").cast("string").alias("conv_id"),
        "turn_idx", "role",
        (F.col("user_id") % 4).cast("int").alias("pbucket"))

    suite = ConstraintSuite(
        name="transcript_audit",
        constraints=(
            not_null("role"),
            unique("conv_id", "turn_idx"),
            contiguous("turn_idx", over="conv_id"),
            conversation_shape(
                role_col="role", over="conv_id", order_by=["turn_idx"],
                first_roles=["system"],
                last_roles=["user", "assistant"],
                allowed_transitions=[("system", "user"),
                                     ("user", "assistant"),
                                     ("assistant", "user")]),
        ))
    res, _ = SuiteEvaluator(spark, suite).evaluate(
        frame, with_violations=False)
    return res.select(
        "partition_id", "constraint_id", "snapshot_id", "passed",
        F.round("observed", 6).alias("observed"),
        F.round("threshold", 6).alias("threshold"),
        "rows_checked", "violation_count")


_Q61_SQL = """
WITH rn AS (
  SELECT user_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id))
           ::BIGINT AS turn_idx
  FROM events),
planted AS (
  SELECT user_id, turn_idx,
         CASE WHEN user_id % 17 = 0 AND turn_idx = 2 THEN 'assistant'
              WHEN turn_idx = 1 THEN 'system'
              WHEN turn_idx % 2 = 0 THEN 'user'
              ELSE 'assistant' END AS role
  FROM rn
  WHERE NOT ((user_id % 23 = 0 AND turn_idx = 1)
          OR (user_id % 31 = 0 AND turn_idx = 3))),
frame AS (
  SELECT 'conv_bucket=' || (user_id % 4)::VARCHAR AS pid,
         user_id, turn_idx, role
  FROM planted
  UNION ALL
  SELECT 'conv_bucket=' || (user_id % 4)::VARCHAR, user_id, turn_idx, role
  FROM planted WHERE user_id % 19 = 0 AND turn_idx = 4),
uq AS (
  SELECT pid, sum(cnt - 1)::BIGINT AS excess, sum(cnt)::BIGINT AS rows_c
  FROM (SELECT pid, user_id, turn_idx, count(*)::BIGINT AS cnt
        FROM frame GROUP BY 1, 2, 3)
  GROUP BY pid),
contig AS (
  SELECT pid, count(*)::BIGINT AS n_groups, sum(n)::BIGINT AS rows_c,
         sum(CASE WHEN lo <> 1 OR hi <> n THEN 1 ELSE 0 END)::BIGINT AS bad
  FROM (SELECT pid, user_id, count(DISTINCT turn_idx)::BIGINT AS n,
               min(turn_idx) AS lo, max(turn_idx) AS hi
        FROM frame GROUP BY 1, 2)
  GROUP BY pid),
seq AS (
  SELECT pid, user_id, turn_idx, role,
         lag(role) OVER w AS prev,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY pid, user_id) AS n
  FROM frame
  WINDOW w AS (PARTITION BY pid, user_id ORDER BY turn_idx, role)),
shape AS (
  SELECT pid,
         ((rn = 1 AND role <> 'system')
          OR (rn = n AND role NOT IN ('user', 'assistant'))
          OR (rn > 1 AND prev || '>' || role NOT IN
              ('system>user', 'user>assistant', 'assistant>user')))
           AS bad_turn
  FROM seq)
SELECT pid AS partition_id, 'not_null:role' AS constraint_id,
       0::BIGINT AS snapshot_id,
       sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END) = 0 AS passed,
       round(sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS observed,
       0.0 AS threshold, count(*)::BIGINT AS rows_checked,
       sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS violation_count
FROM frame GROUP BY pid
UNION ALL
SELECT pid, 'unique:conv_id,turn_idx', 0::BIGINT, excess = 0,
       round(excess * 1.0 / rows_c, 6), 0.0, rows_c, excess
FROM uq
UNION ALL
SELECT pid, 'contig:turn_idx/conv_id', 0::BIGINT, bad = 0,
       round(bad * 1.0 / n_groups, 6), 0.0, rows_c, bad
FROM contig
UNION ALL
SELECT pid, 'shape:role/conv_id', 0::BIGINT,
       sum(CASE WHEN bad_turn THEN 1 ELSE 0 END) = 0,
       round(sum(CASE WHEN bad_turn THEN 1 ELSE 0 END) * 1.0 / count(*), 6),
       0.0, count(*)::BIGINT,
       sum(CASE WHEN bad_turn THEN 1 ELSE 0 END)::BIGINT
FROM shape GROUP BY pid
"""


def q62_asof_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py:asof_join): each purchase
    event picks up the most recent click AT OR BEFORE it per user —
    the "which state applied at this moment" join the reference
    resolves driver-side when replaying batch logs by timestamp
    (ChronoMiner modules/infra/jsonl.py replay; merge.py order
    discipline). The union-trick plan costs one exchange on the key +
    one STREAMING running-last window — O(|L|+|R|), never the range
    join's O(|L|x|R|) per key. The oracle is DuckDB's native ASOF LEFT
    JOIN over the identically deduplicated right side."""
    from chronominer_spark.operators.temporal import asof_join

    e = t(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    # unmatched LEFT rows (purchases before any click) surface as
    # explicit sentinels: pandas renders a NULL timestamp/double as
    # NaT/NaN while Spark yields None, so raw nulls cannot value-hash
    # across the two engines
    return asof_join(
        purchases, clicks, on=["user_id"],
        left_ts="ts", right_ts="ts", right_cols=["value"],
        direction="backward",
    ).select(
        "event_id", "user_id", "ts",
        F.coalesce(F.col("asof_ts"),
                   F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
        .alias("asof_ts"),
        F.round(F.coalesce(F.col("asof_value"), F.lit(-1.0)), 6)
        .alias("click_value"))


_Q62_SQL = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, ts, max(value) AS value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
SELECT p.event_id, p.user_id, p.ts,
       coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
       round(coalesce(c.value, -1.0), 6) AS click_value
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q63_validation_regression_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run regression diff (reporting.py:diff_validation_results)
    under the driver oracle: the q61 suite evaluated over TWO
    differently-damaged snapshots of the same transcript table — the
    previous run carries only the duplicated-turn plant, the current
    run only the deletion + re-role plants — and the diff must classify
    every (partition, constraint) verdict transition: uniqueness
    RESOLVED (the dup is gone), contiguity REGRESSED (deletions are
    new), shape PERSISTING with its violation-count delta (both runs
    break edges, differently), not_null STABLE. The reference's
    operational twin is its failed-set reconciliation between retry
    ledgers (ChronoMiner modules/extract/resume.py failed_chunks;
    modules/extract/batch_output.py:180 failed-chunk sets). Result tables
    are O(partitions x constraints), so the diff join is broadcast-size
    at any data scale."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        contiguous,
        conversation_shape,
        not_null,
        unique,
    )
    from chronominer_spark.reporting import diff_validation_results

    e = t(spark, sf_dir, "events")
    w0 = W.partitionBy("user_id").orderBy("ts", "event_id")
    rn = e.select("user_id", "ts", "event_id").withColumn(
        "turn_idx", F.row_number().over(w0).cast("long"))
    base_role = (
        F.when(F.col("turn_idx") == 1, F.lit("system"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )

    def finish(df):
        return df.select(
            F.col("user_id").cast("string").alias("conv_id"),
            "turn_idx", "role",
            (F.col("user_id") % 4).cast("int").alias("pbucket"))

    clean = rn.withColumn("role", base_role)
    prev_frame = finish(clean.unionByName(
        clean.where((F.col("user_id") % 19 == 0)
                    & (F.col("turn_idx") == 4))))
    cur_frame = finish(
        rn.withColumn(
            "role",
            F.when((F.col("user_id") % 17 == 0) & (F.col("turn_idx") == 2),
                   F.lit("assistant")).otherwise(base_role))
        .where(~(
            ((F.col("user_id") % 23 == 0) & (F.col("turn_idx") == 1))
            | ((F.col("user_id") % 31 == 0) & (F.col("turn_idx") == 3)))))

    suite = ConstraintSuite(
        name="transcript_audit",
        constraints=(
            not_null("role"),
            unique("conv_id", "turn_idx"),
            contiguous("turn_idx", over="conv_id"),
            conversation_shape(
                role_col="role", over="conv_id", order_by=["turn_idx"],
                first_roles=["system"],
                last_roles=["user", "assistant"],
                allowed_transitions=[("system", "user"),
                                     ("user", "assistant"),
                                     ("assistant", "user")]),
        ))
    ev = SuiteEvaluator(spark, suite)
    res_prev, _ = ev.evaluate(prev_frame, with_violations=False)
    res_cur, _ = ev.evaluate(cur_frame, with_violations=False)
    return diff_validation_results(res_prev, res_cur)


def _q63_suite_sql_block(sfx: str, frame_sql: str) -> str:
    """One instantiation of the q61 suite's result rows — (pid,
    constraint, passed, violation_count) — over ``frame_sql``. Composed
    twice by _Q63_SQL so both runs share one literal definition of the
    per-family arithmetic."""
    return f"""
frame{sfx} AS ({frame_sql}),
uq{sfx} AS (
  SELECT pid, sum(cnt - 1)::BIGINT AS vc
  FROM (SELECT pid, user_id, turn_idx, count(*)::BIGINT AS cnt
        FROM frame{sfx} GROUP BY 1, 2, 3)
  GROUP BY pid),
contig{sfx} AS (
  SELECT pid,
         sum(CASE WHEN lo <> 1 OR hi <> n THEN 1 ELSE 0 END)::BIGINT AS vc
  FROM (SELECT pid, user_id, count(DISTINCT turn_idx)::BIGINT AS n,
               min(turn_idx) AS lo, max(turn_idx) AS hi
        FROM frame{sfx} GROUP BY 1, 2)
  GROUP BY pid),
seq{sfx} AS (
  SELECT pid, role,
         lag(role) OVER w AS prev,
         row_number() OVER w AS rn2,
         count(*) OVER (PARTITION BY pid, user_id) AS n
  FROM frame{sfx}
  WINDOW w AS (PARTITION BY pid, user_id ORDER BY turn_idx, role)),
shape{sfx} AS (
  SELECT pid,
         sum(CASE WHEN
             (rn2 = 1 AND role <> 'system')
             OR (rn2 = n AND role NOT IN ('user', 'assistant'))
             OR (rn2 > 1 AND prev || '>' || role NOT IN
                 ('system>user', 'user>assistant', 'assistant>user'))
             THEN 1 ELSE 0 END)::BIGINT AS vc
  FROM seq{sfx} GROUP BY pid),
res{sfx} AS (
  SELECT pid, 'not_null:role' AS cid,
         sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END)::BIGINT AS vc
  FROM frame{sfx} GROUP BY pid
  UNION ALL SELECT pid, 'unique:conv_id,turn_idx', vc FROM uq{sfx}
  UNION ALL SELECT pid, 'contig:turn_idx/conv_id', vc FROM contig{sfx}
  UNION ALL SELECT pid, 'shape:role/conv_id', vc FROM shape{sfx})"""


_Q63_SQL = (
    """
WITH rn AS (
  SELECT user_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id))
           ::BIGINT AS turn_idx
  FROM events),
rolesrc AS (
  SELECT user_id, turn_idx,
         CASE WHEN turn_idx = 1 THEN 'system'
              WHEN turn_idx % 2 = 0 THEN 'user'
              ELSE 'assistant' END AS role
  FROM rn),"""
    + _q63_suite_sql_block("_p", """
  SELECT 'conv_bucket=' || (user_id % 4)::VARCHAR AS pid,
         user_id, turn_idx, role FROM rolesrc
  UNION ALL
  SELECT 'conv_bucket=' || (user_id % 4)::VARCHAR, user_id, turn_idx, role
  FROM rolesrc WHERE user_id % 19 = 0 AND turn_idx = 4""")
    + ","
    + _q63_suite_sql_block("_c", """
  SELECT 'conv_bucket=' || (user_id % 4)::VARCHAR AS pid, user_id, turn_idx,
         CASE WHEN user_id % 17 = 0 AND turn_idx = 2 THEN 'assistant'
              ELSE role END AS role
  FROM rolesrc
  WHERE NOT ((user_id % 23 = 0 AND turn_idx = 1)
          OR (user_id % 31 = 0 AND turn_idx = 3))""")
    + """
SELECT coalesce(p.pid, c.pid) AS partition_id,
       coalesce(p.cid, c.cid) AS constraint_id,
       CASE WHEN p.vc IS NULL THEN 'new'
            WHEN c.vc IS NULL THEN 'retired'
            WHEN p.vc = 0 AND c.vc > 0 THEN 'regressed'
            WHEN p.vc > 0 AND c.vc = 0 THEN 'resolved'
            WHEN p.vc > 0 AND c.vc > 0 THEN 'persisting'
            ELSE 'stable' END AS transition,
       coalesce(p.vc, 0)::BIGINT AS violations_prev,
       coalesce(c.vc, 0)::BIGINT AS violations_cur,
       (coalesce(c.vc, 0) - coalesce(p.vc, 0))::BIGINT AS violations_delta
FROM res_p p FULL OUTER JOIN res_c c
  ON p.pid = c.pid AND p.cid = c.cid
""")


def q64_session_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/temporal.py:interval_join): purchases
    attributed to the click-session window they fall inside, per user —
    composing the sessionizer (q09's operator) with the
    bucketize-then-refine range join. The range predicate becomes an
    EQUI-join on (user, time-bucket) plus an exact containment filter:
    hashed shuffle, no broadcast-nested-loop, each (point, interval)
    pair meets in exactly one bucket. Sessions are gap-derived so they
    never overlap per user — every purchase matches at most one
    session. Oracle: DuckDB recomputes the sessions (lag + cumsum) and
    joins with a plain BETWEEN."""
    from chronominer_spark.operators.assembly import sessionize
    from chronominer_spark.operators.temporal import interval_join

    e = t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts")
    sess = (
        sessionize(clicks, "user_id", "ts", 86400)
        .withColumn("e", F.col("ts").cast("timestamp").cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.min("e").alias("lo"), F.max("e").alias("hi"),
             F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ets"))
    return interval_join(
        purchases, sess, on=["user_id"], point_val="ets",
        bucket_width=86400, interval_cols=["session_id", "n_clicks"],
    ).select("event_id", "user_id", "ets",
             F.col("iv_session_id").alias("session_id"),
             F.col("iv_n_clicks").alias("session_clicks"))


_Q64_SQL = """
WITH c AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS e
  FROM events WHERE event_type = 'click'),
flag AS (
  SELECT user_id, e,
         CASE WHEN e - lag(e) OVER w IS NULL
               OR e - lag(e) OVER w > 86400 THEN 1 ELSE 0 END AS ns
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY e)),
sid AS (
  SELECT user_id, e,
         (sum(ns) OVER (PARTITION BY user_id ORDER BY e
                        ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
  FROM flag),
sess AS (
  SELECT user_id, session_id, min(e) AS lo, max(e) AS hi,
         count(*)::BIGINT AS n_clicks
  FROM sid GROUP BY 1, 2),
p AS (
  SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS ets
  FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ets,
       s.session_id, s.n_clicks AS session_clicks
FROM p JOIN sess s
  ON p.user_id = s.user_id AND p.ets BETWEEN s.lo AND s.hi
"""


def q65_streaming_shape_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-semantics dialogue-grammar validation, driver-verified
    (the q42/q43 pattern applied to conversation_shape): planted
    transcripts are ingested as three deterministic TURN-RANGE
    micro-batches (1-20 / 21-45 / 46+) through the real
    ``applyInPandasWithState`` query, so every conversation spans all
    three batches and the turn-21 plant's verdict can only come from
    the cross-batch (last_role) state carry. The oracle recomputes the
    same per-turn verdicts with a plain lag window over the full frame
    — the driver checks the incremental fold reaches the batch fixed
    point, byte-identical detail strings included."""
    import os
    import shutil
    import tempfile
    import time

    from chronominer_spark.streaming.stateful import conversation_shape_stream

    e = t(spark, sf_dir, "events")
    w0 = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select("user_id", "ts", "event_id").withColumn(
        "turn_idx", F.row_number().over(w0).cast("long"))
    role = (
        F.when((F.col("user_id") % 29 == 0) & (F.col("turn_idx") == 1),
               F.lit("user"))
        .when((F.col("user_id") % 17 == 0) & (F.col("turn_idx") == 2),
              F.lit("assistant"))
        .when((F.col("user_id") % 7 == 0) & (F.col("turn_idx") == 21),
              F.lit("user"))
        .when(F.col("turn_idx") == 1, F.lit("system"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    frame = base.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "turn_idx", role.alias("role"))

    root = tempfile.mkdtemp(prefix="cm_q65_")
    src = os.path.join(root, "src")
    try:
        # strictly increasing mtimes: FileStreamSource must take the
        # turn ranges in order for the state carry to be exercised.
        # Each batch's NEW files (tracked by name — the old mtime-window
        # guard was a no-op for batches >= 1) get a fixed base + bi
        # stamp, so batches can never tie even on coarse-granularity
        # filesystems.
        base_mtime = time.time()
        stamped: set[str] = set()
        for bi, (lo, hi) in enumerate([(1, 20), (21, 45), (46, 10**9)]):
            (frame.where((F.col("turn_idx") >= lo)
                         & (F.col("turn_idx") <= hi))
             .coalesce(1).write.mode("append").parquet(src))
            for f in os.listdir(src):
                if f.endswith(".parquet") and f not in stamped:
                    mt = base_mtime + bi
                    os.utime(os.path.join(src, f), (mt, mt))
                    stamped.add(f)
        q = conversation_shape_stream(
            spark, src, frame.schema, first_roles=["system"],
            allowed_transitions=[("system", "user"), ("user", "assistant"),
                                 ("assistant", "user")],
            query_name="shape_stream_sink")
        q.processAllAvailable()
        q.stop()
        out = spark.sql(
            "SELECT conv_id, turn_idx, role, detail FROM shape_stream_sink"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


_Q65_SQL = """
WITH rn AS (
  SELECT user_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id))
           ::BIGINT AS turn_idx
  FROM events),
planted AS (
  SELECT user_id::VARCHAR AS conv_id, turn_idx,
         CASE WHEN user_id % 29 = 0 AND turn_idx = 1 THEN 'user'
              WHEN user_id % 17 = 0 AND turn_idx = 2 THEN 'assistant'
              WHEN user_id % 7 = 0 AND turn_idx = 21 THEN 'user'
              WHEN turn_idx = 1 THEN 'system'
              WHEN turn_idx % 2 = 0 THEN 'user'
              ELSE 'assistant' END AS role
  FROM rn),
seq AS (
  SELECT conv_id, turn_idx, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM planted)
SELECT conv_id, turn_idx, role,
       CASE WHEN turn_idx = 1
            THEN 'first role ' || role || ' not in system'
            ELSE 'transition ' || prev || '>' || role || ' not allowed'
       END AS detail
FROM seq
WHERE (turn_idx = 1 AND role <> 'system')
   OR (turn_idx > 1 AND prev || '>' || role NOT IN
       ('system>user', 'user>assistant', 'assistant>user'))
"""


def _eq_audit(spark: SparkSession, sf_dir: str, digest) -> DataFrame:
    """Shared body of q66/q67 — identical plants and output, two
    physical strategies (direct side-tagged aggregate vs conv-digest
    prepass + drilldown), one oracle."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, text_equality)

    e = t(spark, sf_dir, "events")
    w0 = W.partitionBy("user_id").orderBy("ts", "event_id")
    base = e.select("user_id", "ts", "event_id", "event_type").withColumn(
        "turn_idx", F.row_number().over(w0).cast("int")).select(
        F.col("user_id").cast("string").alias("conv_id"),
        "turn_idx",
        F.concat_ws(":", "event_type", F.col("event_id").cast("string"))
        .alias("text"),
        F.col("ts").cast("timestamp").alias("ts"),
        (F.col("user_id") % 4).cast("int").alias("pbucket"),
        F.col("user_id").alias("uid"))
    dup = (base.where((F.col("uid") % 19 == 0) & (F.col("turn_idx") == 4))
           .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
           .withColumn("text", F.concat(F.col("text"), F.lit(" v2"))))
    cur = base.unionByName(dup).drop("uid")

    ref_kept = base.where(~((F.col("uid") % 23 == 0)
                            & (F.col("turn_idx") == 5)))
    ref_mut = ref_kept.withColumn(
        "text",
        F.when((F.col("uid") % 13 == 0) & (F.col("turn_idx") == 2),
               F.concat(F.col("text"), F.lit(" mutated")))
        .otherwise(F.col("text")))
    ref_add = (base.where(F.col("uid") % 29 == 0)
               .groupBy("conv_id", "pbucket", "uid")
               .agg(F.lit(1).alias("__one"))
               .select("conv_id", F.lit(9001).cast("int").alias("turn_idx"),
                       F.lit("added turn").alias("text"),
                       F.lit("2024-06-01 00:00:00").cast("timestamp")
                       .alias("ts"), "pbucket", "uid"))
    ref = ref_mut.unionByName(ref_add).drop("uid")

    suite = ConstraintSuite(
        name="eq_audit", constraints=(text_equality("text", digest=digest),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(cur, ref)
    per_detail = (
        vio.groupBy("partition_id")
        .agg(*[F.sum((F.col("detail") == d).cast("long")).alias(f"n_{a}")
               for d, a in (("mismatch", "mismatch"),
                            ("missing_in_current", "missing"),
                            ("extra_in_current", "extra"))])
    )
    return (
        res.select("partition_id", "rows_checked", "violation_count",
                   "passed")
        .join(per_detail, "partition_id", "left")
        .na.fill(0, ["n_mismatch", "n_missing", "n_extra"])
    )



def q66_text_equality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's FLAGSHIP family — per-turn text equality vs a
    reference snapshot under stable last-wins turn ordering
    (engine.py:_text_equality / _eq_turn_join) — under the driver
    oracle. Transcripts derive from events (conv = user, text =
    event_type:event_id); four deterministic plants cover every
    classification: a LATER-ts duplicate turn whose 'v2' text must win
    the last-wins dedup and therefore MISMATCH the reference (proving
    winner selection feeds classification), a mutated reference turn
    (mismatch), a dropped reference turn (extra_in_current), and an
    added reference turn (missing_in_current, lineage taken from the
    REF winner's partition). The oracle mirrors the side-tagged
    winner+classify aggregate as arg_max-by-ts + a FULL OUTER join;
    duplicate turns carry distinct timestamps so the engine's
    hash tiebreak never fires and the mirror is exact."""
    return _eq_audit(spark, sf_dir, digest=False)


def q67_text_equality_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q66's audit through the OTHER physical strategy: the 3-channel
    conversation-digest prepass (turn count + bit_xor + mod-2^31 sum of
    per-turn hashes) with per-turn drilldown only for digest-differing
    conversations (engine.py:_text_equality digest=True). Same plants,
    same oracle — the driver verifies the two strategies reach
    identical classified output, at the gate rather than only in
    pytest."""
    return _eq_audit(spark, sf_dir, digest=True)


_Q66_SQL = """
WITH rn AS (
  SELECT user_id, ts, event_id, event_type,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id))
           ::INT AS turn_idx
  FROM events),
base AS (
  SELECT user_id, turn_idx,
         'conv_bucket=' || (user_id % 4)::VARCHAR AS pid,
         event_type || ':' || event_id::VARCHAR AS text, ts
  FROM rn),
cur AS (
  SELECT * FROM base
  UNION ALL
  SELECT user_id, turn_idx, pid, text || ' v2', ts + INTERVAL 1 HOUR
  FROM base WHERE user_id % 19 = 0 AND turn_idx = 4),
curw AS (
  SELECT user_id, turn_idx, pid, arg_max(text, ts) AS text
  FROM cur GROUP BY 1, 2, 3),
refw AS (
  SELECT user_id, turn_idx, pid,
         CASE WHEN user_id % 13 = 0 AND turn_idx = 2
              THEN text || ' mutated' ELSE text END AS text
  FROM base WHERE NOT (user_id % 23 = 0 AND turn_idx = 5)
  UNION ALL
  SELECT DISTINCT user_id, 9001, pid, 'added turn'
  FROM base WHERE user_id % 29 = 0),
cls AS (
  SELECT coalesce(c.pid, r.pid) AS pid,
         CASE WHEN c.text IS NULL THEN 'missing_in_current'
              WHEN r.text IS NULL THEN 'extra_in_current'
              WHEN c.text = r.text THEN 'match'
              ELSE 'mismatch' END AS status
  FROM curw c FULL OUTER JOIN refw r
    ON c.user_id = r.user_id AND c.turn_idx = r.turn_idx)
SELECT pid AS partition_id,
       count(*)::BIGINT AS rows_checked,
       sum(CASE WHEN status <> 'match' THEN 1 ELSE 0 END)::BIGINT
         AS violation_count,
       sum(CASE WHEN status <> 'match' THEN 1 ELSE 0 END) = 0 AS passed,
       sum(CASE WHEN status = 'mismatch' THEN 1 ELSE 0 END)::BIGINT
         AS n_mismatch,
       sum(CASE WHEN status = 'missing_in_current' THEN 1 ELSE 0 END)::BIGINT
         AS n_missing,
       sum(CASE WHEN status = 'extra_in_current' THEN 1 ELSE 0 END)::BIGINT
         AS n_extra
FROM cls GROUP BY pid
"""


def q68_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit driven through the ENGINE
    (SuiteEvaluator.evaluate with the round-5 ``functional_dependency``
    family; engine path pytest-verified in test_suite_engine):
    ``account -> plan`` asserts every account maps to ONE plan — the
    denormalization invariant uniqueness and RI cannot see (the
    reference's analogous single-source discipline is its custom_id
    collision guard, ChronoMiner modules/batch/ops.py:85).

    Planting harness: account = user_id % 500 with plan derived from
    the account (consistent by construction); every event of a
    user_id % 37 == 0 user whose event_id % 5 == 0 gets plan
    'override' instead, so exactly the accounts owning such events
    become inconsistent. The oracle recomputes the engine's violation
    rows — partition lineage, determinant key, exemplar detail string
    — in plain SQL. Plan shape: one distinct pass hashing the full
    (partition, account, plan) tuple (skew-proof, the dependent is the
    salt), then an algebraic per-key aggregate; min/max exemplars ride
    the same pass, no value re-fetch."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        functional_dependency,
    )

    e = t(spark, sf_dir, "events")
    frame = e.select(
        (F.col("user_id") % 500).alias("account"),
        F.when((F.col("user_id") % 37 == 0) & (F.col("event_id") % 5 == 0),
               F.lit("override"))
        .otherwise(F.element_at(
            F.array(F.lit("free"), F.lit("pro"), F.lit("team")),
            ((F.col("user_id") % 500) % 3 + 1).cast("int")))
        .alias("plan"),
        (F.col("user_id") % 4).cast("int").alias("pbucket"),
    )
    suite = ConstraintSuite(
        name="fd_audit",
        constraints=(functional_dependency(["account"], "plan"),))
    _, vio = SuiteEvaluator(spark, suite).evaluate(frame)
    return vio.select("partition_id", "constraint_id", "value", "detail")


_Q68_SQL = """
WITH base AS (
  SELECT user_id % 4 AS pb, user_id % 500 AS account,
         CASE WHEN user_id % 37 = 0 AND event_id % 5 = 0 THEN 'override'
              ELSE ['free','pro','team'][((user_id % 500) % 3 + 1)::INT]
         END AS plan
  FROM events),
d AS (SELECT DISTINCT pb, account, plan FROM base),
g AS (SELECT pb, account, count(*)::BIGINT AS n_dep,
             min(plan) AS lo, max(plan) AS hi
      FROM d GROUP BY 1, 2)
SELECT 'conv_bucket=' || pb::VARCHAR AS partition_id,
       'fd:account->plan' AS constraint_id,
       account::VARCHAR AS value,
       'n_dependents=' || n_dep::VARCHAR || ' eg=' || lo || '..' || hi
         AS detail
FROM g WHERE n_dep > 1
"""


def q69_calendar_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-calendar completeness through the ENGINE: the round-5
    ``contiguous(..., start=None)`` form anchors each group at its own
    first period, so "every day between a source's first and last
    ingest day must be present" becomes the same one-distinct-pass +
    algebraic-aggregate plan as turn contiguity — no calendar dim, no
    sequence explode, no window (the reference's analog is its coverage
    metadata: a chunk-range set with holes refuses to convert,
    modules/extract/batch_output.py:294-300 failed/covered sets).

    Planting harness: per (user-bucket, event_type) the synthetic
    events cover a contiguous 30-day span; deleting all 'click' events
    on days ≡ 5 (mod 11) and all 'error' events on days ≡ 3 (mod 7)
    punches holes in exactly those groups' calendars. Day indexing is
    epoch-days (ts cast long / 86400 — the repo's pinned-UTC epoch
    convention), identically computable in DuckDB."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, contiguous

    e = t(spark, sf_dir, "events")
    frame = e.select(
        "event_type",
        F.floor(F.col("ts").cast("timestamp").cast("long") / 86400)
        .alias("day_idx"),
        (F.col("user_id") % 4).cast("int").alias("pbucket"),
    ).where(~(
        ((F.col("event_type") == "click") & (F.col("day_idx") % 11 == 5))
        | ((F.col("event_type") == "error") & (F.col("day_idx") % 7 == 3))))
    suite = ConstraintSuite(
        name="calendar",
        constraints=(contiguous("day_idx", over="event_type", start=None),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(frame)
    return (
        res.select("partition_id", "constraint_id",
                   F.round("observed", 6).alias("observed"),
                   "rows_checked", "violation_count", "passed")
        .unionByName(
            # violating group names ride as extra rows; -1 sentinels
            # (not NULLs) keep the value-hash engine-independent
            vio.select(
                "partition_id",
                F.concat(F.col("constraint_id"), F.lit("@"), F.col("value"))
                .alias("constraint_id"),
                F.lit(-1.0).alias("observed"),
                F.lit(-1).cast("long").alias("rows_checked"),
                F.lit(-1).cast("long").alias("violation_count"),
                F.lit(False).alias("passed")))
    )


_Q69_SQL = """
WITH base AS (
  SELECT user_id % 4 AS pb, event_type,
         floor(epoch(ts) / 86400)::BIGINT AS day_idx
  FROM events),
cur AS (
  SELECT * FROM base
  WHERE NOT ((event_type = 'click' AND day_idx % 11 = 5)
          OR (event_type = 'error' AND day_idx % 7 = 3))),
d AS (SELECT DISTINCT pb, event_type, day_idx FROM cur),
g AS (SELECT pb, event_type, count(*)::BIGINT AS n,
             min(day_idx) AS lo, max(day_idx) AS hi
      FROM d GROUP BY 1, 2),
res AS (
  SELECT 'conv_bucket=' || pb::VARCHAR AS partition_id,
         'contig:day_idx/event_type' AS constraint_id,
         round(sum(CASE WHEN hi <> lo + n - 1 THEN 1 ELSE 0 END)
               * 1.0 / count(*), 6) AS observed,
         sum(n)::BIGINT AS rows_checked,
         sum(CASE WHEN hi <> lo + n - 1 THEN 1 ELSE 0 END)::BIGINT
           AS violation_count,
         sum(CASE WHEN hi <> lo + n - 1 THEN 1 ELSE 0 END) = 0 AS passed
  FROM g GROUP BY 1),
vio AS (
  SELECT 'conv_bucket=' || pb::VARCHAR AS partition_id,
         'contig:day_idx/event_type@' || event_type AS constraint_id,
         -1.0 AS observed, (-1)::BIGINT AS rows_checked,
         (-1)::BIGINT AS violation_count, FALSE AS passed
  FROM g WHERE hi <> lo + n - 1)
SELECT * FROM res UNION ALL SELECT * FROM vio
"""


def q70_partition_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust cross-partition anomaly screen
    (reporting.flag_partition_outliers): per-partition mean event value
    judged against the fleet MEDIAN with a k x MAD band — median/MAD
    because the hunted outlier would poison a mean/stddev baseline.
    Planting harness: 20 user-buckets, bucket 7's values tripled; the
    screen must flag exactly bucket 7 (and any naturally-extreme
    bucket the oracle also finds). The per-bucket mean uses the repo's
    associative-exact integral-millionths trick (sum of
    round(value*1e6) longs, divided once), so the metric — and hence
    the exact median/MAD — is bitwise engine-independent. Input to the
    screen is O(partitions) rows; the percentile aggregates are exact
    and cost nothing at any data scale."""
    from chronominer_spark.reporting import flag_partition_outliers

    e = t(spark, sf_dir, "events")
    metrics = (
        e.select(
            (F.col("user_id") % 20).alias("bucket"),
            (F.round(
                F.when(F.col("user_id") % 20 == 7,
                       F.col("value") * 3).otherwise(F.col("value"))
                * 1e6)).cast("long").alias("v6"))
        .where(F.col("v6").isNotNull())
        .groupBy("bucket")
        .agg((F.sum("v6") / F.count(F.lit(1)) / 1e6).alias("mean_value"))
        .select(F.format_string("bucket=%d", F.col("bucket"))
                .alias("partition_id"),
                F.lit("stats:value_mean").alias("constraint_id"),
                "mean_value")
    )
    out = flag_partition_outliers(
        metrics, metric="mean_value", by=["constraint_id"], k=3.0)
    return out.select(
        "constraint_id", "partition_id",
        F.round("mean_value", 6).alias("mean_value"),
        F.round("fleet_median", 6).alias("fleet_median"),
        F.round("fleet_mad", 6).alias("fleet_mad"),
        "is_outlier")


_Q70_SQL = """
WITH m AS (
  SELECT 'bucket=' || (user_id % 20)::VARCHAR AS partition_id,
         sum(round((CASE WHEN user_id % 20 = 7 THEN value * 3
                         ELSE value END) * 1e6)::BIGINT)
           * 1.0 / count(*) / 1e6 AS mean_value
  FROM events WHERE value IS NOT NULL GROUP BY 1),
med AS (SELECT quantile_cont(mean_value, 0.5) AS fleet_median FROM m),
mad AS (SELECT quantile_cont(abs(mean_value - fleet_median), 0.5)
          AS fleet_mad FROM m, med)
SELECT 'stats:value_mean' AS constraint_id, partition_id,
       round(mean_value, 6) AS mean_value,
       round(fleet_median, 6) AS fleet_median,
       round(fleet_mad, 6) AS fleet_mad,
       abs(mean_value - fleet_median) > 3.0 * fleet_mad AS is_outlier
FROM m, med, mad
"""


def q71_token_budget_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation token-budget audit through the ENGINE (the
    round-5 ``group_agg_check`` family): every turn can individually
    pass ``in_range`` while the conversation blows its budget — the
    group-level invariant the row families cannot express (the
    reference's per-chunk tokens-per-chunk ceiling,
    modules/line_ranges/generator.py:17-43, as a declarative
    constraint).

    Planting harness: conv = user_id, est_tokens = 50 + event_id % 100
    (so a conversation's mean token load lies in [50, 150) by
    construction); conversations of user_id % 41 == 0 are inflated
    10x, pushing their mean into [500, 1500). The bound
    ``avg(est_tokens) <= 400`` therefore separates planted from clean
    EXACTLY at every scale factor — no calibration, no boundary risk.
    The mean is an exact-int sum over an exact-int count (one IEEE
    division, bit-identical across engines); the oracle recomputes the
    engine's result rows and the flagged conversation set. Plan: ONE
    groupBy(partition, conv) hash-aggregate (map-side combined) + an
    algebraic per-partition rollup."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite,
        group_agg_check,
    )

    e = t(spark, sf_dir, "events")
    frame = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.when(F.col("user_id") % 41 == 0, 10).otherwise(1)
         * (F.lit(50) + F.col("event_id") % 100)).alias("est_tokens"),
        (F.col("user_id") % 4).cast("int").alias("pbucket"),
    )
    suite = ConstraintSuite(
        name="tok_budget",
        constraints=(group_agg_check(
            "conv_tokens", "conv_id", "avg(est_tokens)", hi=400.0),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(frame)
    return (
        res.select("partition_id", "constraint_id",
                   F.round("observed", 6).alias("observed"),
                   "rows_checked", "violation_count", "passed")
        .unionByName(
            vio.select(
                "partition_id",
                F.concat(F.col("constraint_id"), F.lit("@"), F.col("value"))
                .alias("constraint_id"),
                F.lit(-1.0).alias("observed"),
                F.lit(-1).cast("long").alias("rows_checked"),
                F.lit(-1).cast("long").alias("violation_count"),
                F.lit(False).alias("passed")))
    )


_Q71_SQL = """
WITH base AS (
  SELECT user_id % 4 AS pb, user_id::VARCHAR AS conv_id,
         (CASE WHEN user_id % 41 = 0 THEN 10 ELSE 1 END)
           * (50 + event_id % 100) AS est_tokens
  FROM events),
g AS (
  SELECT pb, conv_id, avg(est_tokens) AS v, count(*)::BIGINT AS n
  FROM base GROUP BY 1, 2),
res AS (
  SELECT 'conv_bucket=' || pb::VARCHAR AS partition_id,
         'agg:conv_tokens/conv_id' AS constraint_id,
         round(sum(CASE WHEN v > 400.0 THEN 1 ELSE 0 END)
               * 1.0 / count(*), 6) AS observed,
         sum(n)::BIGINT AS rows_checked,
         sum(CASE WHEN v > 400.0 THEN 1 ELSE 0 END)::BIGINT
           AS violation_count,
         sum(CASE WHEN v > 400.0 THEN 1 ELSE 0 END) = 0 AS passed
  FROM g GROUP BY 1),
vio AS (
  SELECT 'conv_bucket=' || pb::VARCHAR AS partition_id,
         'agg:conv_tokens/conv_id@' || conv_id AS constraint_id,
         -1.0 AS observed, (-1)::BIGINT AS rows_checked,
         (-1)::BIGINT AS violation_count, FALSE AS passed
  FROM g WHERE v > 400.0)
SELECT * FROM res UNION ALL SELECT * FROM vio
"""


def q72_incremental_categorical_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING-semantics categorical drift, driver-verified: the
    current snapshot (odd events, with q58's planted every-5th remap to
    'click') is ingested as three deterministic micro-batches
    (event_id % 3... per batch) through
    :class:`IncrementalCategoricalDrift`'s mergeable count fold, then
    the per-bucket PSI vs the reference snapshot (even events) is
    computed from the folded state — the oracle IS q58's SQL, so the
    driver checks that the incremental fold and the one-shot batch PSI
    reach the same fixed point (per-category counts fold by plain sum,
    the most mergeable aggregate there is; this proves it across an
    arbitrary batch split). The reference's drift posture is
    snapshot-vs-snapshot (SURVEY §2.9); the streaming twin keeps
    O(partitions × categories) state, never O(rows)."""
    import shutil
    import tempfile

    from chronominer_spark.streaming.dedup_stream import (
        IncrementalCategoricalDrift,
    )

    e = t(spark, sf_dir, "events")
    ref = e.where(F.col("event_id") % 2 == 0).select(
        (F.col("user_id") % 4).cast("long").alias("pgroup"), "event_type")
    cur = e.where(F.col("event_id") % 2 == 1).select(
        (F.col("user_id") % 4).cast("long").alias("pgroup"),
        F.when(F.col("event_id") % 5 == 0, F.lit("click"))
        .otherwise(F.col("event_type")).alias("event_type"),
        "event_id")
    root = tempfile.mkdtemp(prefix="cm_q72_")
    try:
        inc = IncrementalCategoricalDrift(spark, root, "pgroup", "event_type")
        for i in range(3):
            inc.process_batch(
                cur.where(F.pmod(F.col("event_id"), F.lit(3)) == i).drop(
                    "event_id"), i)
        out = inc.result(ref).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out.select("pgroup", "n_categories",
                      F.round("psi", 6).alias("psi"))


def q73_incremental_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING-semantics heavy hitters, driver-verified: q53's keyed
    stream ingested as three deterministic micro-batches (event_id % 3)
    through :class:`IncrementalHeavyHitters`' Misra–Gries fold, then
    the MERGED summary is checked against the same deterministic heavy
    set and MG contract as the batch query — mergeable-summaries theory
    (Agarwal et al. 2012) guarantees the folded summary keeps
    ``exact − n_total/(k+1) ≤ est ≤ exact`` over everything ingested,
    for ANY merge tree including this left-deep 3-batch one, so the
    oracle IS q53's SQL. State is O(k), never O(stream)."""
    import shutil
    import tempfile

    from chronominer_spark.streaming.dedup_stream import (
        IncrementalHeavyHitters,
    )

    k = 8
    e = t(spark, sf_dir, "events")
    keyed = e.select(
        F.when(F.col("user_id") % 5 == 0, F.lit("hot_a"))
        .when(F.col("user_id") % 6 == 0, F.lit("hot_b"))
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .alias("item"),
        "event_id")
    root = tempfile.mkdtemp(prefix="cm_q73_")
    try:
        inc = IncrementalHeavyHitters(spark, root, "item", k=k)
        for i in range(3):
            inc.process_batch(
                keyed.where(F.pmod(F.col("event_id"), F.lit(3)) == i)
                .select("item"), i)
        sketch, n_total = inc.result()
        sketch = sketch.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    exact = keyed.groupBy("item").agg(F.count(F.lit(1)).alias("exact_count"))
    heavy = exact.where(F.col("exact_count") * (k + 1) > F.lit(int(n_total)))
    return (
        heavy.join(sketch, "item", "left")
        .select(
            "item", "exact_count",
            F.col("est_count").isNotNull().alias("found"),
            (F.col("est_count").isNotNull()
             & (F.col("est_count") <= F.col("exact_count"))
             & ((F.col("exact_count") - F.col("est_count")) * (k + 1)
                <= F.lit(int(n_total)))).alias("bounds_ok"))
    )


def q74_incremental_tdigest_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING-semantics t-digest quantiles, driver-verified: q29's
    per-event-type quantile sketch maintained INCREMENTALLY — events
    ingested as three deterministic micro-batches (event_id % 3)
    through :class:`IncrementalQuantileDigest`, which folds q29's own
    t-digest partials batch by batch — then checked against q29's
    contract (:func:`_quantile_contract`). T-digests are mergeable
    summaries, so the folded digest stays inside the sketch's error
    envelope over everything ingested; unlike the count-fold twins the
    fixed point is BOUNDED, not exact, because compression is lossy —
    hence the contract oracle rather than a value oracle. Oracle IS
    q29's SQL. State per partition is O(δ) centroids, never O(rows).
    The q29 sketch-contract minimum group size applies here too
    (round-6 ADVICE): the 5% envelope holds at sf0.01+ group sizes, not
    at the sf0.001 smoke tier."""
    import shutil
    import tempfile

    from chronominer_spark.streaming.dedup_stream import (
        IncrementalQuantileDigest,
    )

    e = t(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="cm_q74_")
    try:
        inc = IncrementalQuantileDigest(spark, root, "event_type", "value")
        for i in range(3):
            inc.process_batch(
                e.where(F.pmod(F.col("event_id"), F.lit(3)) == i), i)
        td = inc.quantiles(_Q29_QS).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return _quantile_contract(e, td)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_doc_profile": q02_doc_profile,
    "q03_unique_key_check": q03_unique_key_check,
    "q04_ri_orders_customer": q04_ri_orders_customer,
    "q05_merge_new_wins": q05_merge_new_wins,
    "q06_last_wins_dedup": q06_last_wins_dedup,
    "q07_snapshot_align": q07_snapshot_align,
    "q08_topk_per_segment": q08_topk_per_segment,
    "q09_sessionize": q09_sessionize,
    "q10_running_revenue": q10_running_revenue,
    "q11_eval_metrics": q11_eval_metrics,
    "q12_set_reconciliation": q12_set_reconciliation,
    "q13_rollup_accounting": q13_rollup_accounting,
    "q14_drift_psi": q14_drift_psi,
    "q15_quantiles": q15_quantiles,
    "q16_token_stats": q16_token_stats,
    "q17_exact_dedup": q17_exact_dedup,
    "q18_minhash_signature": q18_minhash_signature,
    "q19_lsh_jaccard_pairs": q19_lsh_jaccard_pairs,
    "q20_simhash": q20_simhash,
    "q21_embedding_topk": q21_embedding_topk,
    "q22_quality_scores": q22_quality_scores,
    "q23_language_id": q23_language_id,
    "q24_windowed_event_counts": q24_windowed_event_counts,
    "q25_winnowing": q25_winnowing,
    "q26_lsh_ann_topk": q26_lsh_ann_topk,
    "q27_range_repair": q27_range_repair,
    "q28_json_extract": q28_json_extract,
    "q29_tdigest_quantiles": q29_tdigest_quantiles,
    "q30_fuzzy_match": q30_fuzzy_match,
    "q31_ivf_ann": q31_ivf_ann,
    "q32_group_size_profile": q32_group_size_profile,
    "q33_token_budget_chunks": q33_token_budget_chunks,
    "q34_anchor_resolution": q34_anchor_resolution,
    "q35_embedding_near_dups": q35_embedding_near_dups,
    "q36_multimodal_features": q36_multimodal_features,
    "q37_overlap_removal_exact": q37_overlap_removal_exact,
    "q38_gap_enforcement_exact": q38_gap_enforcement_exact,
    "q39_near_dup_clusters": q39_near_dup_clusters,
    "q40_corpus_curation": q40_corpus_curation,
    "q41_eval_lifecycle": q41_eval_lifecycle,
    "q42_incremental_near_dup": q42_incremental_near_dup,
    "q43_incremental_exact_dedup": q43_incremental_exact_dedup,
    "q44_multimodal_curation": q44_multimodal_curation,
    "q45_prefix_jaccard_pairs": q45_prefix_jaccard_pairs,
    "q46_stratified_sample": q46_stratified_sample,
    "q47_token_budget_mix": q47_token_budget_mix,
    "q48_decontamination": q48_decontamination,
    "q49_repetition_filter": q49_repetition_filter,
    "q50_pii_redaction": q50_pii_redaction,
    "q51_monotonicity_check": q51_monotonicity_check,
    "q52_quantile_drift": q52_quantile_drift,
    "q53_heavy_hitters": q53_heavy_hitters,
    "q54_suite_results": q54_suite_results,
    "q55_curation_funnel": q55_curation_funnel,
    "q56_sequence_packing": q56_sequence_packing,
    "q57_contiguity_check": q57_contiguity_check,
    "q58_categorical_drift": q58_categorical_drift,
    "q59_freshness_audit": q59_freshness_audit,
    "q60_conversation_shape": q60_conversation_shape,
    "q61_transcript_suite_audit": q61_transcript_suite_audit,
    "q62_asof_state_join": q62_asof_state_join,
    "q63_validation_regression_diff": q63_validation_regression_diff,
    "q64_session_interval_join": q64_session_interval_join,
    "q65_streaming_shape_validation": q65_streaming_shape_validation,
    "q66_text_equality_audit": q66_text_equality_audit,
    "q67_text_equality_digest": q67_text_equality_digest,
    "q68_functional_dependency": q68_functional_dependency,
    "q69_calendar_completeness": q69_calendar_completeness,
    "q70_partition_outliers": q70_partition_outliers,
    "q71_token_budget_audit": q71_token_budget_audit,
    "q72_incremental_categorical_drift": q72_incremental_categorical_drift,
    "q73_incremental_heavy_hitters": q73_incremental_heavy_hitters,
    "q74_incremental_tdigest_quantiles": q74_incremental_tdigest_quantiles,
}

ORACLES: dict[str, str] = {
    "q01_pricing_summary": _Q01_SQL,
    "q02_doc_profile": _Q02_SQL,
    "q03_unique_key_check": _Q03_SQL,
    "q04_ri_orders_customer": _Q04_SQL,
    "q05_merge_new_wins": _Q05_SQL,
    "q06_last_wins_dedup": _Q06_SQL,
    "q07_snapshot_align": _Q07_SQL,
    "q08_topk_per_segment": _Q08_SQL,
    "q09_sessionize": _Q09_SQL,
    "q10_running_revenue": _Q10_SQL,
    "q11_eval_metrics": _Q11_SQL,
    "q12_set_reconciliation": _Q12_SQL,
    "q13_rollup_accounting": _Q13_SQL,
    "q14_drift_psi": _Q14_SQL,
    "q15_quantiles": _Q15_SQL,
    "q16_token_stats": _Q16_SQL,
    "q17_exact_dedup": _Q17_SQL,
    "q18_minhash_signature": _Q18_SQL,
    "q19_lsh_jaccard_pairs": _Q19_SQL,
    "q20_simhash": _Q20_SQL,
    "q21_embedding_topk": _Q21_SQL,
    "q22_quality_scores": _Q22_SQL,
    "q23_language_id": _Q23_SQL,
    "q24_windowed_event_counts": _Q24_SQL,
    "q25_winnowing": _Q25_SQL,
    "q26_lsh_ann_topk": _Q26_SQL,
    "q27_range_repair": _Q27_SQL,
    "q28_json_extract": _Q28_SQL,
    "q32_group_size_profile": _Q32_SQL,
    "q33_token_budget_chunks": _Q33_SQL,
    "q34_anchor_resolution": _Q34_SQL,
    "q35_embedding_near_dups": _Q35_SQL,
    "q36_multimodal_features": _Q36_SQL,
    "q29_tdigest_quantiles": _Q29_SQL,
    "q37_overlap_removal_exact": _Q37_SQL,
    "q38_gap_enforcement_exact": _Q38_SQL,
    "q30_fuzzy_match": _Q30_SQL,
    "q39_near_dup_clusters": _Q39_SQL,
    "q40_corpus_curation": _Q40_SQL,
    "q31_ivf_ann": _Q31_SQL,
    "q41_eval_lifecycle": _Q41_SQL,
    "q42_incremental_near_dup": _Q42_SQL,
    "q43_incremental_exact_dedup": _Q17_SQL,
    "q44_multimodal_curation": _Q44_SQL,
    "q45_prefix_jaccard_pairs": _Q45_SQL,
    "q46_stratified_sample": _Q46_SQL,
    "q47_token_budget_mix": _Q47_SQL,
    "q48_decontamination": _Q48_SQL,
    "q49_repetition_filter": _Q49_SQL,
    "q50_pii_redaction": _Q50_SQL,
    "q51_monotonicity_check": _Q51_SQL,
    "q52_quantile_drift": _Q52_SQL,
    "q53_heavy_hitters": _Q53_SQL,
    "q54_suite_results": _Q54_SQL,
    "q55_curation_funnel": _Q55_SQL,
    "q56_sequence_packing": _Q56_SQL,
    "q57_contiguity_check": _Q57_SQL,
    "q58_categorical_drift": _Q58_SQL,
    "q59_freshness_audit": _Q59_SQL,
    "q60_conversation_shape": _Q60_SQL,
    "q61_transcript_suite_audit": _Q61_SQL,
    "q62_asof_state_join": _Q62_SQL,
    "q63_validation_regression_diff": _Q63_SQL,
    "q64_session_interval_join": _Q64_SQL,
    "q65_streaming_shape_validation": _Q65_SQL,
    "q66_text_equality_audit": _Q66_SQL,
    "q67_text_equality_digest": _Q66_SQL,
    "q68_functional_dependency": _Q68_SQL,
    "q69_calendar_completeness": _Q69_SQL,
    "q70_partition_outliers": _Q70_SQL,
    "q71_token_budget_audit": _Q71_SQL,
    # fixed-point contract: the incremental fold must land exactly on
    # the batch PSI, so q72's oracle IS q58's SQL (as q43's is q17's)
    "q72_incremental_categorical_drift": _Q58_SQL,
    # the merged MG summary obeys the same deterministic heavy set +
    # bounded-error contract as the batch sketch (mergeable summaries)
    "q73_incremental_heavy_hitters": _Q53_SQL,
    # the folded digest obeys the batch sketch's bounded-error contract
    "q74_incremental_tdigest_quantiles": _Q29_SQL,
    # Every catalog query is oracle-backed. q31's TRAINER (driver Lloyd)
    # remains pytest-covered (recall vs brute force): its
    # float-summation order is legitimately engine-specific — but
    # since round 4 the query itself runs the assignment+search path on
    # pinned md5-derived centroids, which IS exactly mirrorable. q29's
    # sketch VALUE is unmirrorable, but its bounded-error verdict against
    # the exact quantile is — that checkable contract is q29's oracle.
}
