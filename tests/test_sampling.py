"""Deterministic sampling / data-mixing operators (operators/sampling.py).

The contract under test: selection is a pure function of row content —
stable under repartitioning, nested across rates, exact under the
two-phase bucketed rewrite.
"""

import warnings

import pytest
from pyspark.sql import functions as F

from chronominer_spark.operators.sampling import (
    hash_sample,
    portable_bucket,
    stratified_hash_sample,
    token_budget_mix,
    token_budget_mix_bucketed,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, f"src{i % 4}", (i * 37) % 100 + 1)  # (doc_id, source, n_tok)
        for i in range(400)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, n_tok long")


def test_hash_sample_deterministic_and_partition_invariant(corpus):
    a = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.3).collect()}
    b = {r["doc_id"]
         for r in hash_sample(corpus.repartition(13), "doc_id", 0.3).collect()}
    assert a == b
    assert 0 < len(a) < 400
    # rate honored within bucket-resolution tolerance (binomial noise at
    # n=400 stays well inside +/-0.15)
    assert abs(len(a) / 400 - 0.3) < 0.15


def test_hash_sample_nested_rates(corpus):
    """A row kept at rate r is kept at every rate >= r (curriculum
    scaling property of threshold-on-hash sampling)."""
    small = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.2).collect()}
    big = {r["doc_id"] for r in hash_sample(corpus, "doc_id", 0.6).collect()}
    assert small <= big


def test_stratified_rates_respected(corpus):
    # the rate lookup uses the supported map[Column] spelling, not the
    # deprecated getItem(Column) that warns on every call
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = stratified_hash_sample(
            corpus, "doc_id", "source",
            rates={"src0": 1.0, "src1": 0.0}, default_rate=0.5)
    by_src = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src.get("src0") == 100          # rate 1.0 keeps all
    assert "src1" not in by_src               # rate 0.0 keeps none
    assert 0 < by_src.get("src2", 0) < 100    # default 0.5 in between
    assert 0 < by_src.get("src3", 0) < 100


def test_stratified_equals_manual_filter(corpus):
    """The literal-map plan equals a per-stratum union of hash_sample."""
    rates = {"src0": 0.4, "src1": 0.9}
    got = stratified_hash_sample(
        corpus, "doc_id", "source", rates, default_rate=0.1)
    manual = (
        hash_sample(corpus.where(F.col("source") == "src0"), "doc_id", 0.4)
        .unionByName(
            hash_sample(corpus.where(F.col("source") == "src1"),
                        "doc_id", 0.9))
        .unionByName(
            hash_sample(corpus.where(~F.col("source").isin("src0", "src1")),
                        "doc_id", 0.1))
    )
    assert ({r["doc_id"] for r in got.collect()}
            == {r["doc_id"] for r in manual.collect()})


def test_portable_bucket_matches_duckdb(spark):
    import duckdb
    keys = ["0", "17", "alpha", "béta", ""]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {r["k"]: r["b"] for r in
           df.select("k", portable_bucket("k").alias("b")).collect()}
    con = duckdb.connect()
    for k in keys:
        exp = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::UBIGINT % 1000000",
            [k]).fetchone()[0]
        assert got[k] == exp, k


def test_token_budget_mix_exact_prefix(spark):
    rows = [("s", 1, 50), ("s", 2, 40), ("s", 3, 30), ("s", 4, 5),
            ("t", 5, 100), ("t", 6, 1)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = token_budget_mix(
            df, "source", "n_tok", budgets={"s": 95}, default_budget=100,
            order_cols=[F.col("n_tok").desc(), F.col("doc_id").asc()],
            with_cum=True)
    got = {(r["source"], r["doc_id"]): r["cum_tokens"] for r in out.collect()}
    # s: 50 (cum 50) + 40 (cum 90) fit; 30 would make 120 > 95; the later
    # 5-token doc must NOT sneak in (prefix, not knapsack)
    assert got == {("s", 1): 50, ("s", 2): 90, ("t", 5): 100}


def test_token_budget_mix_bucketed_matches_windowed(corpus):
    """The two-phase bucketed rewrite selects exactly the windowed
    variant's rows. Bucket = descending-quantized token count, a coarse
    prefix of the (n_tok desc, doc_id asc) order; budgets chosen so
    boundaries land INSIDE buckets (the hard case)."""
    order = [F.col("n_tok").desc(), F.col("doc_id").asc()]
    # n_tok in [1, 100]; bucket ascending == n_tok descending
    bucketed = corpus.withColumn(
        "prio_bucket", ((100 - F.col("n_tok")) / 20).cast("int"))
    budgets = {"src0": 700, "src1": 0, "src2": 10_000_000}
    want = {
        (r["source"], r["doc_id"])
        for r in token_budget_mix(
            bucketed, "source", "n_tok", budgets, default_budget=333,
            order_cols=order).collect()
    }
    got = {
        (r["source"], r["doc_id"])
        for r in token_budget_mix_bucketed(
            bucketed, "source", "n_tok", budgets, bucket_col="prio_bucket",
            order_cols=order, default_budget=333).collect()
    }
    assert got == want
    # the fixture must exercise both whole-kept and edge buckets
    assert any(s == "src2" for s, _ in got)      # everything kept
    assert 0 < len([1 for s, _ in got if s == "src0"]) < 100
