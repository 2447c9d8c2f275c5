"""Tests for the scale-discipline features: per-group stats and their
skew plan, plan inspection, stateful streaming EWMA, IVF ANN."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronominer_spark.constraints import SuiteEvaluator
from chronominer_spark.constraints.spec import ConstraintSuite, group_stats
from chronominer_spark.operators.similarity import brute_force_topk, ivf_topk
from chronominer_spark.plans import (
    count_exchanges,
    pushed_filters,
    scan_columns,
    uses_broadcast_join,
)


def test_group_stats_matches_plain_groupby(spark, transcripts):
    suite = ConstraintSuite("g", (group_stats("conv_id"),))
    res, _ = SuiteEvaluator(spark, suite).evaluate(transcripts)
    got_max = (
        res.where(F.col("constraint_id") == "gstats:conv_id#max")
        .agg(F.max("observed")).collect()[0][0]
    )
    oracle_max = (
        transcripts.groupBy("conv_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert got_max == float(oracle_max)
    # rows_checked sums back to the table size
    total = res.where(F.col("constraint_id") == "gstats:conv_id#max") \
        .agg(F.sum("rows_checked")).collect()[0][0]
    assert total == transcripts.count()


def test_group_stats_hot_group_guard(spark, transcripts):
    suite = ConstraintSuite("g", (group_stats("conv_id", max_group_rows=200),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(transcripts)
    oracle_hot = (
        transcripts.groupBy("conv_id").count().where(F.col("count") > 200).count()
    )
    assert oracle_hot > 0  # the Zipf generator plants hot conversations
    got = vio.where(F.col("constraint_id") == "gstats:conv_id").count()
    assert got == oracle_hot
    assert res.where(
        (F.col("constraint_id") == "gstats:conv_id#max") & ~F.col("passed")
    ).count() > 0


def test_plan_shape_key_counts_partial_count_below_one_exchange(
        spark, transcripts, monkeypatch):
    """The skew posture of uniqueness and group stats is a plan
    property, not an option: their shared per-key count frame is one
    ``partial_count`` below one hash exchange (a hot key combines
    map-side to one row per input split) with no salt stage. A planted
    conversation holding 20% of the rows, every turn twice, must still
    give exactly a plain Python count."""
    from collections import Counter

    from chronominer_spark.constraints.spec import unique
    from chronominer_spark.plans.inspect import physical_plan

    rows = [tuple(r) for r in
            transcripts.select("pbucket", "conv_id", "turn_idx").collect()]
    rows += [(0, "conv-hot", i % 2500) for i in range(len(rows) // 4)]
    df = spark.createDataFrame(rows, "pbucket int, conv_id string, turn_idx int")

    plans = []
    real = SuiteEvaluator._key_counts

    def spy(frame, keys):
        out = real(frame, keys)
        plans.append((physical_plan(out), count_exchanges(out)))
        return out

    monkeypatch.setattr(SuiteEvaluator, "_key_counts", staticmethod(spy))
    suite = ConstraintSuite("skew", (unique("conv_id", "turn_idx"),
                                     group_stats("conv_id")))
    ev = SuiteEvaluator(spark, suite)
    res, _ = ev.evaluate(df)
    got = {(r["partition_id"], r["constraint_id"]):
           (r["observed"], r["rows_checked"], r["violation_count"])
           for r in res.collect()}
    assert "spark_partition_id" not in physical_plan(res).lower()
    ev.unpersist_all()

    # one count frame, shared by both constraints
    assert len(plans) == 1
    plan, n_exchanges = plans[0]
    assert n_exchanges == 1, plan
    assert plan.count("partial_count") == 1, plan
    assert plan.index("Exchange hashpartitioning") \
        < plan.index("partial_count"), plan

    keys = Counter(rows)
    sizes = Counter((b, c) for b, c, _ in rows)
    expect = {}
    for b in {b for b, _, _ in rows}:
        pid = f"conv_bucket={b}"
        n = sum(v for (kb, _, _), v in keys.items() if kb == b)
        dups = sum(v - 1 for (kb, _, _), v in keys.items() if kb == b)
        g = [v for (gb, _), v in sizes.items() if gb == b]
        expect[(pid, "unique:conv_id,turn_idx")] = (dups / n, n, dups)
        for stat, obs in (("min", min(g)), ("max", max(g)),
                          ("mean", sum(g) / len(g)), ("n_groups", len(g))):
            expect[(pid, f"gstats:conv_id#{stat}")] = (obs, n, 0)
    assert got.keys() == expect.keys()
    for k, v in expect.items():
        assert got[k] == pytest.approx(v), k
    assert max(sizes.values()) == sizes[(0, "conv-hot")] == len(rows) // 5


def test_plan_inspection_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .where(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf)
    cols = scan_columns(df)
    assert cols and set(cols[0]) <= {"l_orderkey", "l_quantity", "l_shipdate"}


def test_plan_inspection_broadcast(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert uses_broadcast_join(j)
    # broadcast join: no shuffle exchange needed for the join itself
    assert count_exchanges(j) == 0


def test_stateful_ewma_stream_matches_batch(spark, tmp_path):
    from chronominer_spark.streaming.stateful import ewma_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "src")
    # deterministic single file -> single micro-batch
    events.orderBy("event_id").coalesce(1).write.mode("overwrite").parquet(src)

    q = ewma_stream(spark, src, events.schema, query_name="ewma_t")
    q.processAllAvailable()
    q.stop()
    got = {r["key"]: (r["ewma"], r["n"])
           for r in spark.sql("SELECT * FROM ewma_t").collect()}

    pdf = events.orderBy("event_id").toPandas()
    for key, grp in pdf.groupby("event_type"):
        expect = grp["value"].astype(float).ewm(alpha=0.3, adjust=False).mean().iloc[-1]
        assert got[key][1] == len(grp)
        assert abs(got[key][0] - expect) < 1e-9


def test_ivf_topk_recall(vectors):
    bf = brute_force_topk(vectors, vectors, k=3)
    ivf = ivf_topk(vectors, vectors, k=3, n_centroids=3, n_probe=2,
                   sample_fraction=1.0)
    hits = ivf.join(bf, ["query_id", "neighbor_id"]).count()
    assert hits / bf.count() >= 0.9  # clustered vectors: cells align with clusters


@pytest.fixture(scope="module")
def vectors(spark):
    import hashlib
    rows = []
    for cluster in range(3):
        base = [(hashlib.md5(f"{cluster}:{i}".encode()).digest()[0] - 128) / 64.0
                for i in range(8)]
        for j in range(4):
            jit = [(hashlib.md5(f"{cluster}:{j}:{i}".encode()).digest()[1] - 128) / 2048.0
                   for i in range(8)]
            rows.append((cluster * 4 + j, [b + e for b, e in zip(base, jit)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_256_centroids_100k_vectors_recall(spark, tmp_path):
    """Scale posture for the de-literalized IVF: 256 centroids over 100k
    synthetic clustered vectors, centroids shipped via broadcast (not
    plan literals), index built and persisted as a parquet table
    partitioned by cell, search run against the reloaded index."""
    from chronominer_spark.operators.similarity import (
        ivf_build_index,
        ivf_search,
        ivf_train,
    )

    dim, n_clusters, n = 16, 64, 100_000
    # deterministic clustered vectors, generated distributed (no driver
    # loop): cluster center from md5-style hash expressions + small jitter
    ids = spark.range(n).select(F.col("id").alias("vec_id"))
    cluster = F.pmod(F.col("vec_id"), F.lit(n_clusters))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            (F.pmod(F.xxhash64(cluster, j), 1000) / 500.0 - 1.0)          # center
            + (F.pmod(F.xxhash64(F.col("vec_id"), j), 200) / 2000.0)      # jitter
        ),
    )
    corpus = ids.select("vec_id", vec.alias("embedding")).cache()
    corpus.count()
    queries = corpus.where(F.col("vec_id") < 8)

    centroids = ivf_train(corpus, "embedding", n_centroids=256,
                          sample_fraction=0.2, seed=1, iters=3)
    assert len(centroids) == 256 and len(centroids[0]) == dim

    # build and persist the index as a table; search reads it back
    index_path = str(tmp_path / "ivf_index")
    ivf_build_index(corpus, centroids).write.partitionBy("cell") \
        .parquet(index_path)
    index = spark.read.parquet(index_path)

    ann = ivf_search(queries, index, centroids, k=5, n_probe=8)
    bf = brute_force_topk(queries, corpus, k=5)
    hits = ann.join(bf, ["query_id", "neighbor_id"]).count()
    recall = hits / bf.count()
    assert recall >= 0.8, f"recall {recall}"


def test_plan_shape_dedup_partial_agg_no_window(spark):
    """Round-3 plan regression guards: the struct-agg dedups must
    compile to a partial/final aggregate split (map-side combine — the
    exchange ships one row per key per map partition, not every row)
    with NO Window operator. Note min/max over a struct lowers to
    SortAggregate (struct agg buffers are not hash-mutable); the
    scale property is the partial aggregation before the exchange, not
    the within-partition sort it uses to aggregate."""
    from chronominer_spark.operators.assembly import last_wins_dedup
    from chronominer_spark.operators.dedup import exact_dedup
    from chronominer_spark.plans.inspect import physical_plan

    docs = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")],
        "doc_id long, text string, tag string",
    )
    p = physical_plan(exact_dedup(docs, "doc_id", "text"))
    assert "partial_min" in p          # map-side combine before exchange
    assert "Window" not in p

    p2 = physical_plan(
        last_wins_dedup(docs, ["text"], ["doc_id"], keep="last"))
    assert "partial_max" in p2
    assert "Window" not in p2


def test_plan_shape_equality_exchange_value_free(spark):
    """The equality union's aggregate structs must carry only longs
    (hashes/order keys) + the partition id — never the text column.
    Witnessed on the analyzed plan of the classification aggregate."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, text_equality

    cur = spark.createDataFrame(
        [("c1", 0, "hello", 1)],
        "conv_id string, turn_idx int, text string, pbucket int",
    ).withColumn("ts", F.current_timestamp())
    ref = cur
    c = text_equality("text")
    suite = ConstraintSuite(name="pv", constraints=(c,))
    ev = SuiteEvaluator(spark, suite)
    res, vio = ev.evaluate(cur, ref, snapshot_id=1)
    # the counts branch (res) must not reference the text column at all
    # past the scan: find the aggregate stage and check its schema
    from chronominer_spark.plans.inspect import physical_plan
    plan = physical_plan(res)
    # witness 1: the persisted classification frame caches only keys +
    # partition + status — no value column rides the equality pipeline
    mem_lines = [ln for ln in plan.splitlines() if "InMemoryRelation" in ln]
    assert mem_lines and all("_cur_val" not in ln for ln in mem_lines), plan
    # witness 2: the winner-struct aggregate itself carries no 'val'
    # field (hashes + pid only)
    agg_lines = [ln for ln in plan.splitlines()
                 if "Aggregate" in ln and "_cw" in ln]
    assert agg_lines, plan
    assert all(", val," not in ln and "AS val" not in ln
               for ln in agg_lines), agg_lines
    ev.unpersist_all()


def test_ivf_search_scores_edge_vectors_like_catalyst(vectors, spark,
                                                     monkeypatch):
    """ivf_search scores with the family's numpy cosine UDF. On an index
    holding zero, ragged and (in a second pass) float32 vectors it must
    return the rows of the same probe scored with the Catalyst
    ``cosine_similarity`` reference: zero norm -> 0.0, ragged length
    -> NULL, float32 widened before the product."""
    from chronominer_spark.operators import similarity as S

    edge = spark.createDataFrame(
        [(100, [0.0] * 8),                            # zero vector
         (101, [0.5, -1.0, 2.0]),                     # ragged (short)
         (102, [0.25] * 12),                          # ragged (long)
         (103, [float(d % 3) - 1.0 for d in range(8)])],
        "vec_id long, embedding array<double>")
    corpus = vectors.unionByName(edge)
    cents = [[1.0 if (c + d) % 3 else -1.0 for d in range(8)]
             for c in range(3)]

    def rows(df):
        index = S.ivf_build_index(df, cents)
        q = df.where((F.col("vec_id") % 4 == 0) | (F.col("vec_id") >= 100))
        return sorted(map(tuple, S.ivf_search(q, index, cents, k=4,
                                              n_probe=2).collect()),
                      key=repr)

    for frame in (corpus, corpus.select(
            "vec_id", F.col("embedding").cast("array<float>")
            .alias("embedding"))):
        got = rows(frame)
        with monkeypatch.context() as m:
            m.setattr(S, "_np_cosine_udf", lambda: S.cosine_similarity)
            ref = rows(frame)
        assert got == ref
        by_pair = {(r[0], r[1]): r[2] for r in got}
        assert any(q == 100 and c == 0.0 for (q, _), c in by_pair.items())
        assert any(q in (101, 102) and c is None
                   for (q, _), c in by_pair.items())


def test_plan_shape_lsh_topk_candidates_carry_no_vectors(spark):
    """Round-4 regression guard: lsh_topk's candidate generation (bucket
    join + distinct + checkpoint) must carry ONLY (query_id,
    neighbor_id) — the embedding vectors are re-joined by key AFTER.
    Carrying vectors through the candidate exchanges multiplied shuffle
    bytes by 2x dim per pair (measured 2x wall regression at sf0.1).
    Witness: the distinct's HashAggregate output is exactly the id
    pair, no __*_v column."""
    import hashlib

    from chronominer_spark.operators.similarity import lsh_topk
    from chronominer_spark.plans.inspect import physical_plan

    rows = [(i, [float(hashlib.md5(f"{i}:{d}".encode()).digest()[0] - 128)
                 for d in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = physical_plan(lsh_topk(df, df, k=3, dim=8, n_bits=4, n_tables=4,
                               max_bucket_size=None))
    agg_lines = [ln for ln in p.splitlines()
                 if "HashAggregate(keys=[query_id" in ln]
    assert agg_lines, p
    assert all("_v" not in ln for ln in agg_lines), agg_lines


def test_plan_shape_decontaminate_broadcasts_benchmark(spark):
    """Decontamination's join must broadcast the benchmark shingle set
    (the bounded side) and partial-aggregate the per-doc hit counts
    before any exchange — the corpus side must never shuffle rows or
    text. A plan that shuffle-joins corpus shingles against the
    benchmark would move the whole corpus for a bounded dim."""
    from chronominer_spark.operators.decontam import decontaminate
    from chronominer_spark.plans.inspect import physical_plan, uses_broadcast_join

    bench = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    corpus = spark.createDataFrame([(2, "a b c e")], "doc_id long, text string")
    out = decontaminate(corpus, bench)
    p = physical_plan(out)
    assert uses_broadcast_join(out)
    assert "partial_count" in p or "partial count" in p.lower()
    assert "SortMergeJoin" not in p


def test_plan_shape_shuffle_ri_no_dim_broadcast(spark, transcripts):
    """strategy='shuffle' exists precisely for dims that cannot be
    broadcast: the dim-side anti-join must NOT be a broadcast join, and
    the fact side must collapse to distinct (key, partition) partials
    before the exchange. (The bad-key broadcast-back for violation rows
    is exempt — it carries only confirmed-bad keys.)"""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import ConstraintSuite, referential
    from chronominer_spark.datagen import role_vocab_df
    from chronominer_spark.plans.inspect import physical_plan

    suite = ConstraintSuite(
        name="ri_shuf",
        constraints=(referential("role", vocab_name="roles",
                                 allow_null=False, strategy="shuffle"),),
    )
    ev = SuiteEvaluator(spark, suite, {"roles": role_vocab_df(spark)})
    res, _ = ev.evaluate(transcripts)
    p = physical_plan(res)
    # the counts path (results frame) must resolve the anti-join without
    # broadcasting the dim: left-anti as shuffled hash/sort-merge only
    anti_lines = [ln for ln in p.splitlines() if "LeftAnti" in ln]
    assert anti_lines, p
    assert all("Broadcast" not in ln for ln in anti_lines), anti_lines
    assert "partial_count" in p


def test_plan_shape_conversation_shape_single_window_exchange(spark):
    """Scale guard for the conversation_shape family: lag and lead must
    come from ONE Window operator over ONE exchange (same partition +
    order spec — Spark collapses them), with no join and no second
    shuffle; per-group window state is a streaming frame, so a hot
    conversation cannot accumulate. (Asserted over a shuffle-free
    inline input so the plan contains ONLY the family's operators.)"""
    from chronominer_spark.constraints import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, conversation_shape)
    from chronominer_spark.plans.inspect import count_exchanges, physical_plan

    df = spark.createDataFrame(
        [("c%02d" % c, i, "user" if i % 2 else "assistant",
          "2024-01-01", 1) for c in range(8) for i in range(1, 6)],
        "conv_id string, turn_idx int, role string, ts string, pbucket int")
    suite = ConstraintSuite(
        name="shape_plan",
        constraints=(conversation_shape(
            role_col="role", over="conv_id", order_by=["turn_idx", "ts"],
            allowed_transitions=[("user", "assistant"),
                                 ("assistant", "user")]),))
    _, vio = SuiteEvaluator(spark, suite).evaluate(df)
    p = physical_plan(vio)
    assert p.count("Window") == 1          # lag+lead share one operator
    assert "Join" not in p
    assert count_exchanges(vio) == 1       # the window partitioning only


def test_conversation_shape_hot_conversation_streams(spark):
    """Skew smoke: ONE conversation holding 500k turns (plus 100 normal
    ones) through conversation_shape — the streaming lag/lead frame must
    process the hot group without buffering it (a full-partition buffer
    at this size inside the test JVM would OOM or crawl); verdict
    arithmetic stays exact."""
    from chronominer_spark.constraints import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, conversation_shape)

    hot_n = 500_000
    hot = spark.range(hot_n).select(
        F.lit("hot").alias("conv_id"),
        (F.col("id") + 1).cast("int").alias("turn_idx"),
        F.when(F.col("id") % 2 == 0, "user").otherwise("assistant")
        .alias("role"),
        F.lit(1).alias("pbucket"))
    cold = spark.range(100).select(
        F.format_string("c%04d", F.col("id")).alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(1).alias("pbucket"))
    suite = ConstraintSuite(
        name="hot_shape",
        constraints=(conversation_shape(
            role_col="role", over="conv_id", order_by=["turn_idx"],
            first_roles=["user"],
            allowed_transitions=[("user", "assistant"),
                                 ("assistant", "user")]),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(hot.unionByName(cold))
    r = res.collect()[0]
    assert r["passed"] and r["violation_count"] == 0
    assert r["rows_checked"] == hot_n + 100
    assert vio.count() == 0


def test_plan_shape_heavy_hitters_stream_never_shuffles(spark):
    """Round-5 rewrite guard (ADVICE r4): heavy_hitters' per-split MG
    pass must be mapInPandas fused into the scan — the ONLY exchange in
    the whole plan is the tiny single-group final merge of <= k rows
    per partition. The old groupBy(_split).applyInPandas shape hashed
    the ENTIRE stream across an exchange and materialized each split as
    one pandas frame (an OOM risk at scale)."""
    from chronominer_spark.operators.sketches import heavy_hitters
    from chronominer_spark.plans.inspect import count_exchanges, physical_plan

    df = spark.range(10_000).select(
        (F.col("id") % 97).cast("string").alias("item")).repartition(8)
    hh = heavy_hitters(df, "item", k=8)
    p = physical_plan(hh)
    assert count_exchanges(hh) == 1, p          # final single-group merge only
    assert "MapInPandas" in p, p                # stream pass fused, not grouped
    assert p.count("FlatMapGroupsInPandas") == 1, p   # the final merge alone


def test_plan_shape_fd_and_agg_check_no_window(spark):
    """Round-5 families must stay hash-aggregate-only: no Window, no
    Join anywhere in the result plans. functional_dependency is a
    distinct pass + two algebraic aggregates (the distinct exchange
    hashes the full (pid, det, dep) tuple — skew-proof);
    group_agg_check is one groupBy(partition, group) aggregate + an
    algebraic rollup."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, functional_dependency, group_agg_check)
    from chronominer_spark.plans.inspect import physical_plan

    df = spark.createDataFrame(
        [(f"a{i % 7}", f"p{i % 3}", i, 1) for i in range(50)],
        "account string, plan string, v int, pbucket int")

    fd_suite = ConstraintSuite(
        name="fd_shape",
        constraints=(functional_dependency(["account"], "plan"),))
    res, vio = SuiteEvaluator(spark, fd_suite).evaluate(df)
    for frame in (res, vio):
        p = physical_plan(frame)
        assert "Window" not in p and "Join" not in p, p

    agg_suite = ConstraintSuite(
        name="agg_shape",
        constraints=(group_agg_check("vsum", "account", "sum(v)", hi=1e9),))
    res2, vio2 = SuiteEvaluator(spark, agg_suite).evaluate(df)
    for frame in (res2, vio2):
        p = physical_plan(frame)
        assert "Window" not in p and "Join" not in p, p


def test_fd_hot_key_streams(spark):
    """Skew smoke for functional_dependency: ONE determinant key
    holding 500k rows (plus 100 cold keys) — the distinct pass hashes
    the full (pid, det, dep) tuple, so the hot key's rows combine
    map-side down to one row per distinct dependent before any
    exchange; verdict arithmetic stays exact (the hot key is
    inconsistent only because of its single planted second value)."""
    from chronominer_spark.constraints.engine import SuiteEvaluator
    from chronominer_spark.constraints.spec import (
        ConstraintSuite, functional_dependency)

    hot_n = 500_000
    hot = spark.range(hot_n).select(
        F.lit("hot").alias("account"),
        F.when(F.col("id") == 123_456, "free").otherwise("gold")
        .alias("plan"),
        F.lit(1).alias("pbucket"))
    cold = spark.range(100).select(
        F.format_string("c%04d", F.col("id")).alias("account"),
        F.lit("gold").alias("plan"),
        F.lit(1).alias("pbucket"))
    suite = ConstraintSuite(
        name="fd_hot",
        constraints=(functional_dependency(["account"], "plan"),))
    res, vio = SuiteEvaluator(spark, suite).evaluate(hot.unionByName(cold))
    r = res.collect()[0]
    assert r["violation_count"] == 1 and not r["passed"]
    assert r["rows_checked"] == 102          # distinct (det, dep) pairs
    v = vio.collect()
    assert len(v) == 1 and v[0]["value"] == "hot"
    assert v[0]["detail"] == "n_dependents=2 eg=free..gold"
