"""In-repo oracles for the operator library — especially the families
whose driver check is rows-only (LSH, simhash, winnowing, ANN)."""

import math

import pytest
from pyspark.sql import functions as F

from chronominer_spark.operators.assembly import (
    full_outer_align,
    last_wins_dedup,
    merge_new_wins,
    sessionize,
    top_k_per_group,
)
from chronominer_spark.operators.dedup import (
    exact_dedup,
    hamming_distance,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from chronominer_spark.operators.evalmetrics import field_metrics, micro_macro_summary
from chronominer_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dups,
    lsh_topk,
)
from chronominer_spark.operators.textstats import (
    language_id,
    quality_features,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, base),
        (1, base),                                  # exact dup of 0
        (2, base + " today"),                       # near dup of 0
        (3, "completely different text about spark partitions and shuffles"),
        (4, "  The   QUICK brown fox jumps over the lazy dog near the river bank "),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalized(docs):
    kept = exact_dedup(docs, "doc_id", "text")
    ids = {r["doc_id"] for r in kept.collect()}
    # 0, 1 and 4 normalize identically -> one survivor (min id = 0)
    assert 0 in ids and 1 not in ids and 4 not in ids
    assert {2, 3, 5} <= ids
    dup = {r["doc_id"]: r["dup_count"] for r in kept.collect()}
    assert dup[0] == 3


def test_minhash_lsh_finds_near_dups(docs):
    d = docs.where(F.col("text").isNotNull())
    sigs = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=16)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got          # identical
    assert (0, 2) in got or (1, 2) in got  # near dup shares most shingles
    assert (0, 3) not in got      # unrelated text must not collide


def test_prefix_jaccard_exactness_vs_brute_force(spark):
    """Prefix filtering must be LOSSLESS: the PPJoin-style join finds
    exactly the pairs (and values) an all-pairs brute force finds at
    the same threshold — including a pair sitting exactly AT the
    threshold. 40 docs built from a shared word pool so overlaps span
    the whole [0, 1] Jaccard range."""
    from chronominer_spark.operators.dedup import prefix_jaccard_pairs

    pool = [f"w{i}" for i in range(60)]
    rows = []
    for d in range(40):
        # overlapping sliding windows over the pool: doc d shares
        # most of its words with d+1, half with d+2, little beyond
        words = pool[(d * 3) % 50:(d * 3) % 50 + 12] or pool[:12]
        rows.append((d, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    t = 0.3
    got = prefix_jaccard_pairs(df, "doc_id", "text", threshold=t, k=3)
    got_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}

    all_pairs = (
        df.select(F.col("doc_id").alias("id_a"))
        .crossJoin(df.select(F.col("doc_id").alias("id_b")))
        .where(F.col("id_a") < F.col("id_b"))
    )
    brute = ngram_jaccard_pairs(df, "doc_id", "text", all_pairs, k=3) \
        .where(F.col("jaccard") >= t)
    brute_pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                   for r in brute.collect()}

    assert got_pairs == brute_pairs
    assert len(brute_pairs) > 0  # the fixture must actually plant pairs


def test_jaccard_values(docs):
    d = docs.where(F.col("text").isNotNull())
    pairs = d.select(F.lit(0).alias("id_a"), F.lit(1).alias("id_b")).limit(1).union(
        d.select(F.lit(0).alias("id_a"), F.lit(3).alias("id_b")).limit(1)
    )
    j = {(r["id_a"], r["id_b"]): r["jaccard"]
         for r in ngram_jaccard_pairs(d, "doc_id", "text", pairs).collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 3)] < 0.1


def test_simhash_near_dup_low_hamming(spark, docs):
    d = docs.where(F.col("text").isNotNull())
    sh = simhash(d, "doc_id", "text", bits=32)
    vals = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert vals[0] == vals[1]
    a = sh.where(F.col("doc_id") == 0).select(F.col("simhash").alias("ha"))
    b = sh.where(F.col("doc_id") == 2).select(F.col("simhash").alias("hb"))
    d02 = a.crossJoin(b).select(hamming_distance("ha", "hb").alias("d")).collect()[0]["d"]
    c = sh.where(F.col("doc_id") == 3).select(F.col("simhash").alias("hb"))
    d03 = a.crossJoin(c).select(hamming_distance("ha", "hb").alias("d")).collect()[0]["d"]
    assert d02 < d03


@pytest.fixture(scope="module")
def vectors(spark):
    # 3 clusters of 4 near-identical vectors + jitter, dim 8
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


def _np_topk(rows, qid, k):
    q = dict(rows)[qid]
    sims = []
    for vid, v in rows:
        if vid == qid:
            continue
        dp = sum(x * y for x, y in zip(q, v))
        na = math.sqrt(sum(x * x for x in q))
        nb = math.sqrt(sum(x * x for x in v))
        sims.append((round(dp / (na * nb), 6), vid))
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [vid for _, vid in sims[:k]]


def test_brute_force_topk_matches_numpy(vectors):
    rows = [(r["vec_id"], r["embedding"]) for r in vectors.collect()]
    got = brute_force_topk(vectors.where(F.col("vec_id") == 0), vectors, k=3)
    got_ids = [r["neighbor_id"] for r in got.orderBy("rank").collect()]
    assert got_ids == _np_topk(rows, 0, 3)


def test_lsh_topk_recall_on_clustered_vectors(vectors):
    bf = brute_force_topk(vectors, vectors, k=3)
    ann = lsh_topk(vectors, vectors, k=3, dim=8, n_bits=4, n_tables=8)
    hits = ann.join(bf, ["query_id", "neighbor_id"]).count()
    recall = hits / bf.count()
    assert recall >= 0.9  # clustered data: hyperplane LSH must find the cluster


def test_lsh_topk_broadcast_vectors_identical(vectors, spark, monkeypatch,
                                              caplog):
    """The vector broadcast is size-guarded: under the
    ``BROADCAST_VECTOR_BYTES`` cap the cosine UDF resolves vectors from
    broadcast matrices, over it ``lsh_topk`` logs a warning and takes
    the shuffled per-pair re-attach. Both paths must give row-identical
    ``lsh_topk`` and ``embedding_near_dups`` output, and the lookup UDF
    must match the re-attach UDF on NULL-vector (NULL cosine), zero-norm
    (0.0) and ragged-length edge rows routed through the scalar
    fallback."""
    import logging

    from pyspark.sql import functions as F

    from chronominer_spark.operators import similarity as S
    from chronominer_spark.operators.similarity import (
        _np_cosine_lookup_udf,
        _np_cosine_udf,
    )

    def run():
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger=S.__name__):
            top = sorted(map(tuple, lsh_topk(
                vectors, vectors, k=3, dim=8, n_bits=4,
                n_tables=8).collect()))
            near = sorted(map(tuple, embedding_near_dups(
                vectors, dim=8, n_bits=4, n_tables=8).collect()))
        fell_back = any("shuffled re-attach" in r.getMessage()
                        for r in caplog.records)
        return top, near, fell_back

    bcast_top, bcast_near, bcast_fell_back = run()
    n = vectors.count()
    # one vector short of the row count: 8 float64s per vector at dim=8
    monkeypatch.setattr(S, "BROADCAST_VECTOR_BYTES", (n - 1) * 8 * 8)
    shuf_top, shuf_near, shuf_fell_back = run()
    assert not bcast_fell_back and shuf_fell_back
    assert bcast_top and bcast_top == shuf_top
    assert bcast_near and bcast_near == shuf_near
    assert _np_cosine_lookup_udf(spark, (vectors, vectors), n - 1) is None

    # edge rows: NULL vector, zero vector, ragged length
    edge = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [0.0, 0.0]), (4, [1.0, 2.0, 3.0]),
         (5, [2.0, 4.0])],
        "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3), (4, 4)],
        "query_id long, neighbor_id long")
    ev = edge.select("vec_id", "embedding")
    ref_cos = _np_cosine_udf()
    ref = pairs.join(ev.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("qa")), "query_id") \
        .join(ev.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("nb")), "neighbor_id") \
        .select("query_id", "neighbor_id",
                F.round(ref_cos("qa", "nb"), 6).alias("cosine"))
    got_cos = _np_cosine_lookup_udf(spark, (ev, ev), 5)
    got = pairs.select(
        "query_id", "neighbor_id",
        F.round(got_cos("query_id", "neighbor_id"), 6).alias("cosine"))
    assert sorted(map(tuple, ref.collect())) \
        == sorted(map(tuple, got.collect()))

    # side-wise dim mismatch: every query vector 2-dim, every neighbor
    # 3-dim, so each side stacks into its own matrix — NULL cosine, or
    # 0.0 where a norm is zero, like the Catalyst fold
    q2 = spark.createDataFrame([(1, [1.0, 2.0]), (2, [0.0, 0.0])],
                               "vec_id long, embedding array<double>")
    n3 = spark.createDataFrame([(7, [1.0, 2.0, 3.0]), (8, [4.0, 5.0, 6.0])],
                               "vec_id long, embedding array<double>")
    mixed = spark.createDataFrame([(1, 7), (1, 8), (2, 7)],
                                  "query_id long, neighbor_id long")
    mixed_cos = _np_cosine_lookup_udf(spark, (q2, n3), 5)
    got = mixed.select(
        "query_id", "neighbor_id",
        F.round(mixed_cos("query_id", "neighbor_id"), 6).alias("cosine"))
    assert sorted(map(tuple, got.collect())) \
        == [(1, 7, None), (1, 8, None), (2, 7, 0.0)]


def test_lsh_topk_hot_bucket_guard(vectors, spark, caplog):
    """lsh_topk's hot-bucket guard: 30 identical copies of one vector
    share every sketch bucket, so a cap below 30 drops those buckets
    with a logged warning and the copies stop pairing with each other;
    a cap above every bucket returns exactly the unguarded rows."""
    import logging

    v0 = vectors.where(F.col("vec_id") == 0).first()["embedding"]
    copies = spark.createDataFrame(
        [(1000 + i, v0) for i in range(30)],
        "vec_id long, embedding array<double>")
    corpus = vectors.unionByName(copies)

    def run(cap):
        caplog.clear()
        with caplog.at_level(logging.WARNING):
            rows = sorted(map(tuple, lsh_topk(
                corpus, corpus, k=3, dim=8, n_bits=4, n_tables=4,
                max_bucket_size=cap).collect()))
        return rows, [r.getMessage() for r in caplog.records
                      if "hot bucket" in r.getMessage()]

    unguarded, warned = run(None)
    assert not warned
    assert any(q >= 1000 and n >= 1000 for q, n, _, _ in unguarded)
    guarded, warned = run(20)
    assert warned and warned[0].startswith("lsh_topk: dropping")
    assert guarded and not any(n >= 1000 for _, n, _, _ in guarded)
    roomy, warned = run(corpus.count())
    assert not warned
    assert roomy == unguarded


def test_field_metrics_hand_example(spark):
    hyp = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)],
        "k long, f1 string, f2 double",
    )
    gt = spark.createDataFrame(
        [(1, "a", 1.0), (2, "x", 2.0), (4, "c", 9.0)],
        "k long, f1 string, f2 double",
    )
    m = {r["field"]: r for r in field_metrics(hyp, gt, ["k"], ["f1", "f2"]).collect()}
    # f1: k1 match TP; k2 b vs x -> FP+FN; k3 unmatched hyp None -> nothing;
    # k4 unmatched gt 'c' -> FN
    assert (m["f1"]["tp"], m["f1"]["fp"], m["f1"]["fn"]) == (1, 1, 2)
    # f2: k1 TP; k2 2.0==2.0 TP; k3 unmatched hyp 3.0 FP; k4 unmatched gt FN
    assert (m["f2"]["tp"], m["f2"]["fp"], m["f2"]["fn"]) == (2, 1, 1)
    summary = {r["granularity"]: r
               for r in micro_macro_summary(field_metrics(hyp, gt, ["k"], ["f1", "f2"])).collect()}
    assert summary["micro"]["precision"] == round(3 / 5, 6)


def test_sessionize_hand_example(spark):
    rows = [
        (1, "2026-01-01 00:00:00"), (1, "2026-01-01 00:10:00"),
        (1, "2026-01-01 01:10:00"),  # > 30 min gap -> new session
        (2, "2026-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string") \
        .select("user_id", F.to_timestamp("ts_s").alias("ts"))
    s = sessionize(df, "user_id", "ts", 1800)
    got = {(r["user_id"], r["ts"].minute, r["ts"].hour): r["session_id"]
           for r in s.collect()}
    assert got[(1, 0, 0)] == 1 and got[(1, 10, 0)] == 1 and got[(1, 10, 1)] == 2
    assert got[(2, 0, 0)] == 1


def test_merge_new_wins_keyless_passthrough(spark):
    base = spark.createDataFrame([(1, "old"), (2, "old")], "k long, v string")
    upd = spark.createDataFrame([(2, "new"), (3, "new")], "k long, v string")
    got = {r["k"]: r["v"] for r in merge_new_wins(base, upd, ["k"]).collect()}
    assert got == {1: "old", 2: "new", 3: "new"}


def test_last_wins_dedup_total_order(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (1, 20, "c")], "k long, ord long, v string"
    )
    kept = last_wins_dedup(df, ["k"], ["ord", "v"])
    assert kept.collect()[0]["v"] == "c"


def test_dedup_winner_identity_on_tied_keys(spark):
    """The hash-agg winner selection must be deterministic even when the
    declared order keys tie exactly: the payload fields break the tie
    lexicographically (round-3 rework of the sort-window plan)."""
    df = spark.createDataFrame(
        [(1, 10, "a", "x"), (1, 10, "a", "z"), (1, 10, "a", "y")],
        "k long, ord long, v string, w string",
    )
    # keep='last': max(struct(ord, v, w)) -> ties on (ord, v) resolve to
    # the largest payload ("z"); keep='first' -> the smallest ("x")
    last = last_wins_dedup(df, ["k"], ["ord", "v"]).collect()[0]
    first = last_wins_dedup(df, ["k"], ["ord", "v"], keep="first").collect()[0]
    assert last["w"] == "z" and first["w"] == "x"

    # exact_dedup: identical content + tied id -> remaining columns pin
    # the winner (smallest lexicographic payload)
    docs = spark.createDataFrame(
        [(7, "same text", "b"), (7, "same text", "a"), (9, "same text", "c")],
        "doc_id long, text string, tag string",
    )
    from chronominer_spark.operators.dedup import exact_dedup
    kept = exact_dedup(docs, "doc_id", "text").collect()
    assert len(kept) == 1
    assert kept[0]["doc_id"] == 7 and kept[0]["tag"] == "a"
    assert kept[0]["dup_count"] == 3

    # parallelism invariance of the tied pick
    kept2 = exact_dedup(docs.repartition(8), "doc_id", "text").collect()
    assert kept2 == kept


def test_full_outer_align_presence(spark):
    l = spark.createDataFrame([(1,), (2,)], "k long")
    r = spark.createDataFrame([(2,), (3,)], "k long")
    got = {r2["k"]: r2["presence"]
           for r2 in full_outer_align(l, r, ["k"], "h", "g").collect()}
    assert got == {1: "h_only", 2: "both", 3: "g_only"}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", 2), ("b", 9)], "g string, v long"
    )
    top = top_k_per_group(df, ["g"], [F.col("v").desc()], 2)
    got = sorted((r["g"], r["v"], r["rank"]) for r in top.collect())
    assert got == [("a", 2, 2), ("a", 3, 1), ("b", 9, 1)]


def test_token_count_and_quality(spark):
    df = spark.createDataFrame([(1, "Hello, world 42!"), (2, ""), (3, None)],
                               "id long, text string")
    tc = {r["id"]: r["tc"] for r in
          df.select("id", token_count("text").alias("tc")).collect()}
    # hello , world 42 ! -> 5 tokens
    assert tc == {1: 5, 2: 0, 3: 0}
    q = quality_features(df)
    row = q.where(F.col("id") == 1).collect()[0]
    assert 0 < row["quality_score"] <= 1
    assert row["punct_ratio"] > 0


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog in the house"),
         (2, "der Hund und die Katze ist von mir"),
         (3, "xyzzy plugh qwerty")],
        "id long, text string",
    )
    got = {r["id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "und"


def test_lsh_bands_divisibility_validated(docs):
    d = docs.where(F.col("text").isNotNull())
    sigs = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=16)
    # python-side validation when num_hashes is declared
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(sigs, "doc_id", bands=5, num_hashes=16)
    # row-level guard when it is not declared: the job fails loudly
    # instead of silently excluding trailing signature entries
    with pytest.raises(Exception, match="not divisible"):
        lsh_candidate_pairs(sigs, "doc_id", bands=5).collect()


def test_lsh_hot_bucket_guard_bounds_candidates(spark):
    # 1000 identical docs -> every band bucket is degenerate; without the
    # guard the self-join yields ~500k pairs, with it zero survive (and
    # the distinct unrelated doc never pairs with anything)
    rows = [(i, "same boilerplate text repeated everywhere") for i in range(1000)]
    rows.append((5000, "entirely different content about spark plans"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=8)
    guarded = lsh_candidate_pairs(sigs, "doc_id", bands=4, num_hashes=8,
                                  max_bucket_size=100)
    assert guarded.count() == 0
    # guard off: the degenerate bucket really does explode -> the guard
    # is load-bearing, not a no-op
    unguarded = lsh_candidate_pairs(sigs, "doc_id", bands=4, num_hashes=8,
                                    max_bucket_size=None)
    assert unguarded.count() == 1000 * 999 // 2


def test_shingle_once_pipeline_matches_per_stage_shingling(docs):
    """Shingling once (one cached ``shingle_hash_docs`` frame passed as
    ``hash_df`` to both stages) gives the same signatures and verify
    rows as letting each stage shingle the raw text itself."""
    from chronominer_spark.operators.dedup import shingle_hash_docs

    d = docs.where(F.col("text").isNotNull())
    fh = shingle_hash_docs(d, "doc_id", "text", k=3).cache()
    sigs_a = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=16)
    sigs_b = minhash_signatures(d, "doc_id", "text", k=3, num_hashes=16,
                                hash_df=fh)
    assert sorted(map(tuple, sigs_a.collect())) == sorted(map(tuple, sigs_b.collect()))
    pairs = lsh_candidate_pairs(sigs_b, "doc_id", bands=8, num_hashes=16)
    va = ngram_jaccard_pairs(d, "doc_id", "text", pairs, k=3)
    vb = ngram_jaccard_pairs(d, "doc_id", "text", pairs, k=3, hash_df=fh)
    rows_a = sorted(map(tuple, va.collect()))
    assert rows_a and rows_a == sorted(map(tuple, vb.collect()))
    fh.unpersist()


def test_portable_simhash_matches_duckdb(spark):
    import duckdb

    rows = [(0, "the quick brown fox"), (1, "the quick brown dog"),
            (2, "unrelated words entirely"), (3, "")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in simhash(d, "doc_id", "text", bits=32, portable=True).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute("""
        WITH w AS (SELECT doc_id, unnest(string_split_regex(
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), '\\s+')) AS w
                   FROM t),
        h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::UBIGINT AS h FROM w),
        bits AS (SELECT doc_id, r.b AS b,
                        sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                 FROM h, range(0, 32) r(b) GROUP BY doc_id, r.b)
        SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
        FROM bits GROUP BY doc_id
    """).fetchall())
    assert got == want
    with pytest.raises(ValueError, match="60 bits"):
        simhash(d, "doc_id", "text", bits=64, portable=True)


def test_field_metrics_fuzzy_text_matching(spark):
    """Reference-style eval: text fields match at normalized Levenshtein
    >= 0.85 (case-insensitive, ws-collapsed), exact fields stay strict."""
    from chronominer_spark.operators.evalmetrics import field_metrics

    hyp = spark.createDataFrame(
        [(1, "The  Quick Brown Fox", 10),   # fuzzy-equal to gt (case+ws)
         (2, "completely different", 20),   # fuzzy-mismatch
         (3, "Johann Sebastian Bach", 31),  # 1-char typo -> ratio > 0.85
         (4, None, None)],                  # null == null
        "k int, name string, v int",
    )
    gt = spark.createDataFrame(
        [(1, "the quick brown fox", 10),
         (2, "unrelated text here", 20),
         (3, "Johann Sebastien Bach", 30),
         (4, None, None)],
        "k int, name string, v int",
    )
    strict = {r["field"]: r for r in
              field_metrics(hyp, gt, ["k"], ["name", "v"]).collect()}
    fuzzy = {r["field"]: r for r in
             field_metrics(hyp, gt, ["k"], ["name", "v"],
                           fuzzy_fields={"name": 0.85}).collect()}
    # strict: only the null==null row matches name
    assert strict["name"]["tp"] == 1 and strict["name"]["fp"] == 3
    # fuzzy: rows 1 (case/ws) and 3 (typo) now match; row 2 still FP
    assert fuzzy["name"]["tp"] == 3 and fuzzy["name"]["fp"] == 1
    # the exact int field is unaffected by the fuzzy option
    assert strict["v"] == fuzzy["v"]
    assert fuzzy["v"]["tp"] == 3 and fuzzy["v"]["fp"] == 1  # 31 != 30


def test_dedup_clusters_transitive_chain(spark):
    """Connected components must close chains the pair list never states
    directly (a-b, b-c, c-d -> one cluster labeled by the min id), keep
    disjoint components apart, and converge under repartitioning."""
    from chronominer_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain -> cluster 1
         (10, 11),                    # pair  -> cluster 10
         (20, 22), (21, 22)],         # star  -> cluster 20
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"]
           for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}
    got2 = {r["id"]: r["cluster_id"]
            for r in dedup_clusters(pairs.repartition(7)).collect()}
    assert got2 == got
    # keep-one-per-cluster filter yields exactly the component minima
    keep = sorted(i for i, c in got.items() if i == c)
    assert keep == [1, 10, 20]


def test_dedup_clusters_nonconvergence_contract(spark):
    """A similarity chain longer than max_iter hops cannot converge —
    the default contract is to RAISE (never return silently-wrong split
    components); on_nonconverged='warn' returns the partial labels."""
    import pytest

    from chronominer_spark.operators.dedup import dedup_clusters

    # a 12-hop path graph: min-label propagation moves the min one hop
    # per round, so max_iter=3 cannot finish
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did NOT converge"):
        dedup_clusters(pairs, max_iter=3)
    # warn mode returns (partial) labels instead of raising
    partial = dedup_clusters(pairs, max_iter=3, on_nonconverged="warn")
    assert partial.count() == 13
    # with enough rounds the same graph converges to one component
    got = {r["id"]: r["cluster_id"]
           for r in dedup_clusters(pairs, max_iter=20).collect()}
    assert set(got.values()) == {0}


def test_dedup_clusters_shortcut_mode_converges_fast(spark):
    """Pointer-jumping mode must close a deep chain in O(log d) rounds —
    a 40-hop path converges within max_iter=8 (plain mode needs 40) and
    reaches the identical fixed point as the default mode."""
    from chronominer_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    fast = {r["id"]: r["cluster_id"]
            for r in dedup_clusters(pairs, max_iter=8, shortcut=True).collect()}
    assert set(fast.values()) == {0} and len(fast) == 41
    slow = {r["id"]: r["cluster_id"]
            for r in dedup_clusters(pairs, max_iter=50).collect()}
    assert fast == slow


def test_decontaminate_flags_planted_leakage(spark):
    """A corpus doc that verbatim-contains a benchmark doc's text must
    flag at overlap_frac 1.0; an all-fresh-vocabulary doc at 0.0; a
    half-copied doc in between — and the benchmark shingle set must be
    reusable via bench_shingles_df without changing any number."""
    from chronominer_spark.operators.decontam import (
        benchmark_shingles,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),       # verbatim copy
         (2, "qq ww ee rr tt yy uu ii"),                   # fresh vocab
         (3, "alpha beta gamma delta qq ww ee rr tt")],    # half copied
        "doc_id long, text string")

    got = {r["doc_id"]: r for r in
           decontaminate(corpus, bench, threshold=0.5).collect()}
    assert got[1]["overlap_frac"] == 1.0 and got[1]["contaminated"]
    assert got[2]["overlap_frac"] == 0.0 and not got[2]["contaminated"]
    # doc 3: shingles 1-7; 'alpha beta gamma'/'beta gamma delta' hit
    assert got[3]["n_overlap"] == 2 and not got[3]["contaminated"]

    pre = benchmark_shingles(bench, "doc_id", "text").persist()
    via_pre = {r["doc_id"]: r for r in
               decontaminate(corpus, bench, threshold=0.5,
                             bench_shingles_df=pre).collect()}
    pre.unpersist()
    assert {k: (v["n_shingles"], v["n_overlap"]) for k, v in got.items()} \
        == {k: (v["n_shingles"], v["n_overlap"]) for k, v in via_pre.items()}


def test_repetition_features_flags_degenerate_text(spark):
    """A degenerate loop doc must flag on both branches; natural prose
    must not; a doc shorter than k words must survive with zeroed gram
    fractions (explode_outer path), not disappear."""
    from chronominer_spark.operators.textstats import repetition_features

    docs = spark.createDataFrame(
        [(1, "buy now buy now buy now buy now buy now"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "single")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           repetition_features(docs, k=2).collect()}

    assert len(got) == 3
    # doc 1: 10 words, 9 bigrams, only 2 distinct ('buy now' x5, 'now buy' x4)
    assert got[1]["n_grams"] == 9
    assert got[1]["dup_ngram_frac"] == round(1 - 2 / 9, 6)
    assert got[1]["top_ngram_frac"] == round(5 / 9, 6)
    assert got[1]["repetitive"]
    # doc 2: 'the' repeats (dup_word) but every bigram is unique
    assert got[2]["dup_ngram_frac"] == 0.0 and not got[2]["repetitive"]
    assert got[2]["dup_word_frac"] == round(1 - 8 / 9, 6)
    # doc 3: shorter than k -> zero grams, zero fractions, not flagged
    assert got[3]["n_grams"] == 0 and got[3]["top_ngram_frac"] == 0.0
    assert not got[3]["repetitive"]


def test_redact_pii_patterns_and_counts(spark):
    """Each PII kind is counted on the original text and replaced with
    its typed token; counts are independent of redaction order; unknown
    kinds are rejected."""
    import pytest as _pytest

    from chronominer_spark.operators.pii import redact_pii

    docs = spark.createDataFrame(
        [(1, "mail a.b+c@test-host.org and x@y.io please"),
         (2, "call +1 555-123-4567 or 555-000-1111"),
         (3, "hosts 10.0.0.1 and 192.168.255.254 up"),
         (4, "nothing sensitive here"),
         (5, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}

    assert got[1]["n_email"] == 2 and got[1]["redacted"] == \
        "mail [EMAIL] and [EMAIL] please"
    assert got[2]["n_phone"] == 2 and got[2]["redacted"] == \
        "call [PHONE] or [PHONE]"
    assert got[3]["n_ipv4"] == 2 and got[3]["redacted"] == \
        "hosts [IP] and [IP] up"
    assert got[4]["redacted"] == "nothing sensitive here"
    assert got[5]["redacted"] == "" and got[5]["n_email"] == 0

    with _pytest.raises(ValueError, match="unknown PII kinds"):
        redact_pii(docs, kinds=("email", "ssn"))


def test_heavy_hitters_guarantee_under_any_partitioning(spark):
    """The MG contract must hold regardless of how the stream is split:
    every key above n/(k+1) is found with exact−n/(k+1) ≤ est ≤ exact,
    at 1 partition and at 13; with distinct ≤ k the summary is exact."""
    from chronominer_spark.operators.sketches import heavy_hitters

    # 5000 rows: 'hot' 30%, 'warm' 20%, 100 cold keys sharing the rest
    rows = [((["hot"] * 3 + ["warm"] * 2 + ["c%02d" % (i % 100)] * 5)[i % 10],)
            for i in range(5000)]
    df = spark.createDataFrame(rows, "item string")
    exact = {r["item"]: r["cnt"] for r in
             df.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n, k = 5000, 4

    for parts in (1, 13):
        got = {r["item"]: r["est_count"] for r in
               heavy_hitters(df.repartition(parts), "item", k=k).collect()}
        assert len(got) <= k
        for item, cnt in exact.items():
            if cnt * (k + 1) > n:
                assert item in got, (parts, item)
        for item, est in got.items():
            assert est <= exact[item]
            assert (exact[item] - est) * (k + 1) <= n

    # distinct <= k: exact counts, no error
    small = spark.createDataFrame([("a",)] * 7 + [("b",)] * 3, "item string")
    got = {r["item"]: r["est_count"] for r in
           heavy_hitters(small.repartition(3), "item", k=8).collect()}
    assert got == {"a": 7, "b": 3}


def test_repetition_features_degenerate_docs(spark):
    """repetition_features on messy inputs: a NULL text, an empty text
    and a single-word doc (fewer than k words) each survive as one row
    with zero grams via ``explode_outer``, next to looped, clean and
    mixed docs. Expected rows are literal."""
    from chronominer_spark.operators.textstats import repetition_features

    docs = spark.createDataFrame(
        [(1, "buy now buy now buy now buy now buy now"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "single"), (4, None), (5, ""),
         (6, "a a a a b b a a a")],
        "doc_id long, text string")
    got = sorted(map(tuple, repetition_features(docs, k=2).collect()))
    assert got == [
        (1, 10, 0.8, 9, 0.777778, 0.555556, True),
        (2, 9, 0.111111, 8, 0.0, 0.125, False),
        (3, 1, 0.0, 0, 0.0, 0.0, False),
        (4, 1, 0.0, 0, 0.0, 0.0, False),
        (5, 1, 0.0, 0, 0.0, 0.0, False),
        (6, 9, 0.777778, 8, 0.5, 0.625, True),
    ]


def test_heavy_hitters_empty_and_all_null_inputs(spark):
    """Degenerate inputs must yield an empty summary, not an error:
    zero rows, and a column that is entirely null (nulls are skipped)."""
    from chronominer_spark.operators.sketches import heavy_hitters

    empty = spark.createDataFrame([], "item string")
    assert heavy_hitters(empty, "item", k=4).count() == 0
    nulls = spark.createDataFrame([(None,)] * 10, "item string")
    assert heavy_hitters(nulls, "item", k=4).count() == 0


def test_asof_join_backward_forward_tolerance_and_ties(spark):
    """asof_join: backward picks the latest right row at-or-before each
    left ts per key (ties inclusive), forward the earliest at-or-after;
    tolerance nulls too-distant matches; unmatched left rows survive
    with null columns; duplicate right timestamps resolve to the
    struct-max payload (deterministic, parallelism-invariant)."""
    from chronominer_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("a", 10, 1), ("a", 25, 2), ("a", 5, 3), ("b", 50, 4),
         ("c", 7, 5)],
        "k string, ts long, lid int")
    right = spark.createDataFrame(
        [("a", 10, "r10"), ("a", 20, "r20"), ("a", 20, "r20bis"),
         ("b", 60, "r60")],
        "k string, ts long, v string")

    back = {r["lid"]: (r["asof_ts"], r["asof_v"]) for r in asof_join(
        left, right, on=["k"], right_cols=["v"]).collect()}
    assert back[1] == (10, "r10")          # tie at ts=10 is inclusive
    assert back[2] == (20, "r20bis")       # dup right ts -> struct max
    assert back[3] == (None, None)         # nothing at or before 5
    assert back[4] == (None, None)         # b's only right row is after
    assert back[5] == (None, None)         # key with no right rows

    fwd = {r["lid"]: (r["asof_ts"], r["asof_v"]) for r in asof_join(
        left, right, on=["k"], right_cols=["v"],
        direction="forward").collect()}
    assert fwd[1] == (10, "r10")
    assert fwd[2] == (None, None)          # nothing at or after 25
    assert fwd[3] == (10, "r10")
    assert fwd[4] == (60, "r60")

    # tolerance: with timestamps, gaps beyond the interval null out
    lts = spark.createDataFrame(
        [("a", "2024-01-10 00:00:00", 1), ("a", "2024-01-30 00:00:00", 2)],
        "k string, ts string, lid int").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    rts = spark.createDataFrame(
        [("a", "2024-01-09 00:00:00", "near")],
        "k string, ts string, v string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    tol = {r["lid"]: r["asof_v"] for r in asof_join(
        lts, rts, on=["k"], right_cols=["v"],
        tolerance_expr="INTERVAL 2 DAY").collect()}
    assert tol[1] == "near"                # 1 day back: inside
    assert tol[2] is None                  # 21 days back: nulled

    import pytest as _pytest
    with _pytest.raises(ValueError, match="backward|forward"):
        asof_join(left, right, on=["k"], direction="sideways")


def test_interval_join_containment_overlap_and_span_guard(spark):
    """interval_join: inclusive [lo, hi] containment via the
    bucketize-then-refine equi-join; a point inside two overlapping
    intervals matches both exactly once each (no bucket-level dups even
    when an interval covers many buckets); keys never cross; an
    interval spanning more than max_buckets_per_interval buckets fails
    the job via the in-plan raise_error guard."""
    import pytest as _pytest
    from pyspark.sql.utils import CapturedException

    from chronominer_spark.operators.temporal import interval_join

    pts = spark.createDataFrame(
        [("a", 100, 1), ("a", 10, 2), ("a", 250, 3), ("b", 100, 4)],
        "k string, v long, pid int")
    ivs = spark.createDataFrame(
        [("a", 50, 150, "i1"), ("a", 90, 240, "i2"), ("a", 250, 260, "i3"),
         ("b", 300, 400, "i4")],
        "k string, lo long, hi long, name string")
    got = interval_join(
        pts, ivs, on=["k"], point_val="v", bucket_width=7,
        interval_cols=["name"])
    pairs = sorted((r["pid"], r["iv_name"]) for r in got.collect())
    # point 100@a: inside i1 AND i2 (overlap -> both, once each);
    # point 250@a: hi-inclusive i3 boundary; lo-inclusive via i3's lo;
    # point 10@a: no interval; point 100@b: b's interval starts later
    assert pairs == [(1, "i1"), (1, "i2"), (3, "i3")]

    with _pytest.raises(CapturedException, match="spans more than"):
        interval_join(
            pts, ivs, on=["k"], point_val="v", bucket_width=7,
            max_buckets_per_interval=3).collect()


def test_interval_join_auto_bucket_width(spark):
    """bucket_width=None derives the width from the p95 of hi-lo (one
    cheap agg over the interval side), so second-scale and day-scale
    interval tables both get a sane plan with no tuning: results match
    an explicitly well-tuned width, and the auto width lands near the
    actual span scale (no fan-out, no span-guard trip)."""
    from chronominer_spark.operators.temporal import interval_join

    def mk(span):
        ivs = spark.createDataFrame(
            [("k", i * span * 2, i * span * 2 + span, f"i{i}")
             for i in range(40)],
            "k string, lo long, hi long, name string")
        pts = spark.createDataFrame(
            [("k", i * span * 2 + span // 2, i) for i in range(40)],
            "k string, v long, pid int")
        return pts, ivs

    for span in (5, 86_400):           # second-scale vs day-scale
        pts, ivs = mk(span)
        auto = interval_join(pts, ivs, on=["k"], point_val="v",
                             interval_cols=["name"])
        tuned = interval_join(pts, ivs, on=["k"], point_val="v",
                              bucket_width=span, interval_cols=["name"])
        a = sorted((r["pid"], r["iv_name"]) for r in auto.collect())
        assert a == sorted((r["pid"], r["iv_name"]) for r in tuned.collect())
        assert len(a) == 40

    # empty interval side: auto mode must not crash on the empty agg
    pts, ivs = mk(5)
    assert interval_join(pts, ivs.where("lo < 0"), on=["k"], point_val="v",
                         interval_cols=["name"]).count() == 0


def test_flag_partition_outliers_median_mad(spark):
    """flag_partition_outliers: the planted outlier is flagged against
    the fleet median (which it cannot poison); a uniform fleet
    (MAD = 0) flags ANY deviation; grouping is per constraint."""
    from chronominer_spark.reporting import flag_partition_outliers

    rows = ([("c1", f"p{i}", 10.0 + (i % 3) * 0.5) for i in range(9)]
            + [("c1", "p9", 99.0)]                    # the sick partition
            + [("c2", f"p{i}", 5.0) for i in range(9)]
            + [("c2", "p9", 5.1)])                    # uniform fleet, MAD=0
    df = spark.createDataFrame(
        rows, "constraint_id string, partition_id string, observed double")
    got = {(r["constraint_id"], r["partition_id"]): r
           for r in flag_partition_outliers(df, k=3.0).collect()}
    assert got[("c1", "p9")]["is_outlier"]
    assert not any(v["is_outlier"] for k, v in got.items()
                   if k[0] == "c1" and k[1] != "p9")
    assert got[("c1", "p9")]["fleet_median"] == 10.5   # unmoved by the outlier
    # MAD=0: the strict reading — any deviation is an outlier
    assert got[("c2", "p9")]["is_outlier"] and got[("c2", "p9")]["fleet_mad"] == 0.0
    assert not got[("c2", "p0")]["is_outlier"]


def test_np_sketch_and_cosine_match_catalyst_fold(spark):
    """Round-7 optimization guard: the Arrow/numpy twins of the LSH
    sketch (_np_sketch_udf) and cosine (_np_cosine_udf) must reproduce
    the pure-Catalyst fold expressions bit for bit — including the
    edge semantics the fold defines implicitly: NULL vector and
    length-mismatched vector sketch to the all-'0' bucket in every
    table; NULL on either cosine side -> NULL; zero-norm product
    -> 0.0; length mismatch with nonzero norms -> NULL (zip_with
    null-padding); float32 inputs widened to double before products."""
    from pyspark.sql import functions as F

    from chronominer_spark.operators.similarity import (
        _broadcast_nested,
        _hyperplane,
        _np_cosine_udf,
        _np_sketch_udf,
        _sketch_buckets,
        cosine_similarity,
    )

    import hashlib
    rows = []
    for i in range(40):
        v = [(hashlib.md5(f"{i}:{d}".encode()).digest()[0] - 128) / 64.0
             for d in range(8)]
        rows.append((i, v))
    rows.append((100, None))            # NULL vector
    rows.append((101, [1.0, 2.0]))      # length mismatch (short)
    rows.append((102, [0.5] * 12))      # length mismatch (long)
    rows.append((103, [0.0] * 8))       # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for scheme in ("md5_uniform", "rademacher_md5"):
        planes = [[_hyperplane(7, t, b, 8, scheme) for b in range(6)]
                  for t in range(3)]
        ref = _broadcast_nested(
            df.select("vec_id", F.col("embedding").alias("__v")),
            "__planes", planes, depth=3,
        ).select("vec_id",
                 _sketch_buckets("__v", "__planes").alias("buckets"))
        got = df.select("vec_id",
                        _np_sketch_udf(planes)(F.col("embedding"))
                        .alias("buckets"))
        ref_rows = {r["vec_id"]: r["buckets"] for r in ref.collect()}
        got_rows = {r["vec_id"]: r["buckets"] for r in got.collect()}
        assert got_rows == ref_rows, scheme

    # cosine over every ordered pair of the fixture (incl. edge rows)
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b)
    ref = pairs.select(
        "ia", "ib",
        F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias("c"))
    got = pairs.select(
        "ia", "ib",
        F.round(_np_cosine_udf()(F.col("va"), F.col("vb")), 6).alias("c"))
    ref_m = {(r["ia"], r["ib"]): r["c"] for r in ref.collect()}
    got_m = {(r["ia"], r["ib"]): r["c"] for r in got.collect()}
    assert got_m == ref_m

    # side-wise dim mismatch: one batch whose left column is all 2-dim
    # and right column all 3-dim stacks cleanly on each side
    mixed = spark.createDataFrame(
        [(0, [1.0, 2.0], [1.0, 2.0, 3.0]), (1, [0.0, 0.0], [4.0, 5.0, 6.0]),
         (2, [3.0, -1.0], [0.0, 0.0, 0.0])],
        "i long, va array<double>, vb array<double>").coalesce(1)
    ref = mixed.select("i", F.round(
        cosine_similarity(F.col("va"), F.col("vb")), 6).alias("c"))
    got = mixed.select("i", F.round(
        _np_cosine_udf()(F.col("va"), F.col("vb")), 6).alias("c"))
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, ref.collect())) \
        == [(0, None), (1, 0.0), (2, 0.0)]
    # a batch whose left column is NULL in every row: NULL cosine
    all_null = mixed.select("i", F.lit(None).cast("array<double>")
                            .alias("va"), "vb")
    got = all_null.select("i", F.round(
        _np_cosine_udf()(F.col("va"), F.col("vb")), 6).alias("c"))
    assert sorted(map(tuple, got.collect())) == [(0, None), (1, None),
                                                 (2, None)]

    # float32 inputs: widened to double before the product, like the
    # fold's element-wise cast
    f32 = df.where(F.col("vec_id") < 40).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    ref = f32.select("vec_id", F.round(
        cosine_similarity(F.col("embedding"), F.col("embedding")), 6)
        .alias("c"))
    got = f32.select("vec_id", F.round(
        _np_cosine_udf()(F.col("embedding"), F.col("embedding")), 6)
        .alias("c"))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in ref.collect()}

    # a NaN element: both UDFs return NULL (the engine's contract; the
    # Arrow conversion masks NaN) where the Catalyst reference gives
    # NaN, so brute_force_topk ranks that neighbor last, not first
    import math

    from chronominer_spark.operators.similarity import (
        _np_cosine_lookup_udf,
        brute_force_topk,
    )
    nan_df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [float("nan"), 1.0]), (2, [2.0, 1.0]),
         (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    q = nan_df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    nb = nan_df.select(F.col("vec_id").alias("ib"),
                       F.col("embedding").alias("vb"))
    lookup = _np_cosine_lookup_udf(spark, (nan_df, nan_df), 10)
    nan_rows = {r["ib"]: r for r in q.crossJoin(nb).select(
        "ib",
        cosine_similarity(F.col("va"), F.col("vb")).alias("fold"),
        _np_cosine_udf()(F.col("va"), F.col("vb")).alias("udf"),
        lookup(F.col("ia"), F.col("ib")).alias("lookup")).collect()}
    assert math.isnan(nan_rows[1]["fold"])
    assert nan_rows[1]["udf"] is None and nan_rows[1]["lookup"] is None
    assert nan_rows[2]["udf"] == nan_rows[2]["lookup"]
    assert nan_rows[2]["udf"] == pytest.approx(nan_rows[2]["fold"])
    top = brute_force_topk(nan_df.where(F.col("vec_id") == 0), nan_df, k=3)
    assert sorted((r["rank"], r["neighbor_id"], r["cosine"])
                  for r in top.collect()) \
        == [(1, 3, 0.948683), (2, 2, 0.8), (3, 1, None)]


# the edge rows the shingle kernel is checked on against Catalyst:
# NULL text -> '' -> [''] single shingle; fewer than k words ->
# whole-doc shingle; leading/trailing non-space whitespace survives
# Spark's space-only trim and yields the same empty tokens under Java
# split semantics; dedup keeps first occurrence; case folding; a long doc
_SHINGLE_EDGE_ROWS = [
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, None),
    (2, ""),
    (3, "one two"),
    (4, "  padded   with  spaces   "),
    (5, "tab\tand\nnewline\tseparated words here"),
    (6, "\ntrailing newline keeps empty token\n"),
    (7, "repeat repeat repeat repeat repeat"),
    (8, "MiXeD CaSe TeXt MiXeD CaSe TeXt"),
    (9, "x " * 2000),
]


def _catalyst_halves(s):
    """md5 halves of one shingle string, in Catalyst: (h1, h2, hs)."""
    from chronominer_spark.operators.dedup import MINHASH_PRIME

    d = F.md5(s)
    hs = F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 17, 15), 16, 10).cast("long")
    return F.struct(F.pmod(hs, F.lit(MINHASH_PRIME)).alias("h1"),
                    F.pmod(h2, F.lit(MINHASH_PRIME)).alias("h2"),
                    hs.alias("hs"))


def _catalyst_minhash(halves_col, num_hashes):
    """The Kirsch–Mitzenmacher permutation-min as a Catalyst fold."""
    from chronominer_spark.operators.dedup import MINHASH_PRIME

    init = F.array(*[F.lit(MINHASH_PRIME).cast("long")] * num_hashes)
    return F.aggregate(
        halves_col, init,
        lambda acc, p: F.zip_with(
            acc, F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda a, i: F.least(
                a, F.pmod(p["h1"] + i * p["h2"], F.lit(MINHASH_PRIME)))))


def test_shingle_kernel_matches_catalyst(spark):
    """The one tokenizer / shingle hash / MinHash fold reproduces the
    Catalyst reference — ``word_shingles`` plus the md5-half fold —
    exactly on the edge rows at k=2 and k=3: the shingle strings
    (decontamination's contract), the fused ``__h1``/``__h2``/``__hs``
    arrays (order and dedup preserved), and the signatures of both the
    raw-text and the ``hash_df`` path. The halves UDF keeps its array
    edges: an empty array folds to all-PRIME, a NULL array to NULL."""
    from chronominer_spark.operators.dedup import (
        MINHASH_PRIME,
        _np_minhash_from_halves_udf,
        minhash_signatures,
        shingle_docs,
        shingle_hash_docs,
        word_shingles,
    )

    df = spark.createDataFrame(_SHINGLE_EDGE_ROWS, "doc_id long, text string")
    for k in (2, 3):
        ref = df.select(
            "doc_id", word_shingles("text", k).alias("sh")).select(
            "doc_id", "sh",
            F.transform("sh", _catalyst_halves).alias("hh"))
        ref_sh = {r["doc_id"]: r["sh"] for r in ref.collect()}
        got_sh = {r["doc_id"]: r["shingles"]
                  for r in shingle_docs(df, "doc_id", "text", k).collect()}
        assert got_sh == ref_sh, f"k={k}"

        ref_h = {r["doc_id"]: (r["h1"], r["h2"], r["hs"]) for r in ref.select(
            "doc_id", F.col("hh.h1").alias("h1"), F.col("hh.h2").alias("h2"),
            F.col("hh.hs").alias("hs")).collect()}
        fh = shingle_hash_docs(df, "doc_id", "text", k)
        got_h = {r["doc_id"]: (r["__h1"], r["__h2"], r["__hs"])
                 for r in fh.collect()}
        assert got_h == ref_h, f"k={k}"

        for num_hashes in (4, 16):
            ref_sig = {r["doc_id"]: r["sig"] for r in ref.select(
                "doc_id", _catalyst_minhash("hh", num_hashes).alias("sig"))
                .collect()}
            for kw in ({}, {"hash_df": fh}):
                got_sig = {r["doc_id"]: r["signature"]
                           for r in minhash_signatures(
                               df, "doc_id", "text", k=k,
                               num_hashes=num_hashes, **kw).collect()}
                assert got_sig == ref_sig, (k, num_hashes, sorted(kw))

    edge = spark.createDataFrame(
        [(100, [], []), (101, None, None), (102, [5, 7], [11, 13])],
        "doc_id long, h1 array<long>, h2 array<long>")
    got = {r["doc_id"]: r["sig"] for r in edge.select(
        "doc_id", _np_minhash_from_halves_udf(4)("h1", "h2").alias("sig"))
        .collect()}
    P = MINHASH_PRIME
    assert got == {100: [P] * 4, 101: None,
                   102: [min((5 + i * 11) % P, (7 + i * 13) % P)
                         for i in range(4)]}


def test_raw_text_minhash_plans_one_arrow_eval(docs):
    """Raw-text signatures tokenize, hash and fold in ONE Python stage:
    exactly one ``ArrowEvalPython`` in the physical plan (the per-batch
    signature plan of the streaming near-dup twin)."""
    sigs = minhash_signatures(docs, "doc_id", "text", k=3, num_hashes=16)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_jaccard_verify_matches_catalyst(spark):
    """``ngram_jaccard_pairs`` on raw text and on a precomputed
    ``hash_df`` returns the exact rows of a Catalyst reference (string
    ``array_intersect`` over ``word_shingles``) for the candidate pairs
    MinHash-LSH finds — with and without the ``min_jaccard`` size
    prefilter — on a fixture with near-dups, an exact dup and the
    NULL / empty / short edge docs."""
    from chronominer_spark.operators.dedup import (
        lsh_candidate_pairs,
        shingle_hash_docs,
        word_shingles,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text with other words entirely here"),
        (3, None),
        (4, ""),
        (5, "one two"),
        (6, "repeat repeat repeat repeat repeat"),
        (7, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (8, "the quick brown fox jumps over a lazy dog today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fh = shingle_hash_docs(df, "doc_id", "text", k=3)
    sigs = minhash_signatures(df, "doc_id", "text", k=3, num_hashes=16,
                              hash_df=fh)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=8, num_hashes=16)

    sh = df.select("doc_id", word_shingles("text", 3).alias("sh"))
    ref = (
        pairs
        .join(sh.select(F.col("doc_id").alias("id_a"),
                        F.col("sh").alias("sa")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"),
                        F.col("sh").alias("sb")), "id_b")
        .select("id_a", "id_b",
                F.size(F.array_intersect("sa", "sb")).alias("inter"),
                F.size("sa").alias("na"), F.size("sb").alias("nb"))
        .withColumn("jaccard",
                    F.col("inter") / (F.col("na") + F.col("nb")
                                      - F.col("inter")))
    )
    cols = ["id_a", "id_b", "inter", "na", "nb", "jaccard"]
    for t in (None, 0.2):
        exp = ref if t is None else ref.where(
            F.least("na", "nb") >= t * F.greatest("na", "nb"))
        exp = sorted(map(tuple, exp.select(cols).collect()))
        assert exp and any(r[-1] < 1.0 for r in exp)
        for kw in ({}, {"hash_df": fh}):
            got = sorted(map(tuple, ngram_jaccard_pairs(
                df, "doc_id", "text", pairs, k=3, min_jaccard=t, **kw)
                .select(cols).collect()))
            assert got == exp, (t, sorted(kw))


def test_fused_shingle_hash_matches_string_path(spark):
    """The fused shingle+hash pass (``shingle_hash_docs``) agrees with
    the string path (``shingle_docs`` strings hashed by ``hashlib``):
    its ``__hs`` arrays are the first-60-bit md5 halves of the shingle
    strings, order and dedup preserved; signatures from it equal the
    raw-text signatures; and ``ngram_jaccard_pairs(hash_df=...,
    pairs_materialized=True)`` returns the raw-text path's rows."""
    import hashlib

    from chronominer_spark.operators.dedup import (
        shingle_docs,
        shingle_hash_docs,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text with other words entirely here"),
        (3, None),
        (4, ""),
        (5, "one two"),
        (6, "repeat repeat repeat repeat repeat"),
        (7, "the quick brown fox jumps over the lazy dog"),  # exact dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sh = shingle_docs(df, "doc_id", "text", k=3)
    fh = shingle_hash_docs(df, "doc_id", "text", k=3)

    exp_hs = {
        r["doc_id"]: [int(hashlib.md5(s.encode()).hexdigest()[0:15], 16)
                      for s in r["shingles"]]
        for r in sh.collect()
    }
    got_hs = {r["doc_id"]: list(r["__hs"]) for r in fh.collect()}
    assert got_hs == exp_hs

    ref_sig = {r["doc_id"]: r["signature"] for r in minhash_signatures(
        df, "doc_id", "text", k=3, num_hashes=16).collect()}
    got_sig = {r["doc_id"]: r["signature"] for r in minhash_signatures(
        df, "doc_id", "text", k=3, num_hashes=16, hash_df=fh).collect()}
    assert got_sig == ref_sig

    sigs = minhash_signatures(df, "doc_id", "text", k=3, num_hashes=16,
                              hash_df=fh)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=8, num_hashes=16)
    cols = ["id_a", "id_b", "inter", "na", "nb", "jaccard"]
    ref_v = sorted(map(tuple, ngram_jaccard_pairs(
        df, "doc_id", "text", pairs, k=3,
        min_jaccard=0.2).select(cols).collect()))
    got_v = sorted(map(tuple, ngram_jaccard_pairs(
        df, "doc_id", "text", pairs, k=3, hash_df=fh,
        min_jaccard=0.2, pairs_materialized=True).select(cols).collect()))
    assert got_v == ref_v and len(got_v) > 0


def test_norm_hash64_null_batch_precision(spark):
    """Round-7 regression guard: the vectorized content hash must keep
    EXACT int64 values when a batch contains NULLs (a plain to_pandas
    of a nullable int64 column degrades to float64 and silently rounds
    hashes above 2^53 — batch-composition-dependent mass mismatches at
    scale), and an all-NULL batch must not crash the regex kernels.
    Equal strings must hash equal whether or not a NULL shares their
    batch; NULL stays NULL."""
    from pyspark.sql import functions as F

    from chronominer_spark.functions.text import norm_hash64_arrow

    texts = [(i, f"some normalized content number {i}") for i in range(64)]
    clean = spark.createDataFrame(texts, "id long, t string").coalesce(1)
    dirty = spark.createDataFrame(
        texts + [(9999, None)], "id long, t string").coalesce(1)
    h_clean = {r["id"]: r["h"] for r in clean.select(
        "id", norm_hash64_arrow(F.col("t")).alias("h")).collect()}
    h_dirty = {r["id"]: r["h"] for r in dirty.select(
        "id", norm_hash64_arrow(F.col("t")).alias("h")).collect()}
    assert h_dirty.pop(9999) is None
    assert h_dirty == h_clean          # exact, not float-rounded
    assert any(abs(v) > 2 ** 53 for v in h_clean.values())

    # all-NULL batch: null-type arrow array path
    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "id long, t string").coalesce(1)
    got = [r["h"] for r in allnull.select(
        norm_hash64_arrow(F.col("t")).alias("h")).collect()]
    assert got == [None, None]


def test_arrow_norm_array_matches_catalyst(spark):
    """Optimization guard: _arrow_norm_array (pyarrow.compute RE2
    passes, the body norm_hash64_arrow runs) must reproduce
    normalize_text (JVM regex) exactly for every toggle combination, on
    whitespace/punct/unicode edge fixtures: Java \\s == [ \\t\\n\\x0B\\f\\r],
    Java \\w == [0-9A-Za-z_], space-only trim, NULL propagation. The
    Catalyst side of all 16 combinations is one Spark job."""
    from itertools import product

    import pandas as pd
    from pyspark.sql import functions as F

    from chronominer_spark.functions.text import (
        _arrow_norm_array,
        normalize_text,
    )

    rows = [
        (0, "  Hello   World  "),
        (1, None),
        (2, ""),
        (3, "tab\there\nnewline\x0Bvtab\fff\rcr end"),
        (4, "Punct, marks! (and) [brackets] {braces} #hash_underscore_ok"),
        (5, "MiXeD CaSe"),
        (6, "café résumé naïve"),  # diacritics
        (7, " \t\n "),                                   # whitespace-only
        (8, "unicode ß sharp-s İ dotted-I"),
        (9, "a  b   c    d"),
    ]
    df = spark.createDataFrame(rows, "i long, s string")
    combos = [dict(lowercase=lc, collapse_ws=cw, strip_punct=sp,
                   strip_diacritics=sd)
              for lc, cw, sp, sd in product([True, False], repeat=4)]
    catalyst = df.select("i", *[
        normalize_text(F.col("s"), **opts).alias(f"n{j}")
        for j, opts in enumerate(combos)]).collect()
    texts = pd.Series([s for _, s in rows], dtype=object)
    for j, opts in enumerate(combos):
        ref = {r["i"]: r[f"n{j}"] for r in catalyst}
        got = dict(zip((i for i, _ in rows),
                       _arrow_norm_array(texts, **opts).to_pylist()))
        assert got == ref, opts
