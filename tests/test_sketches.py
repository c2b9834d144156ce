"""Sketch operators: hash parity, estimator guarantees, determinism."""

import hashlib

from pyspark.sql import functions as F

from deepicedrain_spark.io import load_table
from deepicedrain_spark.operators.sketches import (
    bloom_bits,
    bloom_probe,
    cms_estimate,
    cms_table,
    hll_estimate,
    md5_long60,
    stratified_sample,
)

SF = "/root/testdata/sf0.001"


def test_md5_long60_matches_python(spark):
    vals = ["", "a", "abc", "hello world", "1234567890"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", md5_long60(F.col("s")).alias("h")).collect()}
    for v in vals:
        expect = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        assert got[v] == expect


def test_hll_within_error_bound(spark):
    orders = load_table(spark, SF, "orders")
    est = hll_estimate(orders, "o_custkey", b=10).collect()[0]
    exact = orders.select("o_custkey").distinct().count()
    # standard error 1.04/sqrt(1024) ~ 3.25%; allow 4 sigma
    assert abs(est["estimate"] - exact) / exact < 0.13
    assert est["m"] == 1024 and 0 < est["m_nz"] <= 1024


def test_bloom_no_false_negatives(spark):
    docs = load_table(spark, SF, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 3 == 0)
    key = F.col("text")
    bits = bloom_bits(a, key, k=4, m=1 << 12)
    probed = {r["doc_id"]: r["maybe_member"] for r in bloom_probe(b, bits, key, "doc_id", k=4, m=1 << 12).collect()}
    a_texts = {r["text"] for r in a.select("text").collect()}
    for r in b.select("doc_id", "text").collect():
        if r["text"] in a_texts:
            assert probed[r["doc_id"]], f"false negative for doc {r['doc_id']}"


def test_cms_upper_bound(spark):
    docs = load_table(spark, SF, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("t")).where(F.col("t") != "")
    sketch = cms_table(toks, "t", d=3, w=16)
    exact = toks.groupBy("t").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(exact.select("t"), sketch, "t", d=3, w=16)
    rows = est.join(exact, "t").collect()
    assert rows
    for r in rows:
        assert r["est"] >= r["exact_cnt"], r


def test_stratified_sample_exact_sizes_and_stable(spark):
    ev = load_table(spark, SF, "events")
    n = 7
    s1 = stratified_sample(ev, ["event_type"], "event_id", n)
    sizes = {r["event_type"]: r["c"] for r in s1.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()}
    totals = {r["event_type"]: r["c"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()}
    for et, total in totals.items():
        assert sizes[et] == min(n, total)
    ids1 = sorted(r["event_id"] for r in s1.select("event_id").collect())
    ids2 = sorted(
        r["event_id"]
        for r in stratified_sample(ev.repartition(3), ["event_type"], "event_id", n)
        .select("event_id")
        .collect()
    )
    assert ids1 == ids2  # content-stable under repartitioning


def test_kmeans_matches_numpy_bruteforce(spark):
    import numpy as np

    from deepicedrain_spark.operators.kmeans import (
        assign_to_centroids,
        lloyd_kmeans,
        seed_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}

    k, iters = 4, 2
    cents = seed_centroids(emb, "embedding", "vec_id", k)
    np_cents = [np.asarray(c) for c in cents]
    for _ in range(iters):
        assign = {}
        for vid, v in vecs.items():
            d = [float(((v - c) ** 2).sum()) for c in np_cents]
            assign[vid] = int(np.argmin(d))
        for c in range(k):
            members = [vecs[vid] for vid, a in assign.items() if a == c]
            if members:
                np_cents[c] = np.round(np.mean(members, axis=0), 6)

    _, got_cents = lloyd_kmeans(emb, "embedding", "vec_id", k=k, iters=iters)
    for c in range(k):
        assert np.allclose(got_cents[c], np_cents[c], atol=1e-9), f"centroid {c}"

    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_to_centroids(emb, "embedding", cents).select("vec_id", "cluster").collect()
    }
    for vid, v in vecs.items():
        d = [float(((v - np.asarray(c)) ** 2).sum()) for c in cents]
        assert got[vid] == int(np.argmin(d))


def test_kmeans_inertia_decreases(spark):
    from deepicedrain_spark.operators.kmeans import lloyd_kmeans

    from pyspark.sql import functions as FF

    emb = load_table(spark, SF, "embeddings")
    a1, _ = lloyd_kmeans(emb, "embedding", "vec_id", k=4, iters=1)
    a3, _ = lloyd_kmeans(emb, "embedding", "vec_id", k=4, iters=3)
    i1 = a1.agg(FF.sum("dist")).collect()[0][0]
    i3 = a3.agg(FF.sum("dist")).collect()[0][0]
    assert i3 <= i1 + 1e-6


def test_leakage_safe_split_no_component_straddles(spark):
    from deepicedrain_spark.suite_sketch import q_leakage_safe_split

    rows = q_leakage_safe_split(spark, SF).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r["group_id"], set()).add(r["split"])
    assert rows
    for g, splits in by_group.items():
        assert len(splits) == 1, f"group {g} straddles {splits}"


def test_equi_depth_deciles_are_true_boundaries(spark):
    from deepicedrain_spark.suite_sketch import q_equi_depth_deciles

    li = load_table(spark, SF, "lineitem")
    prices = sorted(r[0] for r in li.select("l_extendedprice").collect())
    n = len(prices)
    import math

    got = {r["q"]: r["boundary"] for r in q_equi_depth_deciles(spark, SF).collect()}
    for q in range(1, 10):
        rank = math.ceil(q * n / 10.0)
        assert got[q] == prices[rank - 1], q


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from deepicedrain_spark.operators.kmeans import lloyd_kmeans

    # two tight blobs, k=3 md5 seeds: one centroid inevitably captures
    # nothing after the first assignment and must survive unchanged
    rows = [(i, [0.0, 0.0]) for i in range(5)] + [(i, [10.0, 10.0]) for i in range(5, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = lloyd_kmeans(df, "embedding", "vec_id", k=3, iters=2)
    assert len(cents) == 3 and all(len(c) == 2 for c in cents)
    n = assigned.count()
    assert n == 10


def test_morton_code_roundtrip(spark):
    from deepicedrain_spark.operators.spatial import morton_code_sql

    import duckdb

    # python reference deinterleave proves the bit math on both dialects
    def deinterleave(m):
        x = y = 0
        for i in range(16):
            x |= ((m >> (2 * i)) & 1) << i
            y |= ((m >> (2 * i + 1)) & 1) << i
        return x, y

    pts = [(3, 5), (0, 0), (65535, 65535), (1234, 54321), (40000, 1)]
    # spark dialect
    df = spark.createDataFrame(pts, "x long, y long")
    from pyspark.sql import functions as F

    got = [
        (r["x"], r["y"], r["m"])
        for r in df.select(
            "x", "y", F.expr(morton_code_sql("x", "y", dialect="spark")).alias("m")
        ).collect()
    ]
    for x, y, m in got:
        assert deinterleave(m) == (x, y)
    # duckdb dialect produces the identical codes
    con = duckdb.connect()
    for (x, y), (_, _, m) in zip(pts, got):
        dm = con.execute(
            f"SELECT {morton_code_sql(str(x), str(y), dialect='duckdb')}"
        ).fetchone()[0]
        assert dm == m


def test_hilbert_order_matches_reference_loop(spark):
    """Both dialect emissions of the (swap, complement) state machine
    equal the classic xy2d rotate-and-flip loop — exhaustively at
    bits=5 (1024 cells) and spot-checked at the production bits=16."""
    from deepicedrain_spark.operators.spatial import hilbert_order_sql

    import duckdb

    def xy2d(order, x, y):
        d, s = 0, 1 << (order - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT a.range AS x, b.range AS y"
        " FROM range(32) a, range(32) b"
    )
    sql = hilbert_order_sql("SELECT * FROM pts", "x", "y", "x, y", bits=5, dialect="duckdb")
    duck = {(x, y): h for x, y, h in con.execute(sql).fetchall()}
    assert all(duck[(x, y)] == xy2d(5, x, y) for x in range(32) for y in range(32))
    # hilbert is a bijection onto [0, 1024)
    assert sorted(duck.values()) == list(range(1024))

    pts16 = [(0, 0), (65535, 65535), (1234, 54321), (40000, 1), (32768, 32767)]
    df = spark.createDataFrame(pts16, "x long, y long")
    df.createOrReplaceTempView("hilb_pts16")
    sql16 = hilbert_order_sql(
        "SELECT * FROM hilb_pts16", "x", "y", "x, y", bits=16, dialect="spark"
    )
    got = {(r["x"], r["y"]): r["hilbert"] for r in spark.sql(sql16).collect()}
    assert all(got[(x, y)] == xy2d(16, x, y) for x, y in pts16)


def test_scd2_apply_history_and_idempotence(spark):
    from deepicedrain_spark.operators.cdc import scd2_apply

    from pyspark.sql import functions as F

    cur = spark.createDataFrame(
        [(1, "A", 0, None), (2, "B", 0, None)],
        "k long, attr string, valid_from long, valid_to long",
    )
    upd = spark.createDataFrame([(1, "A2"), (3, "C")], "k long, attr string")
    m1 = scd2_apply(cur, upd, "k", ["attr"], batch_time=1)
    rows = {(r["k"], r["attr"], r["valid_from"], r["valid_to"]) for r in m1.collect()}
    assert rows == {
        (1, "A", 0, 1),    # closed
        (1, "A2", 1, None),  # reopened with new attr
        (2, "B", 0, None),   # untouched
        (3, "C", 1, None),   # brand new
    }
    # replaying the SAME batch at t=2 must be a no-op (no churn)
    m2 = scd2_apply(m1, upd, "k", ["attr"], batch_time=2)
    rows2 = {(r["k"], r["attr"], r["valid_from"], r["valid_to"]) for r in m2.collect()}
    assert rows2 == rows
    # exactly one open row per key, always
    opens = m2.where(F.col("valid_to").isNull()).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in opens)


def test_scd2_apply_dedups_duplicate_update_keys(spark):
    """A batch with several rows per key must collapse to one open row
    (last-writer-wins by attr order) — the one-open-row invariant the
    next apply depends on (ADVICE r2)."""
    from deepicedrain_spark.operators.cdc import scd2_apply

    cur = spark.createDataFrame(
        [(1, "a", 0, None)], "k long, attr string, valid_from long, valid_to long"
    )
    upd = spark.createDataFrame(
        [(1, "b"), (1, "c"), (2, "x"), (2, "y")], "k long, attr string"
    )
    m = scd2_apply(cur, upd, "k", ["attr"], batch_time=5)
    open_rows = m.filter("valid_to IS NULL").collect()
    per_key = {}
    for r in open_rows:
        assert r["k"] not in per_key, "duplicate open row"
        per_key[r["k"]] = r["attr"]
    assert per_key == {1: "c", 2: "y"}  # highest attr wins


def test_scd2_row_rejects_wrong_length(spark):
    """A wrong-length column list raises ValueError (not an assert,
    which ``python -O`` strips, leaving zip to truncate silently)."""
    import pytest

    from deepicedrain_spark.operators.cdc import _scd2_row

    from pyspark.sql import functions as F

    with pytest.raises(ValueError, match="expects 4 columns"):
        _scd2_row([F.col("k"), F.col("attr"), F.col("valid_from")], "k", ["attr"])


def test_bloom_probe_handles_duplicate_probe_ids(spark):
    """Review finding r4: a duplicated probe id must not produce a
    false NEGATIVE (sum-of-hits was compared against the constant k)."""
    from deepicedrain_spark.operators.sketches import bloom_bits, bloom_probe

    corpus = spark.createDataFrame([("a",), ("b",)], "key string")
    bits = bloom_bits(corpus, F.col("key"))
    probe = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "zz")], "pid long, key string"
    )
    got = {r["pid"]: r["maybe_member"] for r in
           bloom_probe(probe, bits, F.col("key"), "pid").collect()}
    assert got[1] is True  # true member, duplicated probe rows
    assert got[2] is False or got[2] is True  # fp allowed, never crash


def test_cms_estimate_absent_candidate_is_zero_or_low(spark):
    """Review finding r4: a candidate hashing to untouched counters
    must see 0 there (inner join dropped the row, inflating the min or
    losing the candidate)."""
    from deepicedrain_spark.operators.sketches import cms_estimate, cms_table

    items = spark.createDataFrame([("x",)] * 50, "t string")
    sketch = cms_table(items, "t", d=3, w=1024)  # wide: collisions unlikely
    cands = spark.createDataFrame([("x",), ("never-seen",)], "t string")
    got = {r["t"]: r["est"] for r in cms_estimate(cands, sketch, "t", d=3, w=1024).collect()}
    assert got["x"] == 50
    assert "never-seen" in got  # candidate must not vanish
    assert got["never-seen"] == 0  # all three counters untouched at w=1024


def test_hll_ignores_nulls(spark):
    """Review finding r4: NULLs must not create a phantom register
    (COUNT DISTINCT semantics ignore NULL)."""
    from deepicedrain_spark.operators.sketches import hll_estimate

    vals = spark.createDataFrame(
        [(str(i),) for i in range(500)] + [(None,)] * 50, "k string"
    )
    est = hll_estimate(vals, "k").collect()[0]["estimate"]
    clean = spark.createDataFrame([(str(i),) for i in range(500)], "k string")
    est_clean = hll_estimate(clean, "k").collect()[0]["estimate"]
    assert est == est_clean


def test_dsir_weights_rank_target_domain_higher(spark):
    """Direction sanity: documents FROM the target domain (lang='en')
    must average a higher importance log-ratio than the rest — DSIR's
    whole point."""
    from deepicedrain_spark.suite_sketch import q_dsir_importance_weights

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    out = q_dsir_importance_weights(spark, sf).join(docs, "doc_id")
    rows = out.groupBy(F.col("lang") == "en").agg(
        F.avg("logratio").alias("m")
    ).collect()
    means = {r[0]: r["m"] for r in rows}
    assert means[True] > means[False]


def test_kmv_minima_exact_below_k_and_bucket_prune(spark):
    """With fewer than k distinct keys the sketch IS the distinct hash
    set (exact mode); the 32-bucket pre-prune never changes the
    result vs a direct global rank."""
    from pyspark.sql import functions as F

    from deepicedrain_spark.operators.sketches import (
        kmv_estimate,
        kmv_minima,
        md5_long60,
    )

    rows = [(g, i % 40) for g in ("a", "b") for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v long")
    minima = kmv_minima(df, ["g"], F.col("v").cast("string"), k=64)
    got = minima.groupBy("g").count().collect()
    assert {r["g"]: r["count"] for r in got} == {"a": 40, "b": 40}
    est = {r["g"]: r["est_distinct"] for r in kmv_estimate(minima, ["g"], k=64).collect()}
    assert est == {"a": 40, "b": 40}  # exact mode
    # pre-prune parity: direct sorted-hash top-64 equals the sketch
    direct = (
        df.where(F.col("g") == "a")
        .select(md5_long60(F.col("v").cast("string")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(64)
        .collect()
    )
    sk = minima.where(F.col("g") == "a").orderBy("h").select("h").collect()
    assert [r["h"] for r in direct] == [r["h"] for r in sk]


def test_kmv_theta_merge_equals_sketch_of_union(spark):
    """Mergeability: the union sketch built from two independent
    k-minima tables equals the KMV sketch of the concatenated input —
    the property that lets snapshots combine without rescanning."""
    from pyspark.sql import functions as F

    from deepicedrain_spark.operators.sketches import kmv_minima, kmv_theta_counts

    a_rows = [(i,) for i in range(500)]
    b_rows = [(i,) for i in range(300, 900)]
    a = spark.createDataFrame(a_rows, "v long")
    b = spark.createDataFrame(b_rows, "v long")
    k = 32
    sk_a = kmv_minima(a, [], F.col("v").cast("string"), k=k)
    sk_b = kmv_minima(b, [], F.col("v").cast("string"), k=k)
    est = kmv_theta_counts(sk_a, sk_b, k=k).collect()[0]
    # the merged-theta must equal the k-th smallest hash of the TRUE union
    direct = kmv_minima(
        a.unionByName(b), [], F.col("v").cast("string"), k=k
    ).agg(F.max("h")).collect()[0][0]
    assert est["theta"] == direct
    # estimates are within 4 sigma of truth (deterministic, so this is
    # a fixed fact about these inputs, not a flaky bound)
    import math

    rse = 1.0 / math.sqrt(k - 2)
    assert abs(est["est_union"] - 900) / 900 < 4 * rse
    assert abs(est["est_intersection"] - 200) / 200 < 6 * rse


def test_kmv_theta_counts_one_empty_side(spark):
    """An empty A sketch must yield est_a_only = est_intersection = 0
    and est_union ≈ |B| — the year-with-no-orders shape."""
    from pyspark.sql import functions as F

    from deepicedrain_spark.operators.sketches import kmv_minima, kmv_theta_counts

    a = spark.createDataFrame([], "v string")
    b = spark.createDataFrame([(str(i),) for i in range(20)], "v string")
    sk_a = kmv_minima(a, [], F.col("v"), k=32)
    sk_b = kmv_minima(b, [], F.col("v"), k=32)
    est = kmv_theta_counts(sk_a, sk_b, k=32).collect()[0]
    assert est["est_a_only"] == 0 and est["est_intersection"] == 0
    assert est["est_union"] == 20 and est["est_b_only"] == 20  # exact mode


def test_dsir_leaves_no_storage_residue(spark):
    """q_dsir_importance_weights must not rely on clearCache() for
    cleanup: a clearCache-free session holds ZERO cached RDDs after the
    action (VERDICT r9 — the r9 shape persisted a per-bigram table)."""
    from deepicedrain_spark.suite_sketch import q_dsir_importance_weights

    # other tests in the shared session may legitimately hold cached
    # RDDs (e.g. the near-dup pair memo's localCheckpoints) — assert
    # DSIR adds NOTHING, not that the session is globally empty
    before = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    df = q_dsir_importance_weights(spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    after = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    assert after - before == set(), after - before


def test_semantic_dedup_dominance_semantics(spark):
    """SemDeDup cluster-then-prune: quality winner survives, chains
    drop every dominated vector (dominance by quality order, not
    survivorship), cross-cluster twins are NOT pruned, and
    quality_col=None falls back to min-id-wins."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from deepicedrain_spark.operators.dedup import semantic_dedup

    # two well-separated directions so k=2 Lloyd splits them cleanly;
    # within direction A a three-vector chain a~b~c with cos(a,b) and
    # cos(b,c) above 0.99 but cos(a,c) below it
    def unit(theta):
        import math

        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        Row(vec_id=0, embedding=unit(0.000), q=3.0),
        Row(vec_id=1, embedding=unit(0.030), q=2.0),
        Row(vec_id=2, embedding=unit(0.060), q=1.0),
        Row(vec_id=3, embedding=unit(1.570), q=9.0),
        Row(vec_id=4, embedding=unit(1.600), q=8.0),
    ]
    # cos(0.03)=0.99955 >= 0.9993; cos(0.06)=0.9982 < 0.9993
    df = spark.createDataFrame(rows)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", quality_col="q", k=2, iters=2,
            threshold=0.9993, cache_key=None,
        ).collect()
    }
    assert out[0]["keep"] is True                       # best of chain
    assert out[1]["keep"] is False and out[1]["kept_by"] == 0
    # c dominated by b (cos ok) but NOT by a (cos below threshold);
    # b itself dropped — dominance is by quality order, c still drops
    assert out[2]["keep"] is False and out[2]["kept_by"] == 1
    # other cluster: 3 beats 4 (cos(0.03)>t)
    assert out[3]["keep"] is True
    assert out[4]["keep"] is False and out[4]["kept_by"] == 3

    # quality ties -> smaller id wins; quality_col=None is all-ties
    tied = spark.createDataFrame(
        [Row(vec_id=i, embedding=unit(0.01 * i)) for i in range(3)]
    )
    res = {
        r["vec_id"]: r
        for r in semantic_dedup(
            tied, "vec_id", "embedding", k=1, iters=1,
            threshold=0.999, cache_key=None,
        ).collect()
    }
    assert res[0]["keep"] is True
    assert res[1]["keep"] is False and res[1]["kept_by"] == 0
    assert res[2]["keep"] is False and res[2]["kept_by"] == 0  # cos(0.02)=0.9998>t


def test_semantic_dedup_matches_python_bruteforce(spark):
    """Randomized pool: the distributed dominance prune equals a
    python replay over the SAME cluster assignment."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from deepicedrain_spark.operators.dedup import semantic_dedup

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(40)]
    rows = [Row(vec_id=i, embedding=v, q=float(i % 5)) for i, v in enumerate(base)]
    # plant twins of the first 10 with a small nudge
    for i in range(10):
        v = [x + 0.01 * ((j % 3) - 1) for j, x in enumerate(base[i])]
        rows.append(Row(vec_id=100 + i, embedding=v, q=float((100 + i) % 5)))
    df = spark.createDataFrame(rows)
    got = semantic_dedup(
        df, "vec_id", "embedding", quality_col="q", k=4, iters=2,
        threshold=0.98, cache_key=None,
    ).collect()
    by_id = {r["vec_id"]: r for r in got}

    # python replay using the operator's own cluster output
    import math

    def cos(u, v):
        num = sum(a * b for a, b in zip(u, v))
        return round(num / math.sqrt(sum(a * a for a in u) * sum(b * b for b in v)), 6)

    vecs = {r.vec_id: r.embedding for r in rows}
    qs = {r.vec_id: r.q for r in rows}
    cl = {r["vec_id"]: r["cluster"] for r in got}
    for x in vecs:
        doms = [
            y for y in vecs
            if y != x and cl[y] == cl[x] and cos(vecs[x], vecs[y]) >= 0.98
            and (qs[y] > qs[x] or (qs[y] == qs[x] and y < x))
        ]
        if not doms:
            assert by_id[x]["keep"] is True and by_id[x]["kept_by"] is None
        else:
            best = sorted(doms, key=lambda y: (-qs[y], y))[0]
            assert by_id[x]["keep"] is False and by_id[x]["kept_by"] == best


def test_semantic_ops_plan_shapes(spark):
    """Scale-killer audit as pytest: semantic_dedup's pair join is a
    CLUSTER-KEY equi-join (no CartesianProduct anywhere in the plan),
    and semantic_decontamination scores against a BROADCAST benchmark
    (BroadcastNestedLoopJoin, never a shuffled cartesian)."""
    import math

    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from deepicedrain_spark.operators.dedup import (
        semantic_decontamination,
        semantic_dedup,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0]

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=unit(0.3 * i), q=float(i % 3)) for i in range(12)]
    )
    plan = (
        semantic_dedup(df, "vec_id", "embedding", quality_col="q", k=2,
                       iters=1, threshold=0.99, cache_key=None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    # the dominance join is keyed on the cluster column, not all-pairs
    assert "cl" in plan

    bench = spark.createDataFrame([Row(vec_id=i, embedding=unit(0.1 * i)) for i in range(3)])
    plan2 = (
        semantic_decontamination(df, bench, "vec_id", "embedding", threshold=0.9)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" in plan2 or "BroadcastExchange" in plan2
