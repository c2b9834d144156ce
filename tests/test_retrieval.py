"""Unit tests for the retrieval / evaluation operators (round-10
session 3): BM25, MMR selection, Kneser–Ney LM, ROC-AUC / PR grid,
entropy features — each checked against an independent pure-Python
computation on tiny planted corpora."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from deepicedrain_spark.operators.evalmetrics import pr_at_thresholds, roc_auc
from deepicedrain_spark.operators.lm import kneser_ney_score
from deepicedrain_spark.operators.retrieval import bm25_topk, mmr_select
from deepicedrain_spark.operators.textstats import entropy_features


DOCS = [
    Row(doc_id=0, text="spark shuffle join join join"),
    Row(doc_id=1, text="spark scan filter"),
    Row(doc_id=2, text="join scan scan scan scan scan"),
    Row(doc_id=3, text="filter filter filter filter"),
]


def _bm25_py(docs, terms, k1=1.2, b=0.75):
    toks = {d: t.split() for d, t in docs}
    n = len(toks)
    dl = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dl.values()) / n
    out = {}
    for d, t in toks.items():
        s = 0.0
        for term in terms:
            tf = t.count(term)
            if tf == 0:
                continue
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl[d] / avgdl))
        if s:
            out[d] = round(s, 6)
    return out


def test_bm25_matches_reference_formula(spark):
    df = spark.createDataFrame(DOCS)
    qt = spark.createDataFrame([Row(query_id="q", term="join"), Row(query_id="q", term="scan")])
    got = {r["doc_id"]: r["score"] for r in bm25_topk(df, qt, k=10).collect()}
    want = _bm25_py([(r.doc_id, r.text) for r in DOCS], ["join", "scan"])
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=2e-6)


def test_bm25_rank_order_and_k(spark):
    df = spark.createDataFrame(DOCS)
    qt = spark.createDataFrame([Row(query_id="q", term="scan")])
    rows = bm25_topk(df, qt, k=2).orderBy("rank").collect()
    assert len(rows) == 2
    assert rows[0]["doc_id"] == 2  # 5x 'scan' dominates
    assert rows[0]["score"] > rows[1]["score"]


def test_bm25_broadcasts_model_tables(spark):
    df = spark.createDataFrame(DOCS)
    qt = spark.createDataFrame([Row(query_id="q", term="scan")])
    plan = bm25_topk(df, qt, k=2)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # query terms / df / stats never shuffle the postings


def _mmr_py(ids, rel, vecs, k, lam, div):
    import numpy as np

    mat = np.array(vecs, dtype=np.float64)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    sims = (mat @ mat.T) / np.outer(nrm, nrm)
    sims = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6
    sel, rem = [], set(range(len(ids)))
    while len(sel) < min(k, len(ids)):
        best, bk = None, None
        for p in sorted(rem):
            s = lam * rel[p] - (div * max(sims[p][q] for q in sel) if sel else 0.0)
            key = (-s, ids[p])
            if bk is None or key < bk:
                best, bk = p, key
        sel.append(best)
        rem.discard(best)
    return [ids[p] for p in sel]


def test_mmr_diversifies_over_pure_relevance(spark):
    # two near-identical high-relevance vectors + one orthogonal lower
    # one: relevance-only top-2 takes the twins; MMR must not
    pool = spark.createDataFrame(
        [
            # step 2: cand 2 scores 0.7·0.90 − 0.3·1.0 = 0.33, cand 3
            # scores 0.7·0.50 − 0.3·0.0 = 0.35 → diversity wins
            Row(cand_id=1, rel=0.95, cv=[1.0, 0.0, 0.0]),
            Row(cand_id=2, rel=0.90, cv=[0.999, 0.01, 0.0]),
            Row(cand_id=3, rel=0.50, cv=[0.0, 1.0, 0.0]),
        ]
    )
    got = [r["cand_id"] for r in mmr_select(pool, k=2, lam=0.7, div=0.3).collect()]
    assert got == [1, 3]


def test_mmr_matches_python_greedy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(12, 8)).tolist()
    rel = [round(float(x), 6) for x in rng.uniform(0.1, 0.9, 12)]
    ids = list(range(100, 112))
    pool = spark.createDataFrame(
        [Row(cand_id=i, rel=r, cv=v) for i, r, v in zip(ids, rel, vecs)]
    )
    got = [r["cand_id"] for r in mmr_select(pool, k=5, lam=0.7, div=0.3).orderBy("rank").collect()]
    assert got == _mmr_py(ids, rel, vecs, 5, 0.7, 0.3)


def test_mmr_pool_guard_and_empty(spark):
    big = spark.range(100).select(
        F.col("id").alias("cand_id"), F.lit(0.5).alias("rel"),
        F.array(F.lit(1.0)).alias("cv"),
    )
    with pytest.raises(ValueError, match="max_pool"):
        mmr_select(big, k=2, max_pool=10)
    empty = big.filter(F.col("cand_id") < 0)
    assert mmr_select(empty, k=2).count() == 0


def test_mmr_prune_path_oversized_pool(spark):
    # oversized pool + prune=True: distributed top-max_pool by rel
    # (desc, ties by id) replaces the raise; the selection then runs
    # over exactly the pruned pool. rel descends with id here, so the
    # top-10 prune keeps ids 0..9 and rank-1 is the global argmax id 0.
    big = spark.range(100).select(
        F.col("id").alias("cand_id"),
        (F.lit(1.0) - F.col("id") * F.lit(0.005)).alias("rel"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("cv"),
    )
    out = mmr_select(big, k=3, max_pool=10, prune=True).orderBy("rank").collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["cand_id"] == 0
    assert all(r["cand_id"] < 10 for r in out)  # only pruned-pool members
    # the explicit-pool API still raises on the same input
    with pytest.raises(ValueError, match="max_pool"):
        mmr_select(big, k=3, max_pool=10)


def test_mmr_schema_follows_pool_types(spark):
    # string ids: empty AND non-empty outputs must carry the pool's id
    # type (the empty branch used to hardcode 'cand_id long')
    pool = spark.createDataFrame(
        [Row(cand_id="docB", rel=0.9, cv=[1.0, 0.0]),
         Row(cand_id="docA", rel=0.8, cv=[0.0, 1.0])]
    )
    out = mmr_select(pool, k=2)
    assert dict(out.dtypes)["cand_id"] == "string"
    assert [r["cand_id"] for r in out.orderBy("rank").collect()] == ["docB", "docA"]
    empty = mmr_select(pool.filter(F.col("rel") < 0), k=2)
    assert dict(empty.dtypes)["cand_id"] == "string"
    assert empty.count() == 0


def _kn_py(texts, d=0.75):
    bgs = []
    for i, t in enumerate(texts):
        w = t.split()
        bgs += [(i, w[j], w[j + 1]) for j in range(len(w) - 1)]
    from collections import Counter

    bgc = Counter((a, b) for _, a, b in bgs)
    tot = Counter()
    fol = Counter()
    prc = Counter()
    for (a, b), c in bgc.items():
        tot[a] += c
        fol[a] += 1
        prc[b] += 1
    bt = len(bgc)
    out = {}
    for i, _ in enumerate(texts):
        lps = [
            math.log(
                max(bgc[(a, b)] - d, 0.0) / tot[a] + d * fol[a] / tot[a] * prc[b] / bt
            )
            for (j, a, b) in bgs
            if j == i
        ]
        if lps:
            out[i] = (len(lps), round(sum(lps) / len(lps), 6))
    return out


def test_kneser_ney_matches_python(spark):
    texts = [
        "a b a b c",
        "b c b a",
        "c c c a b",
        "a",  # single token: no bigrams, absent from output
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {r["doc_id"]: (r["n_bigrams"], r["avg_logp"]) for r in kneser_ney_score(df).collect()}
    want = _kn_py(texts)
    assert set(got) == set(want) == {0, 1, 2}
    for i in want:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], abs=2e-6)


def test_kneser_ney_probabilities_sum_to_one(spark):
    # KN is a proper conditional distribution: for each context w1,
    # Σ_w2∈vocab p(w2|w1) = 1 when scored over the full vocab grid
    texts = ["a b a c b b", "c a b c"]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    from collections import Counter

    bgs = []
    for t in texts:
        w = t.split()
        bgs += list(zip(w, w[1:]))
    bgc = Counter(bgs)
    tot, fol, prc = Counter(), Counter(), Counter()
    for (a, b), c in bgc.items():
        tot[a] += c
        fol[a] += 1
        prc[b] += 1
    bt = len(bgc)
    vocab = {w for t in texts for w in t.split()}
    for a in tot:
        s = sum(
            max(bgc.get((a, b), 0) - 0.75, 0.0) / tot[a]
            + 0.75 * fol[a] / tot[a] * prc[b] / bt
            for b in vocab
        )
        # Σ_b max(c−D,0)/tot = (tot − D·fol)/tot and Σ_b prc[b]/bt = 1,
        # so the interpolated form is a PROPER distribution: exactly 1
        assert s == pytest.approx(1.0, abs=1e-9)


def test_roc_auc_exact_with_ties(spark):
    rows = [
        (0.9, True), (0.8, False), (0.8, True), (0.7, False),
        (0.5, True), (0.5, False), (0.5, False), (0.3, False),
    ]
    df = spark.createDataFrame([Row(score=s, label=l) for s, l in rows])
    got = roc_auc(df).collect()[0]
    # brute-force pair count
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    num = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    # outputs are rounded to 6 d.p. → half-quantum tolerance
    assert got["auc"] == pytest.approx(num / (len(pos) * len(neg)), abs=5e-7)
    assert got["gini"] == pytest.approx(2 * num / (len(pos) * len(neg)) - 1, abs=5e-7)


def test_roc_auc_perfect_and_random(spark):
    perfect = spark.createDataFrame(
        [Row(score=float(i), label=i >= 5) for i in range(10)]
    )
    assert roc_auc(perfect).collect()[0]["auc"] == 1.0
    const = spark.createDataFrame([Row(score=0.5, label=i % 2 == 0) for i in range(10)])
    assert roc_auc(const).collect()[0]["auc"] == 0.5  # all ties → 0.5


def test_roc_auc_quantized_matches_bucketed_exact(spark):
    import random

    rng = random.Random(11)
    rows = [(rng.random(), rng.random() < 0.4) for _ in range(400)]
    df = spark.createDataFrame([Row(score=s, label=l) for s, l in rows])
    q = 8
    got = roc_auc(df, quantize=q).collect()[0]
    # oracle: exact tie-aware AUC over the pre-bucketed scores
    import math

    bucketed = [(math.floor(s * q) / q, l) for s, l in rows]
    pos = [s for s, l in bucketed if l]
    neg = [s for s, l in bucketed if not l]
    num = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["auc"] == pytest.approx(num / (len(pos) * len(neg)), abs=5e-7)
    # quantize=None on already-quantized input gives the identical value
    pre = spark.createDataFrame([Row(score=s, label=l) for s, l in bucketed])
    assert roc_auc(pre).collect()[0]["auc"] == got["auc"]
    # negatives bucket toward -inf (floor, not trunc)
    negdf = spark.createDataFrame(
        [Row(score=-0.01, label=False), Row(score=0.01, label=True)]
    )
    assert roc_auc(negdf, quantize=4).collect()[0]["auc"] == 1.0


def test_roc_auc_quantized_sliced_matches_bucketed_exact(spark):
    """quantize composes with `by` (VERDICT r11 task 4): per-slice
    quantized AUC equals the exact sliced AUC of the pre-bucketed
    scores, slice by slice."""
    import math
    import random

    rng = random.Random(12)
    rows = [
        (rng.choice(["a", "b", "c"]), rng.random(), rng.random() < 0.4)
        for _ in range(600)
    ]
    df = spark.createDataFrame([Row(src=g, score=s, label=l) for g, s, l in rows])
    q = 8
    got = {r["src"]: r for r in roc_auc(df, by=["src"], quantize=q).collect()}
    pre = spark.createDataFrame(
        [Row(src=g, score=math.floor(s * q) / q, label=l) for g, s, l in rows]
    )
    exact = {r["src"]: r for r in roc_auc(pre, by=["src"]).collect()}
    assert set(got) == {"a", "b", "c"} and set(exact) == set(got)
    for g in got:
        assert got[g]["n_pos"] == exact[g]["n_pos"]
        assert got[g]["n_neg"] == exact[g]["n_neg"]
        assert got[g]["auc"] == exact[g]["auc"]
        assert got[g]["gini"] == exact[g]["gini"]
    # python oracle for one slice
    a = [(math.floor(s * q) / q, l) for g, s, l in rows if g == "a"]
    pos = [s for s, l in a if l]
    neg = [s for s, l in a if not l]
    num = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert got["a"]["auc"] == pytest.approx(num / (len(pos) * len(neg)), abs=5e-7)


def test_pr_grid_counts_and_nulls(spark):
    rows = [(0.9, True), (0.6, False), (0.4, True), (0.1, False)]
    df = spark.createDataFrame([Row(score=s, label=l) for s, l in rows])
    out = {r["threshold"]: r for r in pr_at_thresholds(df, (0.5, 0.95)).collect()}
    r5 = out[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"], r5["tn"]) == (1, 1, 1, 1)
    assert r5["precision"] == 0.5 and r5["recall"] == 0.5 and r5["f1"] == 0.5
    r95 = out[0.95]
    assert (r95["tp"], r95["fp"]) == (0, 0)
    assert r95["precision"] is None  # 0/0 → NULL (try_divide)
    assert r95["recall"] == 0.0


def test_entropy_features(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="x x x x"),          # one distinct token
            Row(doc_id=1, text="a b a b a b"),       # H1=ln2, cond entropy ~0
            Row(doc_id=2, text="a b c d"),           # uniform: H1 = ln4
            Row(doc_id=3, text="z"),                  # single token: no bigrams
        ]
    )
    got = {r["doc_id"]: r for r in entropy_features(df).collect()}
    assert got[0]["token_entropy"] == 0.0
    assert got[0]["norm_entropy"] is None  # ln(1) division → NULL
    assert got[1]["token_entropy"] == pytest.approx(math.log(2), abs=1e-6)
    # "a b a b a b": bigrams 'a b'x3,'b a'x2 → H2 ≈ 0.673, H2−H1 ≈ −0.02
    h2 = math.log(5) - (3 * math.log(3) + 2 * math.log(2)) / 5
    assert got[1]["bigram_cond_entropy"] == pytest.approx(h2 - math.log(2), abs=1e-6)
    assert got[2]["token_entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert got[2]["norm_entropy"] == pytest.approx(1.0, abs=1e-6)
    assert got[3]["n_tokens"] == 1 and got[3]["bigram_cond_entropy"] is None


def test_containment_pairs_quote_detection(spark):
    from deepicedrain_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f g h i j k l"),   # container
            Row(doc_id=1, text="c d e f g h"),                # quote of 0 → C=1.0
            Row(doc_id=2, text="z y x w v u t s r q"),        # unrelated
        ]
    )
    got = {(r["contained_id"], r["container_id"]): r["containment"]
           for r in containment_pairs(docs, n=3, threshold=0.8).collect()}
    assert got == {(1, 0): 1.0}
    # symmetric Jaccard of the same pair is far below: 4 shared of 10+4
    # shingles → J = 0.4; containment is the only signal that fires


def test_containment_prefix_filter_lossless(spark):
    # every pair above threshold must survive the one-sided prefix
    # filter: compare against a brute-force shingle-set computation
    from deepicedrain_spark.operators.dedup import containment_pairs

    import itertools
    texts = {
        0: "a b c d e f g",
        1: "b c d e f",
        2: "a b c x e f g",
        3: "c d e f g a b",
    }
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in texts.items()])
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i+3]) for i in range(len(w) - 2)}
    want = {}
    for a, b in itertools.permutations(texts, 2):
        c = len(sh(texts[a]) & sh(texts[b])) / len(sh(texts[a]))
        if round(c, 6) >= 0.6:
            want[(a, b)] = round(c, 6)
    got = {(r["contained_id"], r["container_id"]): r["containment"]
           for r in containment_pairs(docs, n=3, threshold=0.6).collect()}
    assert got == pytest.approx(want)


def test_ngram_overlap_hits(spark):
    from deepicedrain_spark.operators.dedup import ngram_overlap_hits

    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text="t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14"),
            Row(doc_id=1, text="u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13"),
            Row(doc_id=2, text="short doc"),
        ]
    )
    bench = spark.createDataFrame(
        # shares exactly the 13-grams starting at t1 and t2 with doc 0
        [Row(doc_id=-1, text="t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14")]
    )
    got = {r["doc_id"]: r["n_matching_ngrams"]
           for r in ngram_overlap_hits(corpus, bench, n=13).collect()}
    assert got == {0: 2}  # doc 1 shares none; doc 2 has no 13-grams


def test_sample_negatives_label_and_determinism(spark):
    from deepicedrain_spark.operators.retrieval import sample_negatives

    emb = spark.createDataFrame(
        [Row(vec_id=i, label=i % 3) for i in range(30)]
    )
    anchors = emb.filter(F.col("vec_id") < 3)
    out1 = sample_negatives(anchors, emb, k=4).collect()
    out2 = sample_negatives(anchors, emb.repartition(7), k=4).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # partition-invariant
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    for r in out1:
        assert labels[r["neg_id"]] != labels[r["anchor_id"]]
    assert len(out1) == 12 and {r["rank"] for r in out1} == {1, 2, 3, 4}


def test_hard_negatives_excludes_same_label(spark):
    from deepicedrain_spark.operators.retrieval import hard_negatives

    import numpy as np
    rng = np.random.default_rng(3)
    rows = [Row(vec_id=i, label=i % 2, embedding=[float(x) for x in rng.normal(size=4)])
            for i in range(20)]
    emb = spark.createDataFrame(rows)
    out = hard_negatives(emb.filter(F.col("vec_id") < 2), emb, k=3).collect()
    labels = {r.vec_id: r.label for r in rows}
    assert len(out) == 6
    for r in out:
        assert labels[r["cand_id"]] != labels[r["query_id"]]
    # rank 1 must be the true different-label argmax (verify one query)
    vecs = {r.vec_id: np.array(r.embedding) for r in rows}
    q = vecs[0]
    best = max(
        (i for i in vecs if labels[i] != labels[0]),
        key=lambda i: (round(float(q @ vecs[i] / np.sqrt((q @ q) * (vecs[i] @ vecs[i]))), 6), -i),
    )
    got_r1 = [r["cand_id"] for r in out if r["query_id"] == 0 and r["rank"] == 1]
    assert got_r1 == [best]


def test_calibration_brier_bins(spark):
    rows = [(0.05, False), (0.05, True), (0.95, True), (0.95, True), (1.0, True)]
    df = spark.createDataFrame([Row(s=s, lab=l) for s, l in rows])
    from pyspark.sql import functions as FF
    y = FF.when(FF.col("lab"), FF.lit(1.0)).otherwise(FF.lit(0.0))
    binned = df.select(
        FF.least(FF.floor(FF.col("s") * 10).cast("long"), FF.lit(9).cast("long")).alias("bin"),
        "s", y.alias("y"),
    )
    out = {r["bin"]: r for r in binned.groupBy("bin").agg(
        FF.count(FF.lit(1)).alias("n"),
        FF.round(FF.sum((FF.col("s") - FF.col("y")) * (FF.col("s") - FF.col("y"))) / FF.count(FF.lit(1)), 6).alias("brier"),
    ).collect()}
    assert out[0]["n"] == 2 and out[9]["n"] == 3  # score 1.0 clamps into bin 9
    # bin 0: ((0.05-0)^2 + (0.05-1)^2)/2 = (0.0025+0.9025)/2 = 0.4525
    assert out[0]["brier"] == pytest.approx(0.4525, abs=1e-6)


def test_tokenizer_fertility_ratios(spark):
    from deepicedrain_spark.io import clear_memo
    from deepicedrain_spark.operators.bpe import bpe_train, bpe_encode
    from deepicedrain_spark.operators.textstats import whitespace_tokens

    clear_memo()
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, lang="en", text="abab abab cd"),
            Row(doc_id=1, lang="de", text="cd cd abab"),
        ]
    )
    merges = bpe_train(docs, n_merges=2)
    enc = bpe_encode(docs, merges, out="_bpe")
    w = whitespace_tokens(F.col("text"))
    per = enc.select(
        "lang", F.size(w).alias("nw"), F.size("_bpe").alias("nb"),
        F.aggregate(w, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias("nc"),
    ).collect()
    got = {r["lang"]: (r["nw"], r["nb"], r["nc"]) for r in per}
    # fertility ≥ 1 token per word; chars conserved: nc == sum of symbol lengths
    for lang, (nw, nb, nc) in got.items():
        assert nb >= nw
        assert nc > 0
    clear_memo()


def test_orc_roundtrip_fidelity(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(k="a", v=1.5), Row(k="a", v=2.25), Row(k="b", v=-3.0)]
    )
    path = str(tmp_path / "orc_probe")
    df.write.mode("overwrite").partitionBy("k").orc(path)
    back = spark.read.orc(path)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [
        ("a", 1.5), ("a", 2.25), ("b", -3.0),
    ]


def test_roc_auc_by_slice_and_null(spark):
    rows = [
        ("a", 0.9, True), ("a", 0.1, False), ("a", 0.5, True), ("a", 0.4, False),
        ("b", 0.7, True), ("b", 0.7, True),  # slice with NO negatives → NULL auc
    ]
    df = spark.createDataFrame([Row(src=s, score=x, label=l) for s, x, l in rows])
    got = {r["src"]: r for r in roc_auc(df, by=["src"]).collect()}
    assert got["a"]["auc"] == 1.0  # both positives outrank both negatives
    assert got["b"]["auc"] is None and got["b"]["gini"] is None
    assert got["b"]["n_pos"] == 2 and got["b"]["n_neg"] == 0


def test_ngram_overlap_hits_rejects_n1(spark):
    from deepicedrain_spark.operators.dedup import ngram_overlap_hits

    df = spark.createDataFrame([Row(doc_id=0, text="a b c")])
    with pytest.raises(ValueError, match="n >= 2"):
        ngram_overlap_hits(df, df, n=1)


def test_roc_auc_decimal_numerator_stays_exact(spark):
    # many distinct scores, large counts per score: the doubled
    # Mann-Whitney numerator must accumulate exactly (decimal path)
    # ids 2k and 2k+1 share a score with opposite labels, so the
    # positive and negative score multisets are identical -> AUC 0.5
    df = spark.range(20000).select(
        (F.floor(F.col("id") / 2) % 100 / 100.0).alias("score"),
        (F.col("id") % 2 == 0).alias("label"),
    )
    got = roc_auc(df).collect()[0]
    assert got["auc"] == 0.5 and got["n_pos"] == 10000


def test_bigram_pmi_matches_python(spark):
    import math
    from collections import Counter

    texts = [
        "new york is a big city",
        "new york city is in new york state",
        "the big apple is new york",
        "a city in a state",
        "new york new york",
    ] * 3
    from deepicedrain_spark.operators.textstats import bigram_pmi

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = bigram_pmi(df, min_count=3, top_k=10).orderBy("rank").collect()

    uni = Counter(w for t in texts for w in t.split())
    u = sum(uni.values())
    bgc = Counter()
    for t in texts:
        w = t.split()
        bgc.update(zip(w, w[1:]))
    bt = sum(bgc.values())
    scored = [
        (w1, w2, c, round(math.log((c / bt) / ((uni[w1] / u) * (uni[w2] / u))), 6))
        for (w1, w2), c in bgc.items()
        if c >= 3
    ]
    scored.sort(key=lambda r: (-r[3], r[0], r[1]))
    want = scored[:10]
    assert [(r["w1"], r["w2"], r["cb"]) for r in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g["pmi"] == pytest.approx(w[3], abs=1e-9)
    # 'new york' scores in-list but BELOW the rare exclusive pairs —
    # PMI's known frequency bias, which is exactly what min_count +
    # the python-oracle equality above pin down
    assert ("new", "york") in {(r["w1"], r["w2"]) for r in got}
    assert {("big", "apple"), ("the", "big")} <= {
        (r["w1"], r["w2"]) for r in got[:2]
    }


def test_psi_drift_identical_and_shifted(spark):
    from deepicedrain_spark.operators.evalmetrics import psi_drift

    ref = spark.range(1000).select((F.col("id") % 100).cast("double").alias("value"))
    # identical distribution -> every contribution 0, psi_total 0
    same = psi_drift(ref, ref, "value").collect()
    assert len(same) == 10
    assert all(r["contrib"] == 0.0 for r in same)
    assert same[0]["psi_total"] == 0.0
    # counts split evenly across the 10 equi-depth buckets
    assert all(r["c_ref"] == 100 for r in same)

    # shifted distribution -> positive psi; empty-bucket contribs NULL
    cur = spark.range(1000).select(
        (F.col("id") % 100 + 60).cast("double").alias("value")
    )
    out = psi_drift(ref, cur, "value").collect()
    assert len(out) == 10
    assert out[0]["psi_total"] is not None and out[0]["psi_total"] > 0.25
    # buckets 1..6 cover values 0..59 which cur lacks entirely
    by = {r["bucket"]: r for r in out}
    assert by[1]["c_cur"] == 0 and by[1]["contrib"] is None
    assert by[10]["c_cur"] > by[10]["c_ref"]

    # epsilon smoothing: every bucket contributes (no NULLs), the
    # deserted buckets score their full floored-probability penalty, so
    # smoothed PSI strictly exceeds the exclusion-mode total; where
    # both slices have mass the contribution matches the exact python
    # formula with the same floor
    import math

    sm = psi_drift(ref, cur, "value", epsilon=1e-4).collect()
    assert len(sm) == 10 and all(r["contrib"] is not None for r in sm)
    sby = {r["bucket"]: r for r in sm}
    # deserted bucket: p_cur floored at eps, p_ref = 0.1
    exp1 = round((1e-4 - 0.1) * math.log(1e-4 / 0.1), 6)
    assert sby[1]["contrib"] == exp1
    assert sm[0]["psi_total"] > out[0]["psi_total"]
    # identical slices still read 0 under smoothing
    sm0 = psi_drift(ref, ref, "value", epsilon=1e-4).collect()
    assert sm0[0]["psi_total"] == 0.0 and all(r["contrib"] == 0.0 for r in sm0)


def test_cohens_kappa_matches_python(spark):
    from deepicedrain_spark.operators.evalmetrics import cohens_kappa

    rows = [(i % 3 == 0, i % 2 == 0) for i in range(60)]
    df = spark.createDataFrame([Row(a=a, b=b) for a, b in rows])
    got = cohens_kappa(df).collect()[0]
    n = len(rows)
    n11 = sum(1 for a, b in rows if a and b)
    n10 = sum(1 for a, b in rows if a and not b)
    n01 = sum(1 for a, b in rows if not a and b)
    n00 = sum(1 for a, b in rows if not a and not b)
    po = (n11 + n00) / n
    pa, pb = (n11 + n10) / n, (n11 + n01) / n
    pe = pa * pb + (1 - pa) * (1 - pb)
    assert (got["n11"], got["n10"], got["n01"], got["n00"]) == (n11, n10, n01, n00)
    assert got["kappa"] == pytest.approx((po - pe) / (1 - pe), abs=1e-6)
    # perfect agreement -> kappa 1; both-constant -> undefined (NULL)
    same = spark.createDataFrame([Row(a=i % 2 == 0, b=i % 2 == 0) for i in range(10)])
    assert cohens_kappa(same).collect()[0]["kappa"] == 1.0
    const = spark.createDataFrame([Row(a=True, b=True) for _ in range(10)])
    assert cohens_kappa(const).collect()[0]["kappa"] is None


def test_keyness_g2_matches_python(spark):
    import math
    from collections import Counter

    from deepicedrain_spark.operators.textstats import keyness_g2

    texts = {
        "web": ["http link click web page"] * 6,
        "book": ["chapter verse prose book text"] * 6,
    }
    rows = [
        Row(doc_id=i, source=s, text=t)
        for i, (s, t) in enumerate((s, t) for s, ts in texts.items() for t in ts)
    ]
    df = spark.createDataFrame(rows)
    got = keyness_g2(df, by="source", top_k=3, min_count=3).collect()
    # every term is exclusive to its source here: b = 0, and the
    # keyness filter keeps it only in its own source
    sc = Counter()
    ns = Counter()
    for r in rows:
        for w in r.text.split():
            sc[(r.source, w)] += 1
            ns[r.source] += 1
    n_all = sum(ns.values())
    for r in got:
        a = sc[(r["source"], r["term"])]
        assert r["a"] == a and r["b"] == 0
        e_a = a * (ns[r["source"]] / n_all)
        assert r["g2"] == pytest.approx(2.0 * a * math.log(a / e_a), abs=1e-6)
    assert {r["source"] for r in got} == {"web", "book"}
    # a term over-represented ELSEWHERE never ranks for a slice
    assert ("web", "book") not in {(r["source"], r["term"]) for r in got}


def test_js_divergence_bounds(spark):
    import math

    from deepicedrain_spark.operators.textstats import js_divergence

    # identical slices -> js 0; fully disjoint vocab -> ln 2 in the
    # two-slice symmetric case js(P, M) where M is the 50/50 corpus
    same = spark.createDataFrame(
        [Row(source=s, text="x y z") for s in ("a", "b") for _ in range(5)]
    )
    out = {r["source"]: r["js"] for r in js_divergence(same).collect()}
    assert out == {"a": 0.0, "b": 0.0}
    disj = spark.createDataFrame(
        [Row(source="a", text="x x x"), Row(source="b", text="y y y")]
    )
    out = {r["source"]: r["js"] for r in js_divergence(disj).collect()}
    # P disjoint from the other half of M: JS(P||M) with q = P/2 on
    # P's support: 0.5*(1*ln(1/0.75) + 0.5*ln(0.5/0.75) + 0.5*ln(0.5/0.25))
    want = 0.5 * (
        math.log(1 / 0.75) + 0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)
    )
    assert out["a"] == pytest.approx(want, abs=1e-6)
    assert out["a"] == out["b"]
