"""Recall tests for the dedup / similarity operators on planted duplicates."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def planted_docs(spark):
    """120 base docs + 30 near-duplicates (small word edits) + 10 exact."""
    rng = np.random.RandomState(7)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
             "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
             "oscar", "papa", "quebec", "romeo", "sierra", "tango"]
    rows = []
    texts = []
    for i in range(120):
        words = [vocab[rng.randint(len(vocab))] for _ in range(60)]
        texts.append(words)
        rows.append((i, " ".join(words)))
    for j in range(30):  # near-dup: mutate 3 of 60 words
        base = texts[j][:]
        for _ in range(3):
            base[rng.randint(60)] = vocab[rng.randint(len(vocab))]
        rows.append((1000 + j, " ".join(base)))
    for j in range(10):  # exact dup
        rows.append((2000 + j, " ".join(texts[j])))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_finds_planted(spark, planted_docs):
    from ifeatureomega_cli_spark.operators.dedup import duplicate_docs

    dups = duplicate_docs(planted_docs).toPandas()
    assert set(dups["doc_id"]) == {2000 + j for j in range(10)}
    assert (dups["keeper_id"] < 120).all()


def test_minhash_recall(spark, planted_docs):
    from ifeatureomega_cli_spark.operators.dedup import minhash_dedup

    pairs = minhash_dedup(planted_docs, threshold=0.5).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    expected = {(j, 1000 + j) for j in range(30)}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.8, f"minhash recall {recall}"
    exact = {(j, 2000 + j) for j in range(10)}
    assert len(found & exact) == 10


def test_ngram_jaccard_exact_values(spark, planted_docs):
    from ifeatureomega_cli_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(planted_docs, shingle_n=3, threshold=0.4).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    exact = {(j, 2000 + j) for j in range(10)}
    assert exact <= found
    ex = pairs[(pairs["id_a"] < 120) & (pairs["id_b"] >= 2000)]
    assert np.allclose(ex["jaccard"], 1.0)


def test_simhash_finds_exact_dups(spark, planted_docs):
    from ifeatureomega_cli_spark.operators.dedup import simhash_dup_pairs

    pairs = simhash_dup_pairs(planted_docs, max_hamming=3).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    exact = {(j, 2000 + j) for j in range(10)}
    assert exact <= found
    base_vs_exact = pairs[(pairs["id_a"] < 120) & (pairs["id_b"] >= 2000)]
    assert (base_vs_exact["hamming"] == 0).all()


def test_embedding_dup_pairs(spark):
    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs

    rng = np.random.RandomState(3)
    base = rng.normal(size=(50, 16))
    rows = [(i, base[i].tolist()) for i in range(50)]
    # planted near-dups: tiny perturbations
    for j in range(10):
        rows.append((100 + j, (base[j] + rng.normal(scale=0.01, size=16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_dup_pairs(df, threshold=0.99, n_planes=8).toPandas()
    found = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    expected = {(j, 100 + j) for j in range(10)}
    recall = len(found & expected) / 10
    assert recall >= 0.7, f"embedding LSH recall {recall}"
    # multi-table union: strictly-superset candidates → recall can only
    # rise (here: to 1.0 with 6 independent tables), and dedup-before-
    # verify means no duplicate output pairs
    p4 = embedding_dup_pairs(df, threshold=0.99, n_planes=8,
                             n_tables=6).toPandas()
    found4 = {(a, b) for a, b in zip(p4["id_a"], p4["id_b"])}
    assert found4 >= found
    assert len(found4 & expected) == 10
    assert len(p4) == len(p4.drop_duplicates(["id_a", "id_b"]))


def test_ivf_recall_vs_brute_force(spark):
    from ifeatureomega_cli_spark.operators.similarity import (
        brute_force_topk, ivf_assign, ivf_topk, train_ivf_centroids)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    cents = train_ivf_centroids(emb, n_cells=8)
    # sf0.001 embeddings are near-structureless, so IVF recall here tracks
    # n_probe/n_cells (no locality to exploit) and is seed-noisy; probe half
    # the cells for a stable floor.  The planted-cluster recall gate (where
    # IVF actually earns its keep) is test_ivf_recall_on_sorted_corpus.
    ann = ivf_topk(ivf_assign(emb, cents), queries, cents, k=10, n_probe=4).toPandas()
    recalls = []
    for q in range(10):
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a = set(ann[ann["query_id"] == q]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.6, f"IVF mean recall {np.mean(recalls)}"


def test_embedding_dup_exact_blocked_equivalence(spark):
    """The tiled chunk×block path must emit exactly the single-tile result —
    every unordered pair once, float64 cosines bit-identical."""
    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs_exact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = (embedding_dup_pairs_exact(emb, threshold=0.2, block_size=10**9)
           .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True))
    tiled = (embedding_dup_pairs_exact(emb, threshold=0.2, block_size=37)
             .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True))
    assert len(one) == len(tiled) and len(one) > 0
    assert one[["id_a", "id_b"]].equals(tiled[["id_a", "id_b"]])
    assert np.allclose(one["cosine"], tiled["cosine"], rtol=1e-12)
    # no duplicate pair emissions across tiles
    assert not tiled.duplicated(["id_a", "id_b"]).any()


def test_embedding_dup_exact_no_driver_materialization(spark, monkeypatch):
    """The exact path must never pull rows to the driver (the round-1
    version collected the whole corpus).  Guard: any DataFrame.collect /
    toPandas during plan construction raises."""
    from tests.conftest import concrete_dataframe_cls
    DataFrame = concrete_dataframe_cls()

    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs_exact

    rng = np.random.RandomState(0)
    rows = [(i, rng.normal(size=64).tolist()) for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _boom(self, *a, **k):
        raise AssertionError("driver-side materialization in exact dedup")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    out = embedding_dup_pairs_exact(df, threshold=0.999, block_size=512)
    monkeypatch.undo()
    assert out.count() >= 0


def test_ivf_recall_on_sorted_corpus(spark, tmp_path):
    """Regression for the limit-not-sample centroid bias: a corpus WRITTEN
    SORTED by a planted cluster id (the normal 100 TB layout — data
    clustered by source) must still train representative centroids.  The
    old `sample(1.0).limit(n)` took the first partitions' rows only →
    centroids from 2 of 8 blobs → collapsed recall."""
    from ifeatureomega_cli_spark.operators.similarity import (
        brute_force_topk, ivf_assign, ivf_topk, train_ivf_centroids)

    rng = np.random.RandomState(11)
    centers = rng.normal(scale=8.0, size=(8, 16))
    rows = []
    i = 0
    for c_ix in range(8):  # sorted by blob: blob 0 rows first, then 1, ...
        for _ in range(250):
            rows.append((i, c_ix, (centers[c_ix] + rng.normal(size=16)).tolist()))
            i += 1
    path = str(tmp_path / "sorted_emb")
    (spark.createDataFrame(rows, "vec_id long, blob int, embedding array<double>")
     .repartitionByRange(8, "vec_id")  # partition boundaries follow the sort
     .write.parquet(path))
    emb = spark.read.parquet(path)

    # sample ≪ corpus so a first-rows "sample" would only see early blobs
    cents = train_ivf_centroids(emb, n_cells=8, sample=400)
    # sanity: the sample saw every blob — each blob's center has a centroid
    # within noise distance
    Cn = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    assert (Cn @ cents.T).max(axis=1).min() > 0.9, \
        "centroids missed at least one blob"

    queries = emb.filter(F.col("vec_id") % 250 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    ann = ivf_topk(ivf_assign(emb, cents), queries, cents,
                   k=10, n_probe=2).toPandas()
    recalls = []
    for q in exact["query_id"].unique():
        e = set(exact[exact["query_id"] == q]["vec_id"])
        a = set(ann[ann["query_id"] == q]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.9, f"sorted-corpus IVF recall {np.mean(recalls)}"


def test_ivf_topk_distributed_matches_broadcast(spark):
    """Forcing the no-driver-collect query path (max_broadcast_queries=0)
    must reproduce the broadcast kernel's pairs exactly — and so must both
    sides of the cap boundary: n_q − 1 runs the distributed path, n_q and
    n_q + 1 the broadcast kernel."""
    from ifeatureomega_cli_spark.operators.similarity import (
        ivf_assign, ivf_topk, train_ivf_centroids)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    n_q = queries.count()
    cents = train_ivf_centroids(emb, n_cells=8)
    corpus = ivf_assign(emb, cents)
    bc = (ivf_topk(corpus, queries, cents, k=10, n_probe=3)
          .toPandas().sort_values(["query_id", "rk"]).reset_index(drop=True))
    assert len(bc) > 0
    for cap in (0, n_q - 1, n_q, n_q + 1):
        dist = (ivf_topk(corpus, queries, cents, k=10, n_probe=3,
                         max_broadcast_queries=cap)
                .toPandas().sort_values(["query_id", "rk"])
                .reset_index(drop=True))
        assert bc[["query_id", "vec_id", "rk"]].equals(
            dist[["query_id", "vec_id", "rk"]]), cap
        assert np.allclose(bc["cosine"], dist["cosine"], rtol=1e-12), cap


def test_ivf_topk_distributed_no_driver_collect(spark, monkeypatch):
    """The distributed query path must not collect() or toPandas() while
    building its plan."""
    from tests.conftest import concrete_dataframe_cls
    DataFrame = concrete_dataframe_cls()

    from ifeatureomega_cli_spark.operators.similarity import (
        _ivf_topk_distributed, ivf_assign, train_ivf_centroids)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_cells=8)
    corpus = ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")

    def _boom(self, *a, **k):
        raise AssertionError("driver-side materialization in ivf distributed")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    out = _ivf_topk_distributed(corpus, queries, cents, "embedding",
                                "vec_id", "query_id", 10, 3, "cell")
    monkeypatch.undo()
    assert out.count() > 0


def test_embedding_dup_pairs_bucket_cap_degenerate(spark):
    """Degenerate corpus guard (round-5): many identical vectors land in
    ONE (table, bucket) group in every table; without the cap that is
    O(n²) candidate pairs on a single hot key.  With the cap the oversized
    bucket is dropped entirely — zero pairs, no blow-up — mirroring
    minhash_lsh_candidates' stop-shingle guard.  At the cap ± 1: a bucket
    of exactly max_bucket_size rows keeps all its pairs, one more row drops
    it."""
    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs

    v = [1.0] * 16

    def corpus(n):
        return spark.createDataFrame([(i, v) for i in range(n)],
                                     "vec_id long, embedding array<double>")

    for n, want in ((100, 100 * 99 // 2), (101, 0), (600, 0)):
        capped = embedding_dup_pairs(corpus(n), threshold=0.99, n_planes=8,
                                     max_bucket_size=100)
        assert capped.count() == want, n
    n, df = 600, corpus(600)
    # sanity: with the cap lifted the same corpus is all-pairs (bounded n
    # here keeps the test cheap; at corpus scale this is the blow-up)
    uncapped = embedding_dup_pairs(df, threshold=0.99, n_planes=8,
                                   max_bucket_size=10**9)
    assert uncapped.count() == n * (n - 1) // 2


def test_embedding_dup_pairs_cap_keeps_planted_recall(spark):
    """The default cap (2000) must not change the planted-pair result on a
    normal corpus — identical output with and without the guard active."""
    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs

    rng = np.random.RandomState(3)
    base = rng.normal(size=(50, 16))
    rows = [(i, base[i].tolist()) for i in range(50)]
    for j in range(10):
        rows.append((100 + j, (base[j] + rng.normal(scale=0.01, size=16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.99, n_planes=8, n_tables=6)
    with_cap = embedding_dup_pairs(df, **kw).toPandas()
    no_cap = embedding_dup_pairs(df, max_bucket_size=10**9, **kw).toPandas()
    key = lambda p: set(zip(p["id_a"], p["id_b"]))
    assert key(with_cap) == key(no_cap)
    assert {(j, 100 + j) for j in range(10)} <= key(with_cap)


def test_dedup_components_planted_and_random(spark):
    """Connected-component resolution over near-dup pairs: planted shapes
    (clique, pair, chain — the chain needs >1 propagation round) plus a
    seeded random graph cross-checked against networkx."""
    from ifeatureomega_cli_spark.operators.dedup import dedup_components

    pairs = [(0, 1), (1, 2), (0, 2),          # clique {0,1,2}
             (10, 11),                         # pair
             (30, 31), (31, 32), (32, 33)]     # chain (diameter 3)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dedup_components(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10,
                   30: 30, 31: 30, 32: 30, 33: 30}

    import networkx as nx
    rng = np.random.RandomState(7)
    edges = [(int(a), int(b)) for a, b in rng.randint(0, 200, size=(300, 2))
             if a != b]
    g = nx.Graph(edges)
    want = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            want[v] = m
    df2 = spark.createDataFrame(edges, "id_a long, id_b long")
    got2 = {r["id"]: r["component"]
            for r in dedup_components(df2).collect()}
    assert got2 == want


def test_resolve_duplicates_keeps_one_per_component(spark):
    from ifeatureomega_cli_spark.operators.dedup import resolve_duplicates

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long")
    out = resolve_duplicates(docs, pairs)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 3, 4, 5, 7]  # 1,2 fold into 0; 6 into 5


def test_dedup_components_no_driver_graph(spark, monkeypatch):
    """The loop may collect only 1-row scalar aggs (the sum fixpoint test)
    — never the labels or edges themselves."""
    from tests.conftest import concrete_dataframe_cls

    from ifeatureomega_cli_spark.operators.dedup import dedup_components

    DataFrame = concrete_dataframe_cls()
    df = spark.createDataFrame([(0, 1), (1, 2), (10, 11)],
                               "id_a long, id_b long")
    orig = DataFrame.collect

    def guarded(self, *a, **k):
        rows = orig(self, *a, **k)
        assert len(rows) <= 1, "driver-side materialization of graph state"
        return rows

    monkeypatch.setattr(DataFrame, "collect", guarded)
    monkeypatch.setattr(DataFrame, "toPandas", lambda self, *a, **k: (_ for _ in ()).throw(
        AssertionError("toPandas in dedup_components")))
    out = dedup_components(df)
    monkeypatch.undo()
    assert out.count() == 5


def test_near_dedup_end_to_end(spark):
    """Composed minhash → components → resolve on a planted-clone corpus:
    every clone (and only clones) is dropped, keepers are the min ids."""
    from ifeatureomega_cli_spark.operators.dedup import near_dedup

    rows = []
    for i in range(40):
        words = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, words))
        if i % 10 == 0:            # two clones → a 3-doc component
            rows.append((1000 + i, words))
            rows.append((2000 + i, words))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  near_dedup(df, threshold=0.8, bands=8).collect())
    assert kept == list(range(40))


def test_dedup_components_long_chain_log_rounds(spark):
    """Pointer doubling: a 200-link path graph (diameter 200) must
    converge well inside the 25-round guard — O(log d), not O(d)."""
    from ifeatureomega_cli_spark.operators.dedup import dedup_components

    n = 201
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                               "id_a long, id_b long")
    got = dedup_components(df)  # raises RuntimeError if guard trips
    assert got.filter(F.col("component") == 0).count() == n
    assert got.count() == n


def test_simhash_bucket_cap_degenerate(spark):
    """Batch simhash skew guard (round 5, symmetric with minhash): many
    identical texts share simhash and every band key; the cap drops the
    blown buckets instead of emitting O(n²) pairs on one hot key.  At the
    cap ± 1: max_bucket_size rows keep all pairs, one more drops them."""
    from ifeatureomega_cli_spark.operators.dedup import simhash_dup_pairs

    def corpus(n):
        return spark.createDataFrame(
            [(i, "identical boilerplate text everywhere") for i in range(n)],
            "doc_id long, text string")

    for n, want in ((100, 100 * 99 // 2), (101, 0), (300, 0)):
        assert simhash_dup_pairs(corpus(n), max_bucket_size=100).count() \
            == want, n
    n, df = 300, corpus(300)
    uncapped = simhash_dup_pairs(df, max_bucket_size=10**9)
    assert uncapped.count() == n * (n - 1) // 2


def test_minhash_lsh_candidates_bucket_cap(spark):
    """The minhash stop-shingle guard at the cap ± 1, and a pair whose
    FIRST colliding band sits in an oversized (dropped) bucket: it is
    still a candidate through a later band it shares — the reason the pair
    pass keeps its final dedupe instead of emitting a pair only at its
    first colliding band.  Docs 0..cap all share band 0 (cap + 1 rows:
    dropped); only docs 0 and 1 also share band 1."""
    from ifeatureomega_cli_spark.operators.dedup import minhash_lsh_candidates

    cap = 3
    rows = [(i, [7, 7, 100 + i, 100 + i]) for i in range(cap + 1)]
    rows[1] = (1, [7, 7, 100, 100])  # doc 1 = doc 0 in band 1 as well
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<long>")
    got = minhash_lsh_candidates(sigs, bands=2, max_bucket_size=cap).collect()
    assert [tuple(r) for r in got] == [(0, 1)]
    # band 0's bucket at exactly the cap keeps every pair, (0, 1) once
    got = minhash_lsh_candidates(sigs, bands=2, max_bucket_size=cap + 1)
    pairs = sorted(tuple(r) for r in got.collect())
    assert pairs == [(a, b) for a in range(cap + 1)
                     for b in range(a + 1, cap + 1)]


def test_bands_not_dividing_signature_rejected(spark, planted_docs):
    from ifeatureomega_cli_spark.operators.dedup import (minhash_band_expr,
                                                         minhash_dedup)

    with pytest.raises(ValueError, match="not divisible"):
        minhash_dedup(planted_docs, n_hashes=64, bands=7)
    with pytest.raises(ValueError, match="not divisible"):
        minhash_band_expr(10, n_hashes=64)
    minhash_band_expr(8, n_hashes=64)  # divisible: fine
    minhash_band_expr(8)               # width unknown at this call site


def test_release_caches_unpersists_intermediates(spark, planted_docs):
    """ngram_jaccard_pairs is the one dedup operator that persists an
    intermediate; the three LSH operators run one pass over their
    signatures and hold nothing, so release_caches is a no-op on them."""
    from pyspark.sql import DataFrame

    from ifeatureomega_cli_spark.operators import dedup as D

    out = D.ngram_jaccard_pairs(planted_docs, shingle_n=3, threshold=0.4)
    out.count()
    cached = [c for c in out._dedup_caches if isinstance(c, DataFrame)]
    assert cached and all(c.storageLevel.useMemory for c in cached)
    D.release_caches(out)
    assert not any(c.storageLevel.useMemory for c in cached)
    emb = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(4)],
                                "vec_id long, embedding array<double>")
    for lsh in (D.minhash_dedup(planted_docs, threshold=0.8, bands=8),
                D.simhash_dup_pairs(planted_docs),
                D.embedding_dup_pairs(emb, threshold=0.9, n_planes=4)):
        assert not hasattr(lsh, "_dedup_caches")
        D.release_caches(lsh)  # no handles attached: a clean no-op
    D.release_caches(planted_docs)


def test_shuffle_partitions_auto(spark, planted_docs, monkeypatch):
    """A non-numeric spark.sql.shuffle.partitions ("auto" where AQE picks
    the count) must not crash the two operators that size an explicit
    repartition from it, nor change their results."""
    from ifeatureomega_cli_spark.operators import dedup as D

    monkeypatch.setattr(D, "_NGRAM_BCAST_MAX_DOCS", 0)  # the instance plan
    rng = np.random.RandomState(3)
    vecs = rng.normal(size=(150, 8))
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")

    def run():
        ngram = (D.ngram_jaccard_pairs(planted_docs, shingle_n=3, threshold=0.4)
                 .select("id_a", "id_b", F.round("jaccard", 6).alias("j"))
                 .sort("id_a", "id_b").collect())
        tiles = (D.embedding_dup_pairs_exact(emb, threshold=0.2, block_size=37)
                 .select("id_a", "id_b", F.round("cosine", 9).alias("c"))
                 .sort("id_a", "id_b").collect())
        return ngram, tiles

    numeric = run()
    conf_cls = type(spark.conf)
    real_get = conf_cls.get
    monkeypatch.setattr(
        conf_cls, "get",
        lambda self, key, *a: "auto" if key == "spark.sql.shuffle.partitions"
        else real_get(self, key, *a))
    assert spark.conf.get("spark.sql.shuffle.partitions") == "auto"
    auto = run()
    assert len(numeric[0]) > 0 and len(numeric[1]) > 0
    assert auto == numeric
    assert D._shuffle_width(spark) == spark.sparkContext.defaultParallelism
