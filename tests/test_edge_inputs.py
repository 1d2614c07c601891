"""Degenerate-input robustness: empty tables, single rows, all-NaN columns.

Operators must fail loudly where the semantics are undefined (KNN with no
training rows) and degrade gracefully everywhere else — no crashes on the
empty partitions that ALWAYS occur somewhere in a 100 TB job.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_family_empty_input(spark):
    from ifeatureomega_cli_spark.operators.dedup import (
        exact_dedup, minhash_dedup, ngram_jaccard_pairs, simhash_dup_pairs)

    e = _empty_docs(spark)
    assert exact_dedup(e).count() == 0
    assert minhash_dedup(e).count() == 0
    assert ngram_jaccard_pairs(e).count() == 0
    assert simhash_dup_pairs(e).count() == 0


def test_embedding_dup_exact_single_row(spark):
    from ifeatureomega_cli_spark.operators.dedup import embedding_dup_pairs_exact

    df = spark.createDataFrame([(1, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    assert embedding_dup_pairs_exact(df, threshold=0.0).count() == 0


def test_knn_distributed_no_training_raises(spark):
    from ifeatureomega_cli_spark.operators.crosssample import (
        knn_features_distributed)

    df = spark.createDataFrame(
        [("a", [0, 1, 2], "1", "testing")],
        "doc_id string, tokens array<int>, label string, purpose string")
    with pytest.raises(ValueError, match="no training rows"):
        knn_features_distributed(df, "protein")


def test_subsequence_short_rows(spark):
    """Rows shorter than k yield all-zero vectors, not crashes."""
    from ifeatureomega_cli_spark.functions.kernels import (
        Ragged, subsequence_profile)

    r = Ragged.from_arrays([np.array([1]), np.array([], dtype=np.int64),
                            np.array([0, 1, 2, 3])])
    out = subsequence_profile(r, 4, 3, 0.5)
    assert out.shape == (3, 64)
    assert (out[0] == 0).all() and (out[1] == 0).all() and out[2].sum() > 0


def test_impute_mean_all_nan_column_stays_nan(spark):
    """A fully-NaN column has no mean — the reference leaves it NaN
    (np.mean of empty slice); so do we."""
    from ifeatureomega_cli_spark.analysis import impute_mean

    rows = [(i, [float(i), float("nan")]) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, features array<double>")
    got = np.array(impute_mean(df).sort("doc_id").select("features")
                   .toPandas()["features"].tolist())
    assert not np.isnan(got[:, 0]).any()
    assert np.isnan(got[:, 1]).all()


def test_clusterers_tiny_input(spark):
    from ifeatureomega_cli_spark.analysis import agglomerative, dbscan, kmeans

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [9.0, 9.0])],
        "doc_id long, features array<double>")
    assert kmeans(df, 2).select("cluster").distinct().count() <= 2
    lab = (agglomerative(df, n_clusters=2).sort("doc_id")
           .select("cluster").toPandas()["cluster"].to_numpy())
    assert lab[0] == lab[1] != lab[2]
    # 3 points < min_samples → everything is noise
    assert (dbscan(df, eps=0.5, min_samples=5).select("cluster")
            .toPandas()["cluster"] == -1).all()


def test_streaming_dedup_empty_batch(spark, tmp_path):
    from ifeatureomega_cli_spark.streaming.dedup_stream import (
        streaming_exact_dedup)

    src = _empty_docs(spark)
    in_dir = str(tmp_path / "in")
    src.write.parquet(in_dir)
    stream = spark.readStream.schema(src.schema).parquet(in_dir)
    q = (streaming_exact_dedup(stream).writeStream.format("memory")
         .queryName("edge_dedup").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert spark.sql("select * from edge_dedup").count() == 0


def test_analysis_ops_empty_input(spark):
    from ifeatureomega_cli_spark.analysis import (
        agglomerative, impute_mean, lda_reduce, minmax_ref, tsne, zscore_ref)

    e = spark.createDataFrame([], "doc_id long, features array<double>")
    assert impute_mean(e).count() == 0
    assert zscore_ref(e).count() == 0
    assert minmax_ref(e).count() == 0
    assert agglomerative(e, 2).count() == 0
    assert tsne(e).count() == 0
    assert lda_reduce(e).count() == 0


def test_ivf_empty_queries(spark):
    from ifeatureomega_cli_spark.operators.similarity import (
        ivf_assign, ivf_topk, train_ivf_centroids)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_cells=4, sample=256)
    corpus = ivf_assign(emb, cents)
    empty_q = spark.createDataFrame([], "query_id long, embedding array<double>")
    assert ivf_topk(corpus, empty_q, cents, k=5).count() == 0


def test_knn_distributed_zero_candidate_query_gets_zero_votes(spark):
    """The only training row queried against itself: self-exclusion leaves
    no candidates — features must be all-zero (broadcast-kernel parity),
    not NULL."""
    from ifeatureomega_cli_spark.operators.crosssample import (
        knn_features, knn_features_distributed)

    df = spark.createDataFrame(
        [("only", [0, 1, 2, 3], "1", "training")],
        "doc_id string, tokens array<int>, label string, purpose string")
    d = knn_features_distributed(df, "protein").select("features").head()[0]
    b = knn_features(df, "protein").select("features").head()[0]
    assert d is not None and list(d) == list(b)
    assert all(v == 0.0 for v in d)


def test_knn_broadcast_cap_boundary_same_rows(spark):
    """max_broadcast_train at n_train − 1 dispatches to the distributed
    twin, at n_train and n_train + 1 to the broadcast kernel: all three
    must return the same feature rows bit for bit."""
    from ifeatureomega_cli_spark.operators.crosssample import knn_features

    rng = np.random.RandomState(5)
    n_train, L = 60, 8
    rows = [(f"s{i}", rng.randint(0, 20, size=L).tolist(), str(i % 3),
             "training" if i < n_train else "testing")
            for i in range(n_train + 12)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, label string, purpose string")
    got = {}
    for cap in (n_train - 1, n_train, n_train + 1):
        pdf = (knn_features(df, "protein", max_broadcast_train=cap)
               .select("doc_id", "features").toPandas()
               .sort_values("doc_id"))
        got[cap] = (pdf["doc_id"].tolist(),
                    np.array(pdf["features"].tolist()))
    ids, ref = got[n_train]
    assert len(ids) == n_train + 12 and ref.shape[1] > 0
    for cap in (n_train - 1, n_train + 1):
        assert got[cap][0] == ids
        assert np.array_equal(got[cap][1], ref), cap


def test_salt_id_cols_spreads_duplicates(spark):
    """Content-hash salting collapses identical rows; id_cols restores the
    spread (and stays retry-deterministic)."""
    from ifeatureomega_cli_spark.plans.partitioning import salt, two_phase_count

    rows = [(i, "hot", "same-payload") for i in range(512)]
    df = spark.createDataFrame(rows, "event_id long, key string, payload string")
    no_id = salt(df.select("key", "payload"), "key", n_salts=16)
    assert no_id.select("salt").distinct().count() == 1  # documented collapse
    with_id = salt(df, "key", n_salts=16, id_cols=["event_id"])
    assert with_id.select("salt").distinct().count() > 8
    out = two_phase_count(df, "key", id_cols=["event_id"]).collect()
    assert out[0]["count"] == 512


def test_extract_many_duplicate_out_names_rejected(spark):
    """ADVICE r4: 'protein:AAC' and 'dna:AAC' both normalize to column
    'AAC'; the fused struct would silently keep only the last kernel's
    values.  extract_many must refuse up front."""
    import pytest

    from ifeatureomega_cli_spark.functions.extract import extract_many

    df = spark.createDataFrame([(0, ["A", "C"], 2)],
                               "doc_id long, tokens array<string>, n_tok int")
    with pytest.raises(ValueError, match="duplicate output column"):
        extract_many(df, ["protein:ASDC", "dna:ASDC"])
    # distinct normalized names still fine
    out = extract_many(df, ["protein:AAC", "protein:GAAC"])
    assert {"AAC", "GAAC"} <= set(out.columns)


def test_sinks_empty_input(spark, tmp_path):
    """An empty feature table cannot show its vector width: without
    `names` the CSV and ARFF writers refuse with a ValueError naming the
    fix; with `names` they write the header-only output."""
    from ifeatureomega_cli_spark.sinks import write_arff, write_csv

    empty = spark.createDataFrame(
        [], "id string, features array<double>, label int")
    for write in (write_csv, write_arff):
        with pytest.raises(ValueError, match="names="):
            write(empty, str(tmp_path / f"{write.__name__}_none"))

    write_csv(empty, str(tmp_path / "csv"), names=["a", "b"])
    csv = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert csv.columns == ["id", "label", "a", "b"] and csv.count() == 0

    write_arff(empty, str(tmp_path / "arff"), names=["a", "b"])
    lines = [r.value for r in
             spark.read.text(str(tmp_path / "arff")).collect()]
    assert lines == ["@relation descriptor", "", "@attribute a numeric",
                     "@attribute b numeric", "@attribute play {}", "@data"]
