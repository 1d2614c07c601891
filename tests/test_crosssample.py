"""Cross-sample descriptors (PSTNP, KNN) vs reference goldens."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from ifeatureomega_cli_spark.operators.crosssample import knn_features, pstnp

from tests.conftest import FIXDIR, GOLDDIR


def _check(spark, tokens_file, golden_slug, fn):
    gpath = os.path.join(GOLDDIR, golden_slug + ".parquet")
    if not os.path.exists(gpath):
        pytest.skip(f"golden {golden_slug} missing")
    sdf = spark.read.parquet(os.path.join(FIXDIR, tokens_file))
    out = fn(sdf).select("doc_id", "features").toPandas().set_index("doc_id")
    gold = pd.read_parquet(gpath)
    got = np.array(out.loc[gold["doc_id"].tolist()]["features"].tolist())
    exp = np.array(gold["features"].tolist())
    assert got.shape == exp.shape, (got.shape, exp.shape)
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12), np.max(np.abs(got - exp))


def test_pstnpss_dna(spark):
    _check(spark, "dna_tokens.parquet", "dna__PSTNPss", lambda df: pstnp(df))


def test_pstnpds_dna(spark):
    _check(spark, "dna_tokens.parquet", "dna__PSTNPds",
           lambda df: pstnp(df, double_strand=True))


def test_pstnpss_rna(spark):
    _check(spark, "rna_tokens.parquet", "rna__PSTNPss", lambda df: pstnp(df))


def test_knn_protein(spark):
    _check(spark, "peptide_tokens.parquet", "protein__KNN",
           lambda df: knn_features(df, "protein"))


def test_knn_dna(spark):
    _check(spark, "dna_tokens.parquet", "dna__KNN",
           lambda df: knn_features(df, "dna"))


def test_knn_rna(spark):
    _check(spark, "rna_tokens.parquet", "rna__KNN",
           lambda df: knn_features(df, "dna"))


def test_knn_distributed_matches_goldens(spark):
    """The tiled no-broadcast KNN twin must hit the same reference goldens
    as the broadcast kernel (bit-identical distance summation order)."""
    from ifeatureomega_cli_spark.operators.crosssample import (
        knn_features_distributed)

    _check(spark, "peptide_tokens.parquet", "protein__KNN",
           lambda df: knn_features_distributed(df, "protein"))
    _check(spark, "dna_tokens.parquet", "dna__KNN",
           lambda df: knn_features_distributed(df, "dna"))


def test_knn_distributed_training_50x_query_no_broadcast(spark, monkeypatch):
    """Training 50× the query batch, with driver-side materialization of the
    training table forbidden (collect/toPandas raise during construction)."""
    from tests.conftest import concrete_dataframe_cls
    DataFrame = concrete_dataframe_cls()

    from ifeatureomega_cli_spark.operators.crosssample import (
        knn_features, knn_features_distributed)

    rng = np.random.RandomState(11)
    L = 12
    rows = []
    for i in range(2040):
        purpose = "training" if i >= 40 else "testing"  # 2000 train, 40 query
        rows.append((f"s{i}", rng.randint(0, 20, size=L).tolist(),
                     str(i % 2), purpose))
    sdf = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, label string, purpose string")

    def _boom(self, *a, **k):
        raise AssertionError("driver-side materialization in distributed KNN")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    out = knn_features_distributed(sdf, "protein")
    monkeypatch.undo()
    got = out.select("doc_id", "features").toPandas().set_index("doc_id")
    want = (knn_features(sdf, "protein").select("doc_id", "features")
            .toPandas().set_index("doc_id"))
    g = np.array(got.loc[want.index]["features"].tolist())
    w = np.array(want["features"].tolist())
    assert g.shape == w.shape
    assert np.allclose(g, w, rtol=1e-9, atol=1e-12)

