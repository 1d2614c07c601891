"""FASTA ingest parity vs reference-pinned tokens; analysis + sinks smoke."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ifeatureomega_cli_spark.sources.fasta import (
    attach_labels, length_stats, read_fasta)

from tests.conftest import FIXDIR

REF = "/root/reference/data_examples"
pytestmark_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference examples not present")


@pytestmark_ref
def test_read_fasta_matches_reference_tokens(spark):
    """Ingesting the reference's own peptide example must reproduce the
    pinned tokenized table exactly (ids, labels, purposes, token arrays)."""
    df = read_fasta(spark, "/root/reference/data_examples/peptide_sequences.txt",
                    seq_type="protein").toPandas().set_index("doc_id")
    ref = pd.read_parquet(os.path.join(FIXDIR, "peptide_tokens.parquet")).set_index("doc_id")
    assert sorted(df.index) == sorted(ref.index)
    for d in ref.index:
        assert np.array_equal(np.asarray(df.loc[d, "tokens"]),
                              np.asarray(ref.loc[d, "tokens"])), d
        assert df.loc[d, "label"] == ref.loc[d, "label"]
        assert df.loc[d, "purpose"] == ref.loc[d, "purpose"]


@pytestmark_ref
def test_read_fasta_dna_sniff(spark):
    df = read_fasta(spark, "/root/reference/data_examples/DNA_sequences.txt")
    ref = pd.read_parquet(os.path.join(FIXDIR, "dna_tokens.parquet")).set_index("doc_id")
    got = df.toPandas().set_index("doc_id")
    assert len(got) == len(ref)
    for d in list(ref.index)[:20]:
        assert np.array_equal(np.asarray(got.loc[d, "tokens"]),
                              np.asarray(ref.loc[d, "tokens"])), d


@pytestmark_ref
def test_length_stats(spark):
    df = read_fasta(spark, "/root/reference/data_examples/peptide_sequences.txt",
                    seq_type="protein")
    st = length_stats(df)
    assert st["is_equal"] and st["minimum_length"] == 31 == st["maximum_length"]


@pytestmark_ref
def test_attach_labels(spark):
    df = read_fasta(spark, "/root/reference/data_examples/peptide_sequences.txt",
                    seq_type="protein")
    labels = df.select("doc_id").withColumn("label", F.lit("1"))
    out = attach_labels(df, labels)
    assert out.filter(F.col("label") == "1").count() == df.count()


def test_analysis_ops(spark):
    from ifeatureomega_cli_spark.analysis import kmeans, minmax, pca, zscore
    from ifeatureomega_cli_spark.functions.extract import extract

    sdf = spark.read.parquet(os.path.join(FIXDIR, "peptide_tokens.parquet"))
    feat = extract(sdf, "protein:AAC").select("doc_id", "features")
    km = kmeans(feat, 3)
    assert km.select("cluster").distinct().count() <= 3
    p = pca(feat, 4)
    assert len(p.select("pca_features").head()[0]) == 4
    z = zscore(feat)
    arr = np.array(z.select("scaled_features").toPandas()["scaled_features"].tolist())
    assert abs(arr.mean(axis=0)).max() < 1e-6
    mm = minmax(feat)
    arr2 = np.array(mm.select("scaled_features").toPandas()["scaled_features"].tolist())
    assert arr2.min() >= -1e-9 and arr2.max() <= 1 + 1e-9


def test_sinks(spark, tmp_path):
    from ifeatureomega_cli_spark.functions.extract import extract
    from ifeatureomega_cli_spark.sinks import write_arff, write_csv, write_svm

    sdf = spark.read.parquet(os.path.join(FIXDIR, "peptide_tokens.parquet"))
    feat = extract(sdf, "protein:AAC").select("doc_id", "label", "features")
    write_csv(feat, str(tmp_path / "csv"))
    write_svm(feat, str(tmp_path / "svm"))
    write_arff(feat, str(tmp_path / "arff"))
    csv = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert csv.count() == 300 and len(csv.columns) == 22
    svm_line = spark.read.text(str(tmp_path / "svm")).head()[0]
    assert ":" in svm_line
    arff = [r[0] for r in spark.read.text(str(tmp_path / "arff")).collect()]
    assert any(line.startswith("@relation") for line in arff)
    assert sum(1 for line in arff if line and not line.startswith("@")) == 300


def test_analysis_facade_workflow(spark):
    """The reference's documented iAnalysis workflow, Spark-side
    (ref iFeatureOmegaCLI.py:9951-10000 docstring examples)."""
    from ifeatureomega_cli_spark.api import Analysis
    from ifeatureomega_cli_spark.functions.extract import extract

    sdf = spark.read.parquet(os.path.join(FIXDIR, "peptide_tokens.parquet"))
    feat = extract(sdf, "protein:AAC").select("doc_id", "features")
    a = Analysis(feat)
    assert a.kmeans(nclusters=3)
    assert a.cluster_result.select("cluster").distinct().count() <= 3
    assert a.DBSCAN()
    assert a.Agglomerative(nclusters=2)
    assert a.cluster_result.count() == feat.count()
    assert a.PCA(n_components=2)
    assert len(a.dimension_reduction_result.select("pca_features").head()[0]) == 2
    assert a.t_sne(n_components=2)
    assert a.dimension_reduction_result.count() > 0
    assert a.ZScore()
    assert a.feature_normalization_data.count() == feat.count()
    assert a.MinMax()
    # reference contract: failures return False and set error_msg
    bad = Analysis(feat.select("doc_id"))
    assert not bad.kmeans(2)
    assert bad.error_msg
