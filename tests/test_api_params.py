"""Façade API parity + non-default parameter variants vs the reference."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from tests.conftest import FIXDIR

VAR_DIR = os.path.join(FIXDIR, "golden_params")

# (descriptor, params) variants pinned by tools/make_golden_params.py
VARIANTS = [
    ("CKSAAP type 1", {"kspace": 5}),
    ("EAAC", {"sliding_window": 3}),
    ("PAAC", {"lambdaValue": 5, "weight": 0.1}),
    ("QSOrder", {"nlag": 5, "weight": 0.1}),
    ("KSCTriad", {"kspace": 1}),
    ("PseKRAAC type 2", {"PseKRAAC_model": "lambda-correlation", "lambdaValue": 2,
                         "k-tuple": 2, "RAAC_clust": 8}),
    ("PseKRAAC type 5", {"PseKRAAC_model": "g-gap", "g-gap": 1, "k-tuple": 3,
                         "RAAC_clust": 15}),
    ("DistancePair", {"distance": 2, "cp": "cp(14)"}),
    ("DistancePair", {"distance": 1, "cp": "cp(19)"}),
    ("CKSAAGP type 1", {"kspace": 4}),
    ("KSCTriad", {"kspace": 2}),
    ("NMBroto", {"nlag": 5, "aaindex": "ANDN920101;ARGP820101"}),
    ("APAAC", {"lambdaValue": 4, "weight": 0.1}),
    ("SOCNumber", {"nlag": 5}),
    ("Moran", {"nlag": 4, "aaindex": "ANDN920101;BHAR880101"}),
    ("Geary", {"nlag": 5, "aaindex": "ANDN920101;ARGP820101;BEGF750101"}),
    ("EGAAC", {"sliding_window": 4}),
    ("AAIndex", {"aaindex": "ANDN920101;ARGP820102"}),
    ("CC", {"nlag": 2, "aaindex": "ANDN920101;ARGP820101"}),
]


def _slug(desc, params):
    flat = "_".join(f"{k}{v}" for k, v in sorted(params.items()))
    return f"pv__{desc}__{flat}".replace(" ", "_").replace("(", "").replace(")", "")


@pytest.mark.parametrize("desc,params", VARIANTS,
                         ids=[v[0] + str(i) for i, v in enumerate(VARIANTS)])
def test_param_variant_matches_reference(spark, desc, params):
    gpath = os.path.join(VAR_DIR, _slug(desc, params) + ".parquet")
    if not os.path.exists(gpath):
        pytest.skip("variant golden missing — run tools/make_golden_params.py")
    from ifeatureomega_cli_spark.api import ProteinDataset

    ds = ProteinDataset(spark, os.path.join(FIXDIR, "peptide_tokens.parquet"))
    out = ds.get_descriptor(desc, params).select("doc_id", "features").toPandas()
    gold = pd.read_parquet(gpath)
    got = np.array(out.set_index("doc_id").loc[gold["doc_id"]]["features"].tolist())
    exp = np.array(gold["features"].tolist())
    assert got.shape == exp.shape, (got.shape, exp.shape)
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
    # names arity must match values
    assert len(ds.feature_names(desc, params)) == got.shape[1]


@pytest.mark.skipif(not os.path.isdir("/root/reference"),
                    reason="reference not present")
def test_facade_workflow(spark, tmp_path):
    """The reference's documented workflow, Spark-side."""
    from ifeatureomega_cli_spark.api import ProteinDataset

    p = ProteinDataset(spark, "/root/reference/data_examples/peptide_sequences.txt")
    assert p.import_parameters("/root/reference/parameters/Protein_parameters_setting.json")
    df = p.get_descriptor("AAC")
    mat = p.to_pandas_matrix(df, "AAC")
    assert mat.shape == (300, 20) and mat.columns[0] == "AAC_A"
    gold = pd.read_parquet(os.path.join(FIXDIR, "golden", "protein__AAC.parquet"))
    exp = np.array(gold["features"].tolist())
    assert np.allclose(mat.loc[gold["doc_id"]].to_numpy(), exp)
    p.to_csv(df, str(tmp_path / "enc"), name="AAC")
    types = p.display_feature_types()
    assert "AAC" in types and len(types) > 60


DNA_VARIANTS = [
    ("Kmer type 1", {"kmer": 2}),
    ("CKSNAP type 1", {"kspace": 2}),
    ("Mismatch", {"kmer": 2, "mismatch": 1}),
    ("RCKmer type 1", {"kmer": 4}),
    ("PseKNC", {"kmer": 2, "lambdaValue": 3, "weight": 0.1,
                "Di-DNA-Phychem": "Twist;Tilt;Roll;Shift;Slide;Rise"}),
    ("DAC", {"nlag": 5, "Di-DNA-Phychem": "Twist;Roll"}),
    ("ENAC", {"sliding_window": 4}),
    # δ>0 exercises the positional-DP path (the default δ=0 takes the
    # bincount fast path); δ=1 makes every skip weight 1 — worst case
    ("Subsequence", {"kmer": 3, "delta": 0.5}),
    ("Subsequence", {"kmer": 2, "delta": 1.0}),
    ("Mismatch", {"kmer": 3, "mismatch": 2}),
    ("Moran", {"nlag": 4, "Di-DNA-Phychem": "Twist;Roll"}),
    ("TAC", {"nlag": 2, "Tri-DNA-Phychem": "Dnase I;Bendability (DNAse)"}),
    ("PCPseDNC", {"lambdaValue": 2, "weight": 0.1, "Di-DNA-Phychem": "Twist;Roll"}),
    ("DPCP type2", {"Di-DNA-Phychem": "Twist;Roll"}),
    ("TPCP type2", {"Tri-DNA-Phychem": "Dnase I"}),
]


@pytest.mark.parametrize("desc,params", DNA_VARIANTS,
                         ids=[v[0] + str(i) for i, v in enumerate(DNA_VARIANTS)])
def test_dna_param_variant_matches_reference(spark, desc, params):
    gpath = os.path.join(VAR_DIR, "dna_" + _slug(desc, params) + ".parquet")
    if not os.path.exists(gpath):
        pytest.skip("variant golden missing — run tools/make_golden_params.py")
    from ifeatureomega_cli_spark.api import DNADataset

    ds = DNADataset(spark, os.path.join(FIXDIR, "dna_tokens.parquet"))
    out = ds.get_descriptor(desc, params).select("doc_id", "features").toPandas()
    gold = pd.read_parquet(gpath)
    got = np.array(out.set_index("doc_id").loc[gold["doc_id"]]["features"].tolist())
    exp = np.array(gold["features"].tolist())
    assert got.shape == exp.shape, (got.shape, exp.shape)
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


RNA_VARIANTS = [
    ("Kmer type 1", {"kmer": 4}),
    ("PseDNC", {"lambdaValue": 2, "weight": 0.1,
                "Di-RNA-Phychem": "Rise (RNA);Roll (RNA)"}),
    ("SCPseDNC", {"lambdaValue": 2, "weight": 0.05,
                  "Di-RNA-Phychem": "Rise (RNA);Roll (RNA);Shift (RNA)"}),
    ("NMBroto", {"nlag": 4, "Di-RNA-Phychem": "Rise (RNA);Roll (RNA)"}),
]


@pytest.mark.parametrize("desc,params", RNA_VARIANTS,
                         ids=[v[0] + str(i) for i, v in enumerate(RNA_VARIANTS)])
def test_rna_param_variant_matches_reference(spark, desc, params):
    gpath = os.path.join(VAR_DIR, "rna_" + _slug(desc, params) + ".parquet")
    if not os.path.exists(gpath):
        pytest.skip("variant golden missing — run tools/make_golden_params.py")
    from ifeatureomega_cli_spark.api import RNADataset

    ds = RNADataset(spark, os.path.join(FIXDIR, "rna_tokens.parquet"))
    out = ds.get_descriptor(desc, params).select("doc_id", "features").toPandas()
    gold = pd.read_parquet(gpath)
    got = np.array(out.set_index("doc_id").loc[gold["doc_id"]]["features"].tolist())
    exp = np.array(gold["features"].tolist())
    assert got.shape == exp.shape, (got.shape, exp.shape)
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


def test_extract_float32_output(spark):
    """dtype='float32' narrows only the output: values match float64 to
    float32 precision, schema element type is float."""
    from ifeatureomega_cli_spark.functions.extract import extract

    sdf = spark.read.parquet(os.path.join(FIXDIR, "peptide_tokens.parquet")).limit(64)
    f64 = extract(sdf, "protein:CTDD").select("doc_id", "features").toPandas()
    f32 = extract(sdf, "protein:CTDD", dtype="float32").select(
        "doc_id", "features").toPandas()
    a = np.array(f64.set_index("doc_id").loc[f32["doc_id"]]["features"].tolist())
    b = np.array(f32["features"].tolist())
    assert b.dtype == np.float32 or np.allclose(a, b, rtol=1e-6)
    assert np.allclose(a, b.astype(np.float64), rtol=1e-6, atol=1e-6)


def test_extract_many_struct_fuse_bit_identical(spark):
    """extract_many's one struct-returning Arrow UDF (shared Ragged) must
    be BIT-identical to one `descriptor_udf` column per descriptor across
    the kernel archetypes — composition, gapped pairs, autocorrelation,
    CTD, pseudo-composition, positional (equal-length), cross-alphabet."""
    from pyspark.sql import functions as F

    from ifeatureomega_cli_spark.functions.extract import (
        _discover_length, descriptor_udf, extract_many)

    names = ["protein:AAC", "protein:DPC type 1", "protein:CKSAAP type 1",
             "protein:GAAC", "protein:CKSAAGP type 1", "protein:Moran",
             "protein:Geary", "protein:CTDC", "protein:CTDD",
             "protein:PAAC", "protein:APAAC", "protein:QSOrder",
             "protein:ASDC", "protein:binary", "protein:EAAC"]
    outs = [n.split(":", 1)[-1].replace(" ", "_") for n in names]
    sdf = spark.read.parquet(
        os.path.join(FIXDIR, "peptide_tokens.parquet")).limit(60)
    L = _discover_length(sdf, "n_tok")
    a = (extract_many(sdf, names).select("doc_id", *outs)
         .toPandas().set_index("doc_id").sort_index())
    b = (sdf.select("doc_id", *[
            descriptor_udf(n, None, L)(F.col("tokens")).alias(o)
            for n, o in zip(names, outs)])
         .toPandas().set_index("doc_id").sort_index())
    for c in outs:
        av = np.array(a[c].tolist())
        bv = np.array(b[c].tolist())
        assert av.shape == bv.shape and np.array_equal(
            av, bv, equal_nan=True), c
    # float32 narrowing flows through the fused path too
    f32 = (extract_many(sdf, names[:3], dtype="float32").select(outs[0])
           .toPandas())
    assert np.asarray(f32.iloc[0, 0]).dtype == np.float32


def test_ligand_dataset_facade(spark, tmp_path):
    """LigandDataset mirrors the reference's iLigand flow (round 6):
    file → get_descriptor → encodings → to_csv."""
    import pandas as pd

    from ifeatureomega_cli_spark import LigandDataset

    p = tmp_path / "mols.txt"
    p.write_text("CCO\nc1ccccc1\nbad((\n")
    lig = LigandDataset(spark, str(p))
    fams = lig.display_feature_types()
    assert len(fams) == 24
    out = lig.get_descriptor("Kappa")
    rows = out.orderBy("mol_id").collect()
    assert [r["valid"] for r in rows] == [True, True, False]
    assert rows[0]["features"][0] == 3.0  # kappa1(CCO)
    csv = tmp_path / "enc.csv"
    lig.to_csv(str(csv))  # a Spark CSV directory, like every repo sink
    parts = sorted(csv.glob("part-*.csv"))
    got = pd.concat([pd.read_csv(f) for f in parts], ignore_index=True)
    assert len(got) == 2 and got.shape[1] == 8  # id + 7 kappa values
    # RDKit-gated family: honest error unless the stub is opted into
    with pytest.raises(NotImplementedError):
        lig.get_descriptor("Morgan fingerprints")
    assert lig.get_descriptor("Morgan fingerprints",
                              allow_stub=True) is not None
    # Charge is real since round 7 — routes without opt-in
    ch = lig.get_descriptor("Charge").orderBy("mol_id").collect()
    assert len(ch[0]["features"]) == 25
