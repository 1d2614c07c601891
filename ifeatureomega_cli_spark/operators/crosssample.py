"""Cross-sample (A8) descriptors: PSTNP and KNN.

These are the reference's only genuinely *distributed* descriptors
(SURVEY.md §2.8): they need a training-set aggregate before the per-row map.

PSTNP fit = a per-position trinucleotide×label count — computed as a
distributed partial aggregation (mapInPandas partial counts → driver sum →
small broadcast matrix), the classic map-side-combine pattern.  Transform is
then one Arrow-vectorized UDF with leave-one-out correction for training
rows (ref iFeatureOmegaCLI.py:6194-6269).

KNN = top-k vote over BLOSUM62 (protein, :3735-3846) / identity (DNA/RNA,
:6353-6448) similarity to the training set.  Two exact paths: a broadcast
kernel for training sets that fit a task closure, and a tiled
chunk×block all-pairs twin (knn_features_distributed) that never collects
the training table — knn_features auto-dispatches on training size.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from ifeatureomega_cli_spark.functions import lookups as LK
from ifeatureomega_cli_spark.tokenize import PROTEIN_AA, PROTEIN_AA_ALT

_DS_REMAP = np.array([0, 1, 1, 0, 4])  # T→A, G→C (ref :6290-6292), gap stays


def _tri_ids(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, L-2) trinucleotide ids over ACGT + validity mask (no gap)."""
    a, b, c = mat[:, :-2], mat[:, 1:-1], mat[:, 2:]
    ok = (a < 4) & (b < 4) & (c < 4)
    ids = np.where(ok, a * 16 + b * 4 + c, 0)
    return ids, ok


def fit_pstnp(
    df: DataFrame,
    tokens_col: str = "tokens",
    label_col: str = "label",
    purpose_col: str = "purpose",
    double_strand: bool = False,
) -> dict:
    """Distributed fit: per-position trinucleotide counts by class over the
    training rows.  Partial (L-2, 64) matrices per partition, summed on the
    driver — no wide shuffle, result is tiny."""
    train = df.filter(F.col(purpose_col) == "training").select(
        tokens_col, label_col
    )

    def partial(batches):
        for pdf in batches:
            mats = {}
            for lab in ("0", "1"):
                rows = pdf[pdf[label_col] == lab][tokens_col]
                if len(rows) == 0:
                    continue
                m = np.stack([np.asarray(t) for t in rows])
                if double_strand:
                    m = _DS_REMAP[m]
                ids, ok = _tri_ids(m)
                Lm2 = ids.shape[1]
                cnt = np.zeros((Lm2, 64))
                pos = np.tile(np.arange(Lm2), (ids.shape[0], 1))
                np.add.at(cnt, (pos[ok], ids[ok]), 1.0)
                mats[lab] = (cnt, len(rows))
            out = {}
            for lab, (cnt, n) in mats.items():
                out[f"counts_{lab}"] = [cnt.reshape(-1).tolist()]
                out[f"n_{lab}"] = [n]
            for lab in ("0", "1"):
                out.setdefault(f"counts_{lab}", [None])
                out.setdefault(f"n_{lab}", [0])
            yield pd.DataFrame(out)

    schema = ("counts_0 array<double>, n_0 long, "
              "counts_1 array<double>, n_1 long")
    parts = train.mapInPandas(partial, schema=schema).collect()
    mat = {"0": None, "1": None}
    num = {"0": 0, "1": 0}
    for row in parts:
        for lab in ("0", "1"):
            c = row[f"counts_{lab}"]
            if c is None:
                continue
            c = np.array(c)
            mat[lab] = c if mat[lab] is None else mat[lab] + c
            num[lab] += row[f"n_{lab}"]
    Lm2 = len(mat["1"]) // 64 if mat["1"] is not None else len(mat["0"]) // 64
    return {
        "matrix_po": (mat["1"] if mat["1"] is not None else np.zeros(Lm2 * 64)).reshape(Lm2, 64),
        "matrix_ne": (mat["0"] if mat["0"] is not None else np.zeros(Lm2 * 64)).reshape(Lm2, 64),
        "p_num": num["1"],
        "n_num": num["0"],
        "double_strand": double_strand,
    }


def pstnp_transform(
    df: DataFrame,
    model: dict,
    tokens_col: str = "tokens",
    label_col: str = "label",
    purpose_col: str = "purpose",
    out_col: str = "features",
) -> DataFrame:
    """Score every row: po/p − ne/n per position, leave-one-out for training
    rows (ref :6252-6261); gap-containing trigram → 0."""
    mp, mn = model["matrix_po"], model["matrix_ne"]
    pn, nn = model["p_num"], model["n_num"]
    ds = model["double_strand"]

    @pandas_udf(ArrayType(DoubleType()))
    def _udf(tokens: pd.Series, label: pd.Series, purpose: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(t) for t in tokens])
        if ds:
            m = _DS_REMAP[m]
        ids, ok = _tri_ids(m)
        n, Lm2 = ids.shape
        pos = np.tile(np.arange(Lm2), (n, 1))
        po = mp[pos, ids]
        ne = mn[pos, ids]
        is_tr = (purpose == "training").to_numpy()
        is_pos = is_tr & (label == "1").to_numpy()
        is_neg = is_tr & (label == "0").to_numpy()
        # leave-one-out: subtract own contribution where count > 0
        po_adj = np.where(is_pos[:, None] & (po > 0), po - 1, po)
        p_den = np.where(is_pos[:, None] & (po > 0), pn - 1, pn).astype(np.float64)
        ne_adj = np.where(is_neg[:, None] & (ne > 0), ne - 1, ne)
        n_den = np.where(is_neg[:, None] & (ne > 0), nn - 1, nn).astype(np.float64)
        vals = po_adj / np.where(p_den == 0, 1.0, p_den) - ne_adj / np.where(
            n_den == 0, 1.0, n_den)
        vals = np.where(ok, vals, 0.0)
        return pd.Series(list(vals))

    return df.withColumn(
        out_col, _udf(F.col(tokens_col), F.col(label_col), F.col(purpose_col))
    )


def pstnp(df: DataFrame, double_strand: bool = False, **kw) -> DataFrame:
    model = fit_pstnp(df, double_strand=double_strand, **{
        k: v for k, v in kw.items() if k in ("tokens_col", "label_col", "purpose_col")})
    return pstnp_transform(df, model, **kw)


# --------------------------------------------------------------------------
# KNN
# --------------------------------------------------------------------------

_TOPK_FRACS = [round(0.01 * i, 2) for i in range(1, 31)]


def _blosum_raw() -> np.ndarray:
    """(21, 21) RAW integer BLOSUM62 in canonical token order (gap id 20
    row/col = 0); the reference normalizes per pair as (v+4)/15
    (ref :3735-3764) — we keep the integer and normalize once after the
    positional sum, so the distance is an EXACT function of the integer
    score: summation-order-independent, and mathematical ties are exact
    float ties (resolved by label, as the reference's lexsort intends)
    instead of float-noise coin flips."""
    tbl = LK.a2_table("protein", "BLOSUM62")  # (21, 20): row=canonical token
    B = np.zeros((21, 21))
    alt_idx = [PROTEIN_AA_ALT.index(c) for c in PROTEIN_AA]
    B[:21, :20] = tbl[:, alt_idx][:, : 20]
    return B.astype(np.int64)  # gap column stays 0


def _identity_raw() -> np.ndarray:
    """(5, 5) RAW integer DNA similarity: 2 match / −1 mismatch, gap a 5th
    symbol matching itself; reference normalizes (v+1)/3 (ref :6353-6366)."""
    B = np.full((5, 5), -1, dtype=np.int64)
    np.fill_diagonal(B, 2)
    return B


def _sim_params(seq_type: str) -> tuple[np.ndarray, float, float]:
    """(raw matrix, offset, denominator): normalized sim = (raw+off)/den
    per position, so dist = 1 − (raw_sum + off·L)/(den·L)."""
    if seq_type == "protein":
        return _blosum_raw(), 4.0, 15.0
    return _identity_raw(), 1.0, 3.0


def knn_features(
    df: DataFrame,
    seq_type: str = "protein",
    tokens_col: str = "tokens",
    label_col: str = "label",
    purpose_col: str = "purpose",
    id_col: str = "doc_id",
    out_col: str = "features",
    max_broadcast_train: int = 100_000,
) -> DataFrame:
    """Top-k label-vote features vs the training set.

    Small training sets (≤ max_broadcast_train rows) take the broadcast
    kernel: the training matrix ships inside the UDF closure, queries stream
    through in Arrow batches, distances computed as L gather-adds of
    (batch × n_train).  Bigger training sets dispatch to
    knn_features_distributed — the tiled all-pairs twin that never
    materializes the training table on the driver."""
    # bounded probe: limit+count short-circuits instead of scanning the
    # full training set just to learn "is it big"
    if (df.filter(F.col(purpose_col) == "training")
            .limit(max_broadcast_train + 1).count() > max_broadcast_train):
        return knn_features_distributed(
            df, seq_type, tokens_col, label_col, purpose_col, id_col, out_col)
    train_pd = (
        df.filter(F.col(purpose_col) == "training")
        .select(id_col, tokens_col, label_col)
        .toPandas()
    )
    t_names = train_pd[id_col].astype(str).to_numpy()
    t_mat = np.stack([np.asarray(t) for t in train_pd[tokens_col]])
    t_labels = train_pd[label_col].astype(int).to_numpy()
    label_set = sorted(set(t_labels.tolist()))
    n_train = len(t_mat)
    topk = [math.ceil(n_train * f) for f in _TOPK_FRACS]
    B, off, den = _sim_params(seq_type)
    L = t_mat.shape[1]

    @pandas_udf(ArrayType(DoubleType()))
    def _udf(tokens: pd.Series, names: pd.Series) -> pd.Series:
        q = np.stack([np.asarray(t) for t in tokens])
        nq = len(q)
        raw = np.zeros((nq, n_train), dtype=np.int64)
        for i in range(L):
            raw += B[q[:, i][:, None], t_mat[None, :, i]]
        # exact: distance is a monotone function of the integer raw score
        dist = 1.0 - (raw + off * L) / (den * L)
        # exclude self (by name) from candidates, as the reference does
        name_arr = names.astype(str).to_numpy()
        self_mask = name_arr[:, None] == t_names[None, :]
        dist = np.where(self_mask, np.inf, dist)
        # stable sort by (distance, label): lexsort-compatible ordering
        order = np.lexsort((np.tile(t_labels, (nq, 1)), dist), axis=1)
        sorted_labels = t_labels[order]
        valid = ~np.take_along_axis(self_mask, order, axis=1)
        out = np.zeros((nq, len(topk) * len(label_set)))
        # cumulative label counts over sorted neighbors
        for li, lab in enumerate(label_set):
            hits = (sorted_labels == lab) & valid
            csum = np.cumsum(hits, axis=1)
            for ki, k in enumerate(topk):
                out[:, ki * len(label_set) + li] = csum[:, k - 1] / k
        return pd.Series(list(out))

    return df.withColumn(out_col, _udf(F.col(tokens_col), F.col(id_col)))


def knn_features_distributed(
    df: DataFrame,
    seq_type: str = "protein",
    tokens_col: str = "tokens",
    label_col: str = "label",
    purpose_col: str = "purpose",
    id_col: str = "doc_id",
    out_col: str = "features",
    chunk_size: int = 512,
    block_size: int = 2048,
) -> DataFrame:
    """Exact KNN label-vote features with NO driver-side training collect.

    The broadcast path (knn_features) ships the whole training matrix in the
    UDF closure — fine while it fits, fatal beyond.  This twin tiles the
    inherent O(n_query · n_train) work instead: queries and training rows
    are hash-packed into bounded struct groups (collect_list), the
    chunk×block cross join gives every tile its own task, each tile scores
    its (chunk, block) distance sub-matrix with the same vectorized
    gather-add kernel, and emits only narrow (query, label, dist) pair rows.
    A rank window + conditional aggregation then reproduces the reference's
    cumulative top-k label votes (ref iFeatureOmegaCLI.py:3735-3846 protein,
    :6353-6448 DNA/RNA) exactly — distances are exact functions of the
    integer similarity score, so results are bit-identical to the broadcast
    kernel no matter how the work is tiled.

    Only two scalar aggregates touch the driver: the training count and the
    label set.  The rank window sorts n_train pair rows per query — the
    unavoidable cost of EXACT votes at k up to 30% of the training set.
    """
    from pyspark.sql import Window

    train = df.filter(F.col(purpose_col) == "training")
    per_label = train.groupBy(label_col).count().collect()
    label_set = sorted(int(r[0]) for r in per_label)
    n_train = int(sum(r["count"] for r in per_label))
    if n_train == 0:
        raise ValueError("knn_features_distributed: no training rows")
    topk = sorted({math.ceil(n_train * f) for f in _TOPK_FRACS})
    k_list = [math.ceil(n_train * f) for f in _TOPK_FRACS]
    B, off, den = _sim_params(seq_type)

    q_packed = F.collect_list(F.struct(
        F.col(id_col).cast("string").alias("id"), F.col(tokens_col).alias("t")))
    t_packed = F.collect_list(F.struct(
        F.col(id_col).cast("string").alias("id"), F.col(tokens_col).alias("t"),
        F.col(label_col).cast("int").alias("lab")))
    # group counts sized from the actual tables so collect_list cells stay
    # bounded at ~chunk_size/block_size rows regardless of scale
    n_query = df.count()
    n_chunks = max(1, math.ceil(n_query / chunk_size))
    n_blocks = max(1, math.ceil(n_train / block_size))
    chunks = (df.groupBy(F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(1)),
                                F.lit(n_chunks)).alias("__chk"))
              .agg(q_packed.alias("__q")))
    blocks = (train.groupBy(F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(2)),
                                   F.lit(n_blocks)).alias("__blk"))
              .agg(t_packed.alias("__t")))

    def gen(batches):
        for pdf in batches:
            for qrows, trows in zip(pdf["__q"], pdf["__t"]):
                qn = np.array([r["id"] for r in qrows])
                Qm = np.stack([np.asarray(r["t"]) for r in qrows])
                tn = np.array([r["id"] for r in trows])
                Tm = np.stack([np.asarray(r["t"]) for r in trows])
                tl = np.array([r["lab"] for r in trows], dtype=np.int64)
                L = Tm.shape[1]
                raw = np.zeros((len(qn), len(tn)), dtype=np.int64)
                for i in range(L):
                    raw += B[Qm[:, i][:, None], Tm[None, :, i]]
                # exact integer score → identical floats to the broadcast
                # kernel regardless of tiling/summation order
                dist = 1.0 - (raw + off * L) / (den * L)
                keep = qn[:, None] != tn[None, :]  # self-exclusion by name
                qi, ti = np.nonzero(keep)
                yield pd.DataFrame({"qid": qn[qi], "lab": tl[ti],
                                    "dist": dist[qi, ti]})

    pairs = chunks.crossJoin(blocks).mapInPandas(
        gen, schema="qid string, lab int, dist double")

    w = Window.partitionBy("qid").orderBy("dist", "lab")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = pairs.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_cand", F.count(F.lit(1)).over(Window.partitionBy("qid")))
    for lab in label_set:
        ranked = ranked.withColumn(
            f"csum_{lab}",
            F.sum((F.col("lab") == lab).cast("double")).over(cum))
    # rows at the vote ranks (clamped to n_cand when a query has fewer
    # candidates than k — matching the broadcast kernel, whose masked
    # inf-distance self column contributes zero votes past the real ones)
    at_ranks = ranked.filter(
        F.col("rk").isin([int(k) for k in topk]) | (F.col("rk") == F.col("n_cand"))
    )
    feat_cols = [
        (F.first(
            F.when(F.col("rk") == F.least(F.lit(int(k)), F.col("n_cand")),
                   F.col(f"csum_{lab}")), ignorenulls=True) / float(k)
         ).alias(f"f_{ki}_{lab}")
        for ki, k in enumerate(k_list) for lab in label_set
    ]
    feats = at_ranks.groupBy("qid").agg(*feat_cols).select(
        "qid", F.array(*[F.col(f"f_{ki}_{lab}")
                         for ki in range(len(k_list))
                         for lab in label_set]).alias(out_col))
    # a query with ZERO candidates (e.g. the only training row queried
    # against itself) emits no pair rows → left join gives NULL; the
    # broadcast kernel returns all-zero votes for it, so coalesce to zeros
    zeros = F.array(*[F.lit(0.0)] * (len(k_list) * len(label_set)))
    return (df.withColumn("__qid_str", F.col(id_col).cast("string"))
            .join(feats, F.col("__qid_str") == F.col("qid"), "left")
            .withColumn(out_col, F.coalesce(F.col(out_col), zeros))
            .drop("qid", "__qid_str"))
