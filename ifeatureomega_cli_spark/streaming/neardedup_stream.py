"""Custom stateful streaming operators: incremental MinHash and SimHash
near-dup detection — the streaming twins of operators/dedup.minhash_dedup
and simhash_dup_pairs for the "continuously arriving training documents"
case.

Shape: signatures are a stateless Arrow UDF (identical kernel to batch),
band bucketing is the SAME shared expression as the batch operators
(minhash_band_expr / simhash_band_expr — the twins cannot drift), and
`applyInPandasWithState` keyed on the band bucket keeps the signatures
seen so far in each bucket; every newly arriving doc is scored against
its bucket's history and matching pairs are emitted — across
micro-batches, restarts included (state lives in the checkpoint).

Documented deviations from the batch operators (inherent to append-mode
streaming):

* a pair colliding in SEVERAL bands is emitted once per band — batch
  dedups retroactively with .distinct(); dedup STREAM-SIDE is not
  offered because chaining dropDuplicates (itself stateful) after
  applyInPandasWithState trips the same columnar/UnsafeRow Spark bug as
  the pre-UDF repartition (see streaming_minhash_pairs).  Use
  `write_deduped_pairs` (round 6): a foreachBatch sink that dedups
  within each micro-batch AND against the already-delivered table, so
  the DELIVERED parquet matches batch output exactly — no sink-side
  SELECT DISTINCT needed;
* degenerate buckets: the batch twins DROP an over-limit bucket entirely
  (their grouped pair pass keeps a bucket only if it holds at most
  max_bucket_size rows), while a streaming bucket cannot retract —
  it saturates at `max_bucket_state`: the first `max_bucket_state` docs
  (by doc_id within each micro-batch) are kept and later arrivals are
  ignored, so degenerate buckets are O(cap²) bounded but the two twins
  keep DIFFERENT subsets of a blown bucket.  On non-degenerate corpora
  (no bucket over the cap) pair sets are equal — pinned by test.

State per bucket: ≤ max_bucket_state · (1 + sig_width) longs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StructField, StructType)

_MINHASH_OUT_SCHEMA = StructType([
    StructField("id_a", LongType()),
    StructField("id_b", LongType()),
    StructField("est_jaccard", DoubleType()),
])
_SIMHASH_OUT_SCHEMA = StructType([
    StructField("id_a", LongType()),
    StructField("id_b", LongType()),
    StructField("hamming", IntegerType()),
])
# ids + flattened signatures + saturation flag (shared by both operators)
_STATE_SCHEMA = StructType([
    StructField("ids", ArrayType(LongType())),
    StructField("sigs", ArrayType(LongType())),
    StructField("saturated", IntegerType()),
])


def _make_bucket_state_fn(
    sig_col: str,
    width: int,
    row_of: Callable[[object], np.ndarray],
    hits_of: Callable[[np.ndarray, np.ndarray], tuple[np.ndarray, list]],
    metric_col: str,
    max_bucket_state: int,
):
    """Shared per-bucket state scaffold for both near-dup twins.

    `row_of(sig)` converts one signature value to an int64 row of `width`;
    `hits_of(matrix, row)` scores the new row against the stored matrix
    and returns (matching indices, metric values).  Everything else —
    state restore, cap-sized preallocation, deterministic chunk handling,
    null-id check, within/cross-batch doc dedup, saturation, state
    write-back — lives here ONCE, so a fix applies to both operators."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ids_l, flat, saturated = state.get
            ids = list(ids_l)
        else:
            ids, flat, saturated = [], [], 0
        count = len(ids)
        # a restart may carry MORE restored docs than a lowered cap allows:
        # size the matrix to fit them and mark the bucket saturated instead
        # of crashing the slice assignment
        cap = max(max_bucket_state, count)
        if count >= max_bucket_state:
            saturated = 1
        mat = np.empty((cap, width), dtype=np.int64)
        if count:
            mat[:count] = np.array(flat, dtype=np.int64).reshape(count, width)
        known = set(ids)
        out_a, out_b, out_m = [], [], []
        # a group may span several pandas chunks within one micro-batch:
        # concat ALL of them, then sort by (doc_id, signature) and keep the
        # first row per doc — arrival order, which signature a replayed
        # doc_id retains, and which docs a saturating bucket keeps are all
        # fully deterministic, never Arrow-chunking-dependent (an unstable
        # sort on doc_id alone still left equal-key order chunk-dependent)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (pd.concat(chunks, ignore_index=True)
                     if len(chunks) > 1 else chunks[0])
            tb = whole[sig_col].map(
                lambda s: tuple(s) if hasattr(s, "__len__") else s)
            whole = (whole.assign(__tb=tb)
                     .sort_values(["doc_id", "__tb"], kind="stable")
                     .drop_duplicates("doc_id", keep="first"))
            for doc_id, sig in zip(whole["doc_id"], whole[sig_col]):
                if pd.isna(doc_id):
                    raise ValueError(
                        "null doc_id reached the near-dup state operator — "
                        "a non-numeric id column silently nulls under "
                        "cast('long'); use integer ids")
                doc_id = int(doc_id)
                if saturated or doc_id in known:
                    continue
                row = row_of(sig)
                if count:
                    idx, vals = hits_of(mat[:count], row)
                    for j, v in zip(idx, vals):
                        a, b = sorted((ids[j], doc_id))
                        out_a.append(a)
                        out_b.append(b)
                        out_m.append(v)
                ids.append(doc_id)
                known.add(doc_id)
                mat[count] = row
                count += 1
                if count >= max_bucket_state:
                    saturated = 1
        state.update((ids, [int(v) for v in mat[:count].ravel()],
                      saturated))
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b,
                                metric_col: out_m})

    return fn


def _stateful_pairs(banded: DataFrame, key_cols: list[str], fn,
                    out_schema: StructType) -> DataFrame:
    return banded.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_minhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,      # same default as batch minhash_dedup — the
    shingle_n: int = 3,   # pair-set parity claim requires matched banding
    seed: int = 42,
    digest: str = "fast",
    max_bucket_state: int = 200,
) -> DataFrame:
    """Streaming DataFrame of near-dup pairs (id_a, id_b, est_jaccard)
    with signature agreement ≥ threshold, matched incrementally against
    every previously seen document that shares a band bucket.  A pair
    agreeing in k bands arrives k times — dedup in the sink (see module
    docstring for why not here)."""
    from ifeatureomega_cli_spark.operators.dedup import (
        minhash_band_expr, minhash_signatures)

    # parallelize=False: the round-robin streaming repartition hits a
    # Spark ColumnarBatchRow→UnsafeRow cast inside stateful queries; the
    # (band, bucket) groupBy exchange below spreads the work regardless
    sigs = minhash_signatures(docs, text_col, id_col, n_hashes, shingle_n,
                              seed, digest, parallelize=False)
    banded = sigs.select(
        F.col(id_col).cast("long").alias("doc_id"), "sig",
        minhash_band_expr(bands, n_hashes=n_hashes))

    def row_of(sig):
        return np.asarray(sig, dtype=np.int64)

    def hits_of(matrix, row):
        agree = (matrix == row[None, :]).mean(axis=1)
        idx = np.nonzero(agree >= threshold)[0]
        return idx, [float(agree[j]) for j in idx]

    fn = _make_bucket_state_fn("sig", n_hashes, row_of, hits_of,
                               "est_jaccard", max_bucket_state)
    return _stateful_pairs(banded, ["band", "bucket"], fn,
                           _MINHASH_OUT_SCHEMA)


def streaming_simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
    digest: str = "fast",
    max_bucket_state: int = 200,
) -> DataFrame:
    """Streaming (id_a, id_b, hamming) pairs within Hamming ≤ max_hamming,
    matched incrementally against every previously seen document sharing a
    16-bit band (md5 variant: 15-bit) — the SimHash twin of
    streaming_minhash_pairs, same state/saturation/multi-band-emission
    semantics (batch twin's cap: simhash_dup_pairs max_bucket_size)."""
    from ifeatureomega_cli_spark.operators.dedup import (
        simhash_band_expr, simhash_signatures)

    sigs = simhash_signatures(docs, text_col, id_col, shingle_n, digest,
                              parallelize=False)
    banded = sigs.select(
        F.col(id_col).cast("long").alias("doc_id"), "simhash",
        simhash_band_expr(digest))

    def row_of(sim):
        return np.array([int(sim)], dtype=np.int64)

    def hits_of(matrix, row):
        # fast-digest 64-bit simhashes are stored as signed longs; view,
        # don't convert, to keep the bits; popcount via unpackbits
        x = matrix[:, 0].view(np.uint64) ^ row.view(np.uint64)[0]
        ham = np.unpackbits(
            x.view(np.uint8).reshape(len(matrix), 8), axis=1).sum(axis=1)
        idx = np.nonzero(ham <= max_hamming)[0]
        return idx, [int(ham[j]) for j in idx]

    fn = _make_bucket_state_fn("simhash", 1, row_of, hits_of,
                               "hamming", max_bucket_state)
    return _stateful_pairs(banded, ["band", "key"], fn, _SIMHASH_OUT_SCHEMA)


def foreach_batch_dedup_sink(out_dir: str,
                             key_cols: tuple[str, ...] = ("id_a", "id_b")):
    """A foreachBatch function that appends only NEVER-DELIVERED pairs to
    `out_dir` (parquet): dedups within the micro-batch, then anti-joins
    against the already-delivered table.  This makes the delivered table
    match the batch operators byte-for-byte (one row per pair, no
    per-band duplicates) and makes replayed micro-batches after a restart
    idempotent at pair granularity — the at-least-once replay appends
    nothing the table already holds.

    The metric column (est_jaccard / hamming) is a deterministic function
    of the pair's signatures, so every per-band duplicate carries the
    identical value and dropDuplicates on the key columns loses nothing.

    The anti join reads back only the key columns of the delivered table
    (column-pruned parquet scan, 2 longs/row); the growing side is the
    DELIVERED corpus — it stays the streamed side of the join, never
    broadcast."""
    keys = list(key_cols)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates(keys)
        try:
            delivered = spark.read.parquet(out_dir).select(*keys)
            fresh = fresh.join(delivered, keys, "left_anti")
        except Exception as exc:  # first batch: nothing delivered yet
            if "PATH_NOT_FOUND" not in str(exc) and \
                    "Path does not exist" not in str(exc):
                raise
        fresh.write.mode("append").parquet(out_dir)

    return sink


def write_deduped_pairs(
    pairs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("id_a", "id_b"),
    trigger_available_now: bool = True,
):
    """Start the near-dup pairs stream into a parquet table that contains
    each pair EXACTLY once — the delivered-output twin of the batch
    operators' .distinct().  Returns the StreamingQuery.

    >>> out = streaming_minhash_pairs(stream, threshold=0.8, bands=8)
    >>> q = write_deduped_pairs(out, "/data/pairs", "/data/pairs_ckpt")
    >>> q.awaitTermination()
    """
    writer = (pairs.writeStream
              .foreachBatch(foreach_batch_dedup_sink(out_dir, key_cols))
              .outputMode("append")
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
