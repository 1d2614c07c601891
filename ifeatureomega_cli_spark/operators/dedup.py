"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame pipelines designed for the 100 TB case:

* exact: one hash-shuffle on the digest — the minimum possible work;
* minhash LSH: shingle → minhash signature (one Arrow-vectorized UDF) →
  band buckets → one grouped pass per bucket that emits its in-bucket
  pairs with their signatures and verifies them (no n², no join);
* simhash: 64-bit signature, banded into the same grouped bucket pass;
* n-gram Jaccard: exact, over one persisted table of per-doc distinct
  shingle-hash arrays; a size dispatch picks a broadcast inverted-index
  kernel (bounded corpora — no pair exchange at all) or a shingle-keyed
  groupBy + vectorized pair expansion (only docs sharing ≥1 shingle ever
  meet), and both return the same pairs;
* embedding cosine: random-hyperplane LSH buckets through the same
  grouped bucket pass, cosine verified in-bucket.

Every candidate-pair generator keys its shuffle on the bucket id, so skewed
buckets (stop-shingle floods) are capped via `max_bucket_size`.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

_MERSENNE = (1 << 61) - 1

# broadcast-twin dispatch caps for ngram_jaccard_pairs: corpora at or
# under BOTH bounds take the broadcast-inverted-index kernel (the whole
# index is tens of MB); anything larger takes the shingle-keyed
# distributed instance plan.  Module-level so tests can force either path.
_NGRAM_BCAST_MAX_DOCS = 200_000
_NGRAM_BCAST_MAX_INST = 8_000_000

# minhash bucket cap: a (band, bucket) group with more rows is a
# stop-shingle flood and is dropped (the DuckDB oracles' HAVING COUNT(*))
_MINHASH_MAX_BUCKET = 200

# multiply-xor mixing constants (splitmix64 / xxhash finalizer family) for
# combining per-word hashes into position-sensitive shingle hashes
_MIX = [np.uint64(c) for c in
        (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
         0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53, 0x2545F4914F6CDD1D,
         0x9E3779B185EBCA87, 0x27D4EB2F165667C5)]


def _word_hash_shingles(texts: pa.Array, shingle_n: int):
    """Vectorized per-doc DISTINCT shingle hashes from an Arrow string batch.

    Replaces the per-doc Python loop (lower/split/join/set) with columnar
    ops: one utf8 lower+trim+split over the whole batch, dictionary-encode
    the flat word column so only the batch's UNIQUE words are hashed as
    Python objects (pd.util.hash_array, fixed key — deterministic across
    workers), then combine each run of `shingle_n` word hashes with a
    multiply-xor chain and set-dedup per row with one lexsort.  Matches
    `_py_shingles` word segmentation exactly for any input: utf8_trim +
    split_whitespace collapses runs and drops end empties like str.split(),
    and zero-length words (only possible for all-whitespace docs) are
    dropped.

    Returns (flat uint64 shingle hashes, int64 per-row counts)."""
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n = len(texts)
    texts = texts.fill_null("")
    words = pc.utf8_split_whitespace(pc.utf8_trim_whitespace(
        pc.utf8_lower(texts)))
    woff = words.offsets.to_numpy()
    wc = np.diff(woff).astype(np.int64)
    wvals = words.values
    lo, hi = woff[0], woff[-1]
    if hi > lo:
        wvals = wvals.slice(lo, hi - lo)
    denc = pc.dictionary_encode(wvals)
    idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = np.asarray(denc.dictionary.to_pylist(), dtype=object)
    hw_u = pd.util.hash_array(uniq) if len(uniq) else np.empty(0, np.uint64)
    # drop zero-length words (all-whitespace doc → [''], str.split() → [])
    empty_ids = np.nonzero([len(u) == 0 for u in uniq])[0]
    if len(empty_ids):
        keep = ~np.isin(idx, empty_ids)
        rid_w = np.repeat(np.arange(n), wc)[keep]
        idx = idx[keep]
        wc = np.bincount(rid_w, minlength=n).astype(np.int64)
    wh = hw_u[idx] if len(idx) else np.empty(0, np.uint64)
    W = len(wh)
    starts = np.concatenate(([0], np.cumsum(wc)))[:-1]
    pos = np.arange(W) - np.repeat(starts, wc)
    valid = pos + shingle_n <= np.repeat(wc, wc)
    sidx = np.nonzero(valid)[0]
    if len(sidx) == 0:
        return np.empty(0, np.uint64), np.zeros(n, np.int64)
    x = wh[sidx] * _MIX[0]
    for j in range(1, shingle_n):
        x = (x ^ wh[sidx + j]) * _MIX[j % len(_MIX)]
    x ^= x >> np.uint64(29)
    x *= _MIX[3]
    x ^= x >> np.uint64(32)
    rid_s = np.repeat(np.arange(n), np.maximum(wc - shingle_n + 1, 0))
    order = np.lexsort((x, rid_s))
    xs, rs = x[order], rid_s[order]
    first = np.empty(len(xs), dtype=bool)
    first[0] = True
    first[1:] = (rs[1:] != rs[:-1]) | (xs[1:] != xs[:-1])
    return xs[first], np.bincount(rs[first], minlength=n).astype(np.int64)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """One row per distinct content: (digest, keeper id, dup count).

    Single shuffle keyed on the digest; map-side partial agg applies."""
    key = F.lower(F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9 ]", "")) if normalize \
        else F.col(text_col)
    return (
        df.select(F.md5(key).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def duplicate_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Rows that would be dropped by exact dedup (id != keeper)."""
    groups = exact_dedup(df, text_col, id_col, normalize)
    key = F.lower(F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9 ]", "")) if normalize \
        else F.col(text_col)
    with_digest = df.select(F.col(id_col), F.md5(key).alias("digest"))
    return (
        with_digest.join(groups, "digest")
        .filter(F.col(id_col) != F.col("keeper_id"))
        .select(id_col, "keeper_id")
    )


def _py_shingles(text: str, n: int) -> set[str]:
    """Word n-gram shingle set, used in the Arrow UDFs (~1µs/shingle in
    Python vs ~20µs for an interpreted JVM higher-order lambda chain)."""
    words = text.lower().split()
    return {" ".join(words[i: i + n]) for i in range(len(words) - n + 1)}


def _parallelize(df: DataFrame) -> DataFrame:
    """Small dimension tables often arrive as ONE parquet file/partition;
    spread the rows so the signature UDFs use every core.  A big corpus
    (partitions ≥ defaultParallelism) passes through untouched — no
    gratuitous shuffle.  Streaming DataFrames can't expose a partition
    count (`.rdd` raises on them), so they repartition unconditionally:
    micro-batches are the exact single-source-partition case this guards."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming or df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shuffle_width(spark) -> int:
    """The session's `spark.sql.shuffle.partitions` as a partition count.
    A non-numeric value such as "auto" (some Spark distributions let AQE
    choose the count) falls back to the default parallelism."""
    value = spark.conf.get("spark.sql.shuffle.partitions")
    return int(value) if value.isdigit() else spark.sparkContext.defaultParallelism


# the 31-bit Mersenne prime used by the md5-portable minhash variant:
# products a*h stay < 2^62, exact in int64 on BOTH engines (numpy and
# DuckDB BIGINT), so a SQL oracle can recompute signatures value-for-value
_P31 = (1 << 31) - 1


def _check_digest(digest: str) -> None:
    if digest not in ("fast", "md5"):
        raise ValueError(
            f"unknown digest {digest!r}; 'fast' (pd.util.hash_array perf "
            "path) or 'md5' (SQL-oracle-portable)")


def _check_bands(n_hashes: int, bands: int) -> None:
    """Banding silently TRUNCATES trailing signature positions when the
    signature width is not divisible by `bands` (floor(width/bands) rows
    per band) — a quiet LSH-recall loss.  Refuse the combination instead;
    callers that genuinely want truncation can re-slice the signature."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes={n_hashes} is not divisible by bands={bands}: "
            "banding would silently drop the trailing "
            f"{n_hashes % bands} signature positions and weaken LSH "
            "recall; pick bands dividing the signature width")


def release_caches(result: DataFrame) -> None:
    """Unpersist what a dedup operator cached for its result.

    ngram_jaccard_pairs persists its per-doc shingle table and, on its
    broadcast plan, also holds the broadcast inverted index.  Its result
    still reads these when it runs (the operator runs some jobs eagerly at
    call time, but its pairs are computed lazily), so the operator cannot
    release them — the caller owns their lifetime: materialize the result,
    then call release_caches(result).  Skipping this leaks storage (caches
    are LRU-evictable, MEMORY_AND_DISK), not correctness.  The other dedup
    results hold nothing, so the call is a no-op on them; callers that
    take any dedup result can call it unconditionally."""
    for cached in getattr(result, "_dedup_caches", ()):
        cached.unpersist()


def minhash_params(n_hashes: int = 64, seed: int = 42,
                   digest: str = "fast") -> tuple[np.ndarray, np.ndarray]:
    """The seeded (a, b) universal-hash multipliers — exposed so the SQL
    oracle can embed the identical constants."""
    _check_digest(digest)
    p = _P31 if digest == "md5" else _MERSENNE
    rng = np.random.RandomState(seed)
    # explicit int64: the platform-default int would reject high=2^61 on
    # 32-bit-int_ platforms; stream is identical where both work
    a = rng.randint(1, p, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, p, size=n_hashes, dtype=np.int64)
    return a, b


def _md5_lower64(shingles: list[str]) -> np.ndarray:
    """uint64 from bytes 8..16 (little-endian) of md5 — EXACTLY DuckDB's
    md5_number_lower, the portability contract of the md5 digest variants."""
    return np.array(
        [int.from_bytes(hashlib.md5(s.encode()).digest()[8:], "little")
         for s in shingles], dtype=np.uint64)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    digest: str = "fast",
    parallelize: bool = True,
) -> DataFrame:
    """(id, sig array<long>) — universal-hash minhash over word shingles.

    parallelize=False skips the small-input/streaming repartition — needed
    when a STATEFUL streaming operator follows (Spark's round-robin
    repartition of a columnar scan inside a stateful query throws
    ColumnarBatchRow→UnsafeRow; streaming/neardedup_stream.py sets this,
    its own groupBy exchange spreads the work anyway).

    One Arrow batch computes signatures for ~2048 docs at once; shingling
    happens inside the UDF (Python string ops beat interpreted JVM lambda
    chains by ~20× here).

    digest="fast" (default): fully vectorized shingle hashing (round 9 —
    the `_word_hash_shingles` word-dictionary hash+mix front-end shared
    with ngram_jaccard_pairs; only each batch's unique words become Python
    objects) through an Arrow-native UDF with zero-copy signature output.
    The hash function differs from round 8's shingle-string
    pd.util.hash_array (both are deterministic 64-bit maps; minhash
    semantics depend only on hash agreement between equal shingle sets).
    digest="md5": md5_number_lower-compatible hashing mod the 31-bit
    Mersenne prime — slower but recomputable in ANSI-ish SQL value-for-
    value (the DuckDB oracle derives the identical signatures), so that
    path keeps the exact per-shingle-string md5 loop."""
    _check_digest(digest)
    p = _P31 if digest == "md5" else _MERSENNE
    a, b = minhash_params(n_hashes, seed, digest)

    if digest == "md5":
        @pandas_udf(ArrayType(LongType()))
        def _sig(texts: pd.Series) -> pd.Series:
            all_sh: list[str] = []
            counts = np.zeros(len(texts), dtype=np.int64)
            for i, t in enumerate(texts):
                sh = _py_shingles(t or "", shingle_n)
                counts[i] = len(sh)
                all_sh.extend(sh)
            if not all_sh:
                return pd.Series([[p] * n_hashes] * len(texts))
            base = (_md5_lower64(all_sh) % np.uint64(p)).astype(np.int64)
            sigm = (a[None, :] * base[:, None] + b[None, :]) % p
            offsets = np.concatenate(([0], np.cumsum(counts)))
            out = np.full((len(texts), n_hashes), p, dtype=np.int64)
            nz = counts > 0
            red = np.minimum.reduceat(sigm, offsets[:-1][nz], axis=0)
            # reduceat with repeated indices needs the nz filter above
            out[nz] = red[: nz.sum()] if red.shape[0] == nz.sum() else red
            return pd.Series(list(out))
    else:
        from pyspark.sql.functions import arrow_udf

        @arrow_udf(ArrayType(LongType()))
        def _sig(texts: pa.Array) -> pa.Array:
            flat, counts = _word_hash_shingles(texts, shingle_n)
            n = len(counts)
            out = np.full((n, n_hashes), p, dtype=np.int64)
            if len(flat):
                base = (flat.view(np.int64)
                        & 0x7FFFFFFFFFFFFFFF) % _MERSENNE
                sigm = (a[None, :] * base[:, None] + b[None, :]) % p
                offsets = np.concatenate(([0], np.cumsum(counts)))
                nz = counts > 0
                red = np.minimum.reduceat(sigm, offsets[:-1][nz], axis=0)
                out[nz] = red[: nz.sum()] if red.shape[0] == nz.sum() else red
            loff = pa.array(np.arange(n + 1, dtype=np.int32) * n_hashes)
            return pa.ListArray.from_arrays(loff, pa.array(out.ravel()))

    base = _parallelize(df) if parallelize else df
    return base.select(F.col(id_col), _sig(F.col(text_col)).alias("sig"))


def minhash_band_expr(bands: int, n_hashes: int | None = None):
    """(band, bucket) posexplode over a `sig` column: slice the signature
    into `bands` pieces, xxhash64 each to a bucket key.  Shared by the
    batch candidate generator and the streaming twin
    (streaming/neardedup_stream.py) so their banding can never drift.

    Pass `n_hashes` (the signature width) when known: a width not
    divisible by `bands` is rejected up front — the slice expression would
    otherwise silently drop the trailing positions (see _check_bands).
    Width-less call sites (`minhash_lsh_candidates` on a pre-built sigs
    table) can't validate here; the entry points that build signatures
    (minhash_dedup, streaming_minhash_pairs) always validate."""
    if n_hashes is not None:
        _check_bands(n_hashes, bands)
    return F.posexplode(
        F.transform(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.slice(
                    F.col("sig"),
                    bnd * (F.size(F.col("sig")) / bands).cast("int") + 1,
                    (F.size(F.col("sig")) / bands).cast("int"),
                ),
            ),
            lambda arr: F.xxhash64(
                F.concat_ws(",", F.transform(arr, lambda v: v.cast("string")))),
        )
    ).alias("band", "bucket")


def _bucket_pairs(
    rows: DataFrame, id_col: str, keys: list[str], sig_col: str,
    max_bucket_size: int, score=None,
) -> DataFrame:
    """(id_a, id_b[, score]) once for every pair of rows sharing a bucket.

    One grouped pass on one `keys`-hashed shuffle: a windowed row count
    drops the rows of buckets holding one row or over `max_bucket_size`
    rows (stop-shingle floods, degenerate vectors) before anything is
    collected, so no oversized bucket is built as one array; each kept
    bucket collects its (id, sig) rows, and the JVM emits every pair in it
    once (posexplode + slice), ordered id_a < id_b, equal or null ids
    dropped.  `score(sig_a, sig_b)` returns an aliased Column.

    A pair sharing several buckets is emitted by each, so the final dedupe
    stays: "emit only at the first shared bucket" is not exact, because
    that bucket can be an oversized, dropped one.  The dedupe keys on the
    ids alone, so the score is an aggregate value: a caller's filter on it
    stays above the dedupe instead of being pushed below and evaluating a
    Python-UDF score twice."""
    rec = F.struct(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    n, size = F.size("m"), F.count(F.lit(1)).over(Window.partitionBy(*keys))
    groups = (rows.withColumn("_n", size)
              .where(F.col("_n").between(2, max_bucket_size))
              .groupBy(*keys).agg(F.collect_list(rec).alias("m")))
    x, y = F.col("x"), F.col("y")
    x_lo = x["id"] < y["id"]
    pairs = (groups.select("m", F.posexplode("m").alias("i", "x"))
             .select("x", F.explode(F.slice("m", F.col("i") + 2, n)).alias("y"))
             .select(F.when(x_lo, x).otherwise(y).alias("a"),
                     F.when(x_lo, y).otherwise(x).alias("b"))
             .where(F.col("a.id") < F.col("b.id")))
    out = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    if score is not None:
        out.append(score(F.col("a.sig"), F.col("b.sig")))
    return pairs.select(*out).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket_size: int = _MINHASH_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs (id_a, id_b) from banded minhash signatures: the
    pairs minhash_dedup verifies.  (band, bucket) groups over
    `max_bucket_size` rows are dropped (stop-shingle floods)."""
    rows = sigs.select(id_col, "sig", minhash_band_expr(bands))
    return _bucket_pairs(rows, id_col, ["band", "bucket"], "sig",
                         max_bucket_size)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    digest: str = "fast",
) -> DataFrame:
    """Near-dup pairs with estimated Jaccard ≥ threshold.

    sig agreement fraction estimates Jaccard; verification stays on the
    signatures (cheap) — swap in ngram_jaccard_pairs for exact verify.
    Candidates are minhash_lsh_candidates' pairs; each bucket row carries
    its signature, so the verify needs no join back.

    The agreement count stays the interpreted F.zip_with/F.filter
    expression DELIBERATELY (round-6 A/B, BENCH/BASELINE.md §verify-ab):
    at 1M candidate pairs the JVM-side equality-count runs ~1.7× FASTER
    than an Arrow pandas UDF over the (sig_a, sig_b) arrays —
    integer equality over 64 elements is cheap enough that the UDF's
    Arrow transfer of two 512 B arrays per pair dominates.  The
    embedding twin's opposite finding (~100× for _pair_cos,
    dedup.py) is about F.aggregate float multiply-accumulate chains,
    a much heavier per-element expression class."""
    _check_bands(n_hashes, bands)
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n,
                              seed, digest)

    def agreement(a, b):
        same = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
        return (F.size(same) / F.size(a)).alias("est_jaccard")

    rows = sigs.select(id_col, "sig", minhash_band_expr(bands))
    return _bucket_pairs(rows, id_col, ["band", "bucket"], "sig",
                         _MINHASH_MAX_BUCKET, agreement
                         ).where(F.col("est_jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 200,
    _shingle_counter=None,
) -> DataFrame:
    """Exact word-shingle Jaccard for all pairs sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold, where |A∪B| = |A|+|B|−|A∩B|.  Shingles in more than
    `max_shingle_freq` docs are dropped as stop-shingles, so |A| counts
    SURVIVING shingles (keeps jaccard ≤ 1; the documented oracle
    semantics).  Shingles are 64-bit hashes; a collision would merge two
    shingles (results stay deterministic for a fixed corpus).

    One shingling pass fills a persisted per-doc (id, shingle array)
    table, and a stats aggregate over it picks one of two counting plans
    that return the same pairs: the broadcast inverted index
    (_ngram_jaccard_broadcast) for corpora within both `_NGRAM_BCAST_*`
    caps, else the distributed instance plan (_ngram_jaccard_instances).
    Integral ids are the counting keys.  Any other id type gets a
    collision-free long key in the persisted table, and both ends of each
    pair are joined back to the original ids and ordered by them.

    The call runs Spark jobs eagerly: the persist with its stats
    aggregate, then the broadcast plan's `toArrow` collect or the
    distributed plan's min-size aggregate.  The persisted table and the
    broadcast live until release_caches(result).  Streaming input raises
    ValueError."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import IntegralType, LongType as _Long
    from pyspark.storagelevel import StorageLevel

    if df.isStreaming:
        raise ValueError(
            "ngram_jaccard_pairs needs a bounded DataFrame (it persists and "
            "collects its shingle table); for a stream use "
            "streaming.neardedup_stream.streaming_minhash_pairs, or call "
            "ngram_jaccard_pairs on each micro-batch inside foreachBatch")

    @arrow_udf(ArrayType(_Long()))
    def _sh(texts: pa.Array) -> pa.Array:
        if _shingle_counter is not None:  # test hook: pins 1× execution
            _shingle_counter.add(len(texts))
        flat, counts = _word_hash_shingles(texts, shingle_n)
        offsets = pa.array(np.concatenate(
            ([0], np.cumsum(counts))).astype(np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(flat.astype(np.int64)))

    id_type = df.schema[id_col].dataType
    integral = isinstance(id_type, IntegralType)
    # monotonically_increasing_id is fixed once the table is persisted:
    # every later read (both plans and the join back) comes from the cache
    keys = ([F.col(id_col).alias("__id")] if integral else
            [F.monotonically_increasing_id().alias("__id"),
             F.col(id_col).alias("__orig")])
    # ONE shingling pass into a persisted per-doc array table; every
    # downstream consumer (stats, census, either counting plan) reads the
    # cache — the UDF executes once (VERDICT r8 #2: persist, lineage kept).
    base = _parallelize(df).select(
        *keys, _sh(F.col(text_col)).alias("__sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    stats = base.agg(
        F.count(F.lit(1)).alias("nd"), F.sum(F.size("__sh")).alias("inst"),
        F.min("__id").alias("lo"), F.max("__id").alias("hi")).collect()[0]
    shingles = base.select("__id", "__sh")

    # Dispatch (the knn_features / ivf_topk broadcast-vs-distributed twin
    # pattern): a corpus whose shingle index is broadcast-sized skips the
    # pair-instance exchange entirely — measured floor for shuffling+
    # aggregating the ~127M-row pair stream of the sf1 corpus is ~12 s on
    # local[32] no matter how it is produced, while the whole (id, n_sh,
    # inverted index) bundle is ~45 MB.  Larger corpora take the
    # shingle-keyed instance plan, which never collects or broadcasts
    # anything corpus-sized.
    if ((stats["nd"] or 0) <= _NGRAM_BCAST_MAX_DOCS
            and (stats["inst"] or 0) <= _NGRAM_BCAST_MAX_INST):
        pairs, bc = _ngram_jaccard_broadcast(shingles, max_shingle_freq,
                                             threshold)
        caches = (base, bc)
    else:
        pairs = _ngram_jaccard_instances(shingles, stats, max_shingle_freq,
                                         threshold)
        caches = (base,)

    if integral:
        result = pairs.select(F.col("id_a").cast(id_type),
                              F.col("id_b").cast(id_type), "jaccard")
    else:
        # `<` drops a pair whose two rows carry an equal (or null) id, as
        # the strict id order of both plans does for integral ids
        orig = base.select("__id", "__orig")
        result = (
            pairs.join(orig.toDF("id_a", "o_a"), "id_a")
            .join(orig.toDF("id_b", "o_b"), "id_b")
            .select(F.least("o_a", "o_b").alias("id_a"),
                    F.greatest("o_a", "o_b").alias("id_b"), "jaccard")
            .filter(F.col("id_a") < F.col("id_b")))
    result._dedup_caches = caches
    return result


def _min_intersection(min_n: int, threshold: float) -> int:
    """Smallest intersection a pair can have and still reach `threshold`:
    the smallest k ≥ 1 with k / (2·min_n − k) ≥ threshold in float.  Two
    docs of ≥ min_n shingles sharing k have union ≥ 2·min_n − k, and
    double division is monotone, so no pair under the bound passes the
    final filter.  (A closed-form ceil rounds one too high at e.g. t=0.2,
    min_n=3, dropping jaccard == t pairs.)  min_n = 0 gives 1."""
    k = 1
    while k < min_n and k / (2 * min_n - k) < threshold:
        k += 1
    return k


def _ngram_jaccard_instances(
    shingles: DataFrame,
    stats,
    max_shingle_freq: int,
    threshold: float,
) -> DataFrame:
    """Distributed instance plan for corpora over the broadcast caps.

      per-doc shingle arrays → explode → {stop census (key-only shuffle,
      map-side partial) → broadcast anti join} → ONE heavy shuffle keyed
      on shingle (collect_list) → mapInArrow pair kernel (vectorized
      combination expansion, pairs packed into one int64 when the id
      range allows) → count per pair → broadcast-size jaccard + threshold.

    The Ω(Σ df²) pair-instance stream is inherent to exact co-occurrence
    counting; it flows through one long-keyed aggregation.  Skew stays
    bounded: per-shingle work ≤ C(max_shingle_freq, 2) after the census
    drop, and the kernel slices its output so no single Arrow batch
    exceeds ~4M pairs.  Returns long (id_a, id_b, jaccard)."""
    pack = (stats["lo"] is not None and stats["lo"] >= 0
            and stats["hi"] < (1 << 31))
    # stop-shingle census: shuffles only the key column with map-side
    # partial counts; the OVER-limit set is small by construction
    # (≤ instances / max_shingle_freq) — broadcast anti join
    census = (shingles.select(F.explode("__sh").alias("shingle"))
              .groupBy("shingle").count()
              .filter(F.col("count") > max_shingle_freq))
    sh = shingles.select("__id", F.explode("__sh").alias("shingle"))
    kept = sh.join(F.broadcast(census.select("shingle")), "shingle",
                   "left_anti")
    sizes = kept.groupBy("__id").agg(F.count(F.lit(1)).alias("n_sh"))
    # the grouped table is BYTES-tiny but pair-EXPLODES in the kernel —
    # AQE's coalescing sees only the bytes and would shrink the exchange
    # to one task; an explicit round-robin width (which AQE respects)
    # keeps the expansion parallel.  Width = shuffle.partitions:
    # scale-adaptive via session conf, not a local constant.
    n_part = _shuffle_width(shingles.sparkSession)
    grouped = (kept.groupBy("shingle").agg(F.collect_list("__id").alias("ids"))
               .repartition(n_part))

    max_pairs_per_batch = 4_000_000

    def _pair_gen(batches):
        for b in batches:
            col = b.column(b.schema.get_field_index("ids"))
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            off = col.offsets.to_numpy()
            vals = col.values.to_numpy(zero_copy_only=False)
            flat = np.asarray(vals[off[0]:off[-1]], dtype=np.int64)
            gsz = np.diff(off).astype(np.int64)
            npairs = gsz * (gsz - 1) // 2
            # slice the group list so one output batch stays bounded
            cum = np.cumsum(npairs)
            cut, prev = [0], 0
            for gi in range(len(gsz)):
                if cum[gi] - prev > max_pairs_per_batch:
                    cut.append(gi + 1)
                    prev = cum[gi]
            if cut[-1] != len(gsz):
                cut.append(len(gsz))
            starts_all = np.concatenate(([0], np.cumsum(gsz)))
            for s, e in zip(cut[:-1], cut[1:]):
                sz = gsz[s:e]
                sub = flat[starts_all[s]:starts_all[e]]
                n_sub = len(sz)
                if n_sub == 0 or len(sub) == 0:
                    continue
                gid = np.repeat(np.arange(n_sub), sz)
                order = np.lexsort((sub, gid))
                sub = sub[order]
                W = len(sub)
                gstart = np.concatenate(([0], np.cumsum(sz)))[:-1]
                lp = np.arange(W) - np.repeat(gstart, sz)
                C = int((sz * (sz - 1) // 2).sum())
                if C == 0:
                    continue
                b_vals = np.repeat(sub, lp)
                elem_start = np.arange(W) - lp
                pstarts = np.repeat(elem_start, lp)
                offs = np.arange(C) - np.repeat(np.cumsum(lp) - lp, lp)
                a_vals = sub[pstarts + offs]
                if pack:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array((a_vals << np.int64(32)) | b_vals)],
                        ["p"])
                else:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(a_vals), pa.array(b_vals)],
                        ["id_a", "id_b"])

    # Pre-filter bound (semantics-free, see _min_intersection): pairs
    # under it can never pass the threshold — dropping them BEFORE the
    # size joins shrinks the candidate table (100M+ rows here) to the
    # near-survivor set (guide §8: decide with small rows).  One scalar
    # agg on the cached shingle table; also learns the doc count for the
    # broadcast decision.
    szstats = sizes.agg(F.min("n_sh").alias("mn"),
                        F.count(F.lit(1)).alias("nd")).collect()[0]
    bound = _min_intersection(szstats["mn"] or 0, threshold)
    # size joins: one row per doc — broadcast when bounded (the normal
    # case after the n_inter pre-filter leaves few candidate rows, the
    # joins are cheap either way; broadcast just avoids shuffling them)
    can_bcast = szstats["nd"] <= 8_000_000
    maybe_bcast = F.broadcast if can_bcast else (lambda d: d)

    # count per packed pair: explicit wide keyed repartition, then the
    # groupBy reuses that partitioning (no second exchange).  Width 4× the
    # session shuffle partitions keeps the per-task aggregation hash maps
    # small (the pair stream has almost no duplication — measured dedup
    # ratio ~1.1 on the realistic corpus — so map-side partial aggregation
    # before the exchange would build 100M-entry maps for a ~10% row
    # reduction; the keyed-repartition plan runs the aggregation once,
    # post-shuffle).
    if pack:
        inst = grouped.mapInArrow(_pair_gen, schema="p long")
        inter = (inst.repartition(n_part * 4, "p").groupBy("p")
                 .agg(F.count(F.lit(1)).alias("n_inter"))
                 .filter(F.col("n_inter") >= bound))
        inter = inter.select(
            F.shiftrightunsigned("p", 32).alias("id_a"),
            F.col("p").bitwiseAND(F.lit((1 << 32) - 1)).alias("id_b"),
            "n_inter")
    else:
        inst = grouped.mapInArrow(_pair_gen, schema="id_a long, id_b long")
        inter = (inst.repartition(n_part * 4, "id_a", "id_b")
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("n_inter"))
                 .filter(F.col("n_inter") >= bound))
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(maybe_bcast(sa), "id_a").join(maybe_bcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _ngram_jaccard_broadcast(
    shingles: DataFrame,
    max_shingle_freq: int,
    threshold: float,
):
    """Broadcast-index exact Jaccard plan for bounded corpora.

    The whole (doc ids, surviving sizes, shingle-sorted inverted index)
    bundle is collected once (bounded by the caller's dispatch: ≤ 200k
    docs / ≤ 8M shingle instances, tens of MB) and broadcast; one
    mapInArrow pass over the persisted per-doc array table then counts
    every intersection IN-KERNEL — expansion, sort-unique, size lookup,
    threshold — and emits only final survivor rows.  No pair-instance
    exchange exists in the plan at all (the stop-shingle census is also
    derived driver-side from the collected arrays — no census shuffle);
    each unordered pair is emitted by exactly one side (id_a < id_b).
    Mirrors knn_features' broadcast kernel (and its ≤-cap dispatch to the
    distributed twin).  Returns long (id_a, id_b, jaccard) and the
    Broadcast, which the caller registers for release_caches."""
    tab = shingles.toArrow().combine_chunks()
    ids_all = tab.column("__id").to_numpy(zero_copy_only=False).astype(np.int64)
    shc = tab.column("__sh")
    if isinstance(shc, pa.ChunkedArray):
        shc = shc.combine_chunks()
    off = shc.offsets.to_numpy()
    flat = np.asarray(shc.values.to_numpy(zero_copy_only=False)
                      [off[0]:off[-1]], dtype=np.int64)
    lens = np.diff(off).astype(np.int64)
    n_corpus = len(ids_all)
    rid = np.repeat(np.arange(n_corpus), lens)
    order = np.argsort(flat, kind="stable")
    fs, docidx = flat[order], rid[order]
    uh, ucnt = np.unique(fs, return_counts=True)
    # per-doc arrays are distinct sets, so each instance is one document:
    # ucnt IS the doc frequency — the stop census needs no Spark job here
    stopmask = ucnt > max_shingle_freq
    if stopmask.any():
        docidx = docidx[np.repeat(~stopmask, ucnt)]
        uh, ucnt = uh[~stopmask], ucnt[~stopmask]
    ustart = np.concatenate(([0], np.cumsum(ucnt)))[:-1]
    nsh_all = np.bincount(docidx, minlength=n_corpus).astype(np.int64)
    bc = shingles.sparkSession.sparkContext.broadcast(
        (ids_all, nsh_all, uh, ustart.astype(np.int64),
         ucnt.astype(np.int64), docidx))
    thr = float(threshold)

    def _scan(batches):
        # Per-ROW counting loop: each doc gathers its shingles' corpus
        # posting runs (~n_sh·df values, cache-resident), sorts, and
        # run-length-encodes — measured 21× faster on this host than one
        # giant batch-level expansion + np.unique, whose multi-hundred-MB
        # temporaries are page-fault/bandwidth-bound.  Memory per row is
        # O(n_sh · max_shingle_freq).
        ids_b, nsh_b, uh_b, ustart_b, ucnt_b, docidx_b = bc.value
        for b in batches:
            shcol = b.column(b.schema.get_field_index("__sh"))
            if isinstance(shcol, pa.ChunkedArray):
                shcol = shcol.combine_chunks()
            idb = np.asarray(
                b.column(b.schema.get_field_index("__id")).to_numpy(
                    zero_copy_only=False), dtype=np.int64)
            o = shcol.offsets.to_numpy()
            fl = np.asarray(shcol.values.to_numpy(zero_copy_only=False)
                            [o[0]:o[-1]], dtype=np.int64)
            ln = np.diff(o).astype(np.int64)
            nrow = len(idb)
            rr = np.repeat(np.arange(nrow), ln)
            if len(uh_b) == 0 or len(fl) == 0:
                continue
            # uh_b holds no stop shingle and every shingle of the batch
            # comes from the table the index was built from, so this
            # membership mask also drops the stop shingles
            p = np.searchsorted(uh_b, fl)
            ok = (p < len(uh_b)) & (uh_b[np.minimum(p, len(uh_b) - 1)] == fl)
            fl, rr, p = fl[ok], rr[ok], p[ok]
            ln = np.bincount(rr, minlength=nrow).astype(np.int64)
            cnt_l = ucnt_b[p].tolist()
            sta_l = ustart_b[p].tolist()
            row_off = np.concatenate(([0], np.cumsum(ln)))
            out_a, out_b, out_j = [], [], []
            for r in range(nrow):
                s0, s1 = row_off[r], row_off[r + 1]
                if s0 == s1:
                    continue
                bv = np.concatenate(
                    [docidx_b[s:s + c]
                     for s, c in zip(sta_l[s0:s1], cnt_l[s0:s1])])
                bv.sort()
                change = np.empty(len(bv), dtype=bool)
                change[0] = True
                np.not_equal(bv[1:], bv[:-1], out=change[1:])
                starts = np.flatnonzero(change)
                bu = bv[starts]
                cc = np.diff(np.append(starts, len(bv)))
                na = s1 - s0
                j = cc / (na + nsh_b[bu] - cc)
                m = (idb[r] < ids_b[bu]) & (j >= thr)
                if m.any():
                    out_a.append(np.full(int(m.sum()), idb[r],
                                         dtype=np.int64))
                    out_b.append(ids_b[bu[m]])
                    out_j.append(j[m])
            if out_a:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(out_a)),
                     pa.array(np.concatenate(out_b)),
                     pa.array(np.concatenate(out_j))],
                    ["id_a", "id_b", "jaccard"])

    return shingles.mapInArrow(
        _scan, schema="id_a long, id_b long, jaccard double"), bc


def simhash_band_expr(digest: str = "fast"):
    """(band, key) posexplode over a `simhash` column: 4 bands of 16 bits
    (md5 variant: 15) — shared by the batch pair generator and the
    streaming twin so their banding cannot drift."""
    band_bits = 15 if digest == "md5" else 16
    mask = (1 << band_bits) - 1
    return F.posexplode(F.array(*[
        F.shiftrightunsigned(F.col("simhash"), band_bits * i)
        .bitwiseAND(F.lit(mask))
        for i in range(4)
    ])).alias("band", "key")


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 2, digest: str = "fast", parallelize: bool = True,
) -> DataFrame:
    """SimHash over word shingles (weighted bit-vote), one UDF pass.

    digest="fast" (default): 64-bit, round 9: vectorized word-dict
    hash+mix shingles (`_word_hash_shingles`) + np.unpackbits bit voting
    through an Arrow-native UDF — the hash differs from round 8's
    shingle-string pd.util.hash_array (both deterministic; simhash
    semantics depend only on hash agreement between equal shingle sets,
    and any fixed 4-way band split preserves the ≤3-Hamming guarantee).
    digest="md5": 60-bit (md5_number_lower >> 4 — the top bits would
    overflow a signed BIGINT when packed, and 60 divides evenly into
    4 × 15-bit bands) so a SQL oracle recomputes the signature
    value-for-value — that path keeps the exact per-string md5 loop."""
    _check_digest(digest)
    n_bits = 60 if digest == "md5" else 64

    if digest == "md5":
        @pandas_udf(LongType())
        def _sim(texts: pd.Series) -> pd.Series:
            all_sh: list[str] = []
            counts = np.zeros(len(texts), dtype=np.int64)
            for i, t in enumerate(texts):
                sh = _py_shingles(t or "", shingle_n)
                counts[i] = len(sh)
                all_sh.extend(sh)
            out = np.zeros(len(texts), dtype=np.int64)
            if not all_sh:
                return pd.Series(out)
            hs = (_md5_lower64(all_sh) >> np.uint64(4)).astype(np.int64)
            bits = ((hs[:, None] >> np.arange(n_bits)[None, :]) & 1) * 2 - 1
            offsets = np.concatenate(([0], np.cumsum(counts)))
            nz = counts > 0
            votes = np.add.reduceat(bits, offsets[:-1][nz], axis=0)
            packed = ((votes > 0).astype(np.uint64)
                      << np.arange(n_bits, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64).astype(np.int64)
            out[nz] = packed
            return pd.Series(out)
    else:
        from pyspark.sql.functions import arrow_udf

        @arrow_udf(LongType())
        def _sim(texts: pa.Array) -> pa.Array:
            flat, counts = _word_hash_shingles(texts, shingle_n)
            n = len(counts)
            out = np.zeros(n, dtype=np.int64)
            if len(flat):
                # bit k of each hash, LSB-first (unpackbits over the
                # little-endian byte view == (h >> k) & 1)
                bits = np.unpackbits(
                    flat.view(np.uint8).reshape(-1, 8), axis=1,
                    bitorder="little").astype(np.int32)
                offsets = np.concatenate(([0], np.cumsum(counts)))
                nz = counts > 0
                ones = np.add.reduceat(bits, offsets[:-1][nz], axis=0)
                ones = ones[: int(nz.sum())] if ones.shape[0] != int(
                    nz.sum()) else ones
                scnt = counts[nz][:, None]
                packed = (((2 * ones > scnt)).astype(np.uint64)
                          << np.arange(64, dtype=np.uint64)[None, :]).sum(
                    axis=1, dtype=np.uint64).astype(np.int64)
                out[nz] = packed
            return pa.array(out)

    base = _parallelize(df) if parallelize else df
    return base.select(F.col(id_col), _sim(F.col(text_col)).alias("simhash"))


def simhash_dup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, shingle_n: int = 2, digest: str = "fast",
    max_bucket_size: int = 200,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4 × 16-bit keys
    (md5 variant: 60 bits into 4 × 15-bit keys) — any pair within
    Hamming ≤ 3 shares at least one exact band — then verify Hamming
    distance in-bucket.

    Same skew guard as the minhash twin (round 5): a (band, key) group
    over `max_bucket_size` rows is dropped before it is collected —
    thousands of empty/boilerplate docs share simhash 0 and would otherwise
    emit O(bucket²) pairs on one hot key."""
    _check_digest(digest)
    sigs = simhash_signatures(df, text_col, id_col, shingle_n, digest)
    rows = sigs.select(id_col, "simhash", simhash_band_expr(digest))
    return _bucket_pairs(
        rows, id_col, ["band", "key"], "simhash", max_bucket_size,
        lambda a, b: F.bit_count(a.bitwiseXOR(b)).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def _component_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label-propagation + pointer-doubling round (the loop body
    of dedup_components, exposed so tests can pin its PLAN: equi-joins
    only — no cartesian/nested-loop — and the only broadcastable side is
    the 1-row fixpoint aggregate outside this function)."""
    nbr = (edges.join(labels.select(F.col("id").alias("dst"),
                                    F.col("component").alias("dst_comp")),
                      "dst")
           .groupBy("src").agg(F.min("dst_comp").alias("nbr_comp")))
    stepped = (labels.join(nbr, labels["id"] == nbr["src"], "left")
               .select(labels["id"],
                       F.least("component", "nbr_comp")
                       .alias("component")))
    # pointer doubling: follow the label one hop through itself
    hop = labels.select(F.col("id").alias("cid"),
                        F.col("component").alias("ccomp"))
    return (stepped.join(hop, stepped["component"] == hop["cid"], "left")
            .select(stepped["id"],
                    F.least("component", "ccomp").alias("component")))


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into connected components: (id, component)
    where component = the minimum doc id reachable through the pair graph —
    the canonical keeper.  This is the step every production dedup needs
    AFTER minhash/simhash/embedding candidate generation: near-dup is not
    transitive, but dropping policy usually is (keep one doc per component).

    Distributed min-label propagation with pointer doubling (the classic
    log-diameter hash-join loop): labels start at least(id, min neighbor);
    each round takes the min over neighbors' labels AND shortcuts through
    the current label's own label (label[x] ← min(label[x],
    label[label[x]])), so even a pure path graph converges in O(log
    diameter) rounds, not O(diameter).  All work is equi-joins + groupBy
    on the id — no collect, no driver-side graph.  Near-dup components
    are near-cliques, so 2-3 rounds typical; the convergence test is
    free: labels are elementwise monotone non-increasing, so the label
    SUM is strictly decreasing until fixpoint — one scalar agg per round
    instead of a change-count join."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (e.unionByName(e.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
             .distinct())
    labels = (edges.groupBy("src")
              .agg(F.min("dst").alias("nbr_min"))
              .select(F.col("src").alias("id"),
                      F.least("src", "nbr_min").alias("component")))
    labels = labels.localCheckpoint(eager=True)  # cut lineage per round
    prev_sum = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    for rounds in range(1, max_iterations + 1):
        new_labels = _component_round(edges, labels).localCheckpoint(
            eager=True)
        cur_sum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        if cur_sum == prev_sum:
            labels._component_rounds = rounds  # bench/telemetry handle
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"dedup_components did not converge in {max_iterations} rounds — "
        "component diameter exceeds the guard; raise max_iterations")


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every non-keeper: rows of `df` whose id is in a near-dup
    component but is not its minimum.  One components pass + one left-anti
    equi-join; docs in no pair pass through untouched."""
    comps = dedup_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH candidate pairs → connected
    components → drop every doc that is not its component's minimum id.
    The composition a training-data pipeline actually runs; each stage is
    the scale-safe operator documented above (banded buckets with the
    stop-bucket cap, then the join-only component loop)."""
    pairs = minhash_dedup(df, text_col, id_col, threshold, **minhash_kwargs)
    return resolve_duplicates(df, pairs, id_col)


def embedding_dup_pairs_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_size: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """ALL pairs with cosine ≥ threshold — exact, fully distributed.

    Blocked matrix product with NO driver collect and NO corpus broadcast:
    the corpus is hash-grouped twice — into "chunk" groups and "block"
    groups of ~block_size rows each (collect_list packs a group into one
    bounded struct array ≈ block_size·d·8 B) — and the chunk×block cross
    join gives every group pair its own task, where one float64 numpy
    matmul scores the (chunk, block) tile of the similarity matrix.

    Memory per task is O(block_size·d); total shuffle is O(n²·d/block_size)
    — the tiling classic.  Each unordered pair (a<b) is emitted exactly
    once: by the tile whose chunk holds a and whose block holds b.
    O(n²) WORK is inherent to exact all-pairs — this is the oracle-able
    exact baseline; use embedding_dup_pairs (LSH) when n² is unaffordable.
    """
    import math

    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    n = n_rows if n_rows is not None else base.count()
    nb = max(1, math.ceil(n / block_size))
    packed = F.collect_list(F.struct(F.col("__id"), F.col("__v")))
    # two independent hash groupings so the tiling is balanced even when
    # ids are clustered; seeds differ to decorrelate chunk and block sides
    chunks = (base.groupBy(F.pmod(F.xxhash64("__id", F.lit(1)), F.lit(nb))
                   .alias("__chk")).agg(packed.alias("__crows")))
    blocks = (base.groupBy(F.pmod(F.xxhash64("__id", F.lit(2)), F.lit(nb))
                   .alias("__blk")).agg(packed.alias("__brows")))

    def _unpack(col, i):
        """Tile side i of an Arrow ListArray of struct<__id, __v> →
        (ids int64[k], matrix float64[k, d]) with NO per-row Python: the
        nested list buffers are re-sliced directly (guide §4.2)."""
        rows = col[i].values  # ListScalar → StructArray of this tile side
        ids = np.asarray(rows.field("__id").to_numpy(zero_copy_only=False),
                         dtype=np.int64)
        vecs = rows.field("__v")
        voff = vecs.offsets.to_numpy()
        flat = np.asarray(vecs.values.to_numpy(zero_copy_only=False)
                          [voff[0]:voff[-1]], dtype=np.float64)
        lens = np.diff(voff)
        if len(lens) == 0:
            return ids, np.zeros((0, 0))
        d = lens[0]
        if not (lens == d).all():
            raise ValueError("embedding_dup_pairs_exact: ragged vectors")
        return ids, flat.reshape(len(lens), int(d))

    def gen(batches):
        for b in batches:
            ccol = b.column(b.schema.get_field_index("__crows"))
            bcol = b.column(b.schema.get_field_index("__brows"))
            for i in range(b.num_rows):
                cid, Cm = _unpack(ccol, i)
                bid, Bm = _unpack(bcol, i)
                if Cm.size == 0 or Bm.size == 0:
                    continue
                Cm = Cm / (np.linalg.norm(Cm, axis=1, keepdims=True) + 1e-300)
                Bm = Bm / (np.linalg.norm(Bm, axis=1, keepdims=True) + 1e-300)
                sims = Cm @ Bm.T
                hit = (sims >= threshold) & (cid[:, None] < bid[None, :])
                ai, bi = np.nonzero(hit)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cid[ai]), pa.array(bid[bi]),
                     pa.array(sims[ai, bi])],
                    ["id_a", "id_b", "cosine"])

    # the tile table is BYTES-small (nb² rows of packed groups) but each row
    # is a full matmul tile — AQE's coalescing sees only the bytes and runs
    # the kernel on a handful of tasks (measured: 25 tiles on 4 tasks at
    # sf1).  An explicit round-robin width (respected by AQE) spreads one
    # tile per task; width from the session conf, not a local constant.
    n_part = _shuffle_width(df.sparkSession)
    return chunks.crossJoin(blocks).repartition(n_part).mapInArrow(
        gen, schema="id_a long, id_b long, cosine double")


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
    n_tables: int = 1,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold.

    Random-hyperplane LSH: `n_tables` independent plane sets, each of
    `n_planes` signs → one bucket key per table; a pair is a candidate if
    it collides in ANY table (the standard multi-table recall boost — the
    per-true-pair miss probability drops from p to p^n_tables); exact
    cosine verifies in one Arrow pass over the vectors each bucket row
    carries.  Tables share one (table, bucket)-keyed shuffle, so they add
    linear work, not a cross-table join; a pair colliding in several
    tables is scored in each and kept once.

    Degenerate buckets — many near-identical or zero vectors, common in
    real embedding corpora with collapsed encoders — would otherwise emit
    O(bucket²) candidates on one hot key.  The same guard as the minhash
    twin applies: a (table, bucket) group over `max_bucket_size` rows is
    dropped before it is collected.  A corpus region dense enough to blow the cap
    in EVERY table is by definition one equivalence class of near-dups;
    route it through exact_dedup / a representative-pivot pass instead of
    all-pairs."""
    if dim is None:
        dim = len(df.select(vec_col).head()[0])
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        # (rows, tables, planes) sign tensor → per-table packed keys
        signs = np.einsum("rd,tpd->rtp", m, planes) > 0
        keys = (signs.astype(np.int64)
                << np.arange(n_planes)[None, None, :]).sum(axis=2)
        return pd.Series(list(keys))

    # in-bucket verify: Arrow-batched normalized row-dot (same kernel shape
    # as similarity._cos) — interpreted F.aggregate/F.zip_with higher-order
    # expressions measured ~100× slower per pair, and dense buckets make
    # this the hot loop at corpus scale
    @pandas_udf(DoubleType())
    def _pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        Am = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        Bm = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
        Am = Am / (np.linalg.norm(Am, axis=1, keepdims=True) + 1e-300)
        Bm = Bm / (np.linalg.norm(Bm, axis=1, keepdims=True) + 1e-300)
        return pd.Series(np.einsum("ij,ij->i", Am, Bm))

    rows = df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    return _bucket_pairs(
        rows, id_col, ["table", "bucket"], vec_col, max_bucket_size,
        lambda a, b: _pair_cos(a, b).alias("cosine"),
    ).where(F.col("cosine") >= threshold)
