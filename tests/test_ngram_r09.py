"""Round-9 tests for the redesigned ngram_jaccard_pairs.

Pin the facts the optimization relies on: (a) the vectorized shingler
segments words exactly like the per-doc Python path, (b) the broadcast
kernel and the distributed instance plan both return the pure-Python
reference pairs, on either side of each dispatch cap and at jaccard ==
threshold, (c) the shingling UDF executes exactly once per query (the
round-8 8×-re-execution regression, now pinned behaviorally via an
accumulator instead of a plan string).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(11)
    vocab = ["w%d" % i for i in range(40)]
    rows = []
    for i in range(200):
        words = [vocab[rng.randint(len(vocab))] for _ in range(50)]
        rows.append((i, " ".join(words)))
    # clones and near-clones so pairs exist at threshold
    for j in range(20):
        rows.append((1000 + j, rows[j][1]))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_vectorized_shingler_matches_python(spark):
    import pyarrow as pa

    from ifeatureomega_cli_spark.operators.dedup import (
        _py_shingles, _word_hash_shingles)

    texts = [
        "a b c d e", "", "   ", "one two", "x  y   z w", "  lead trail  ",
        "a\tb\nc d", "A B C a b c", "same same same same",
        None, "single", "ä Ö ü ä ö Ü zz",
    ]
    arr = pa.array(texts, type=pa.string())
    for n in (1, 2, 3):
        flat, counts = _word_hash_shingles(arr, n)
        offs = np.concatenate(([0], np.cumsum(counts)))
        for i, t in enumerate(texts):
            expect = _py_shingles(t or "", n)
            got = flat[offs[i]:offs[i + 1]]
            assert len(got) == len(expect), (n, i, t)
            assert len(np.unique(got)) == len(got)  # per-row set semantics


# Docs pinned at jaccard == 0.2 exactly: 3 shingles each sharing 1, and
# 12 shingles each sharing 4.  The 3-shingle docs set the corpus's
# smallest doc size, where a closed-form ceil pre-filter bound rounds to 2.
_AT_THRESHOLD = [
    (5000, "a b c d e"), (5001, "a b c x y"),
    (6000, " ".join("p%d" % i for i in range(14))),
    (6001, " ".join(["p%d" % i for i in range(6)]
                    + ["q%d" % i for i in range(6, 14)])),
]
# small enough that some shingles (df 3+) are stop shingles
_MAX_FREQ = 2
_THRESHOLD = 0.2


def _reference_pairs(rows, key):
    """All-pairs Jaccard over exact string shingle sets, stop shingles
    (df > _MAX_FREQ) dropped: {(key(id_a), key(id_b)): jaccard}."""
    from collections import Counter
    from itertools import combinations

    from ifeatureomega_cli_spark.operators.dedup import _py_shingles

    sets = {key(i): _py_shingles(t, 3) for i, t in rows}
    df = Counter(s for sh in sets.values() for s in sh)
    assert max(df.values()) > _MAX_FREQ  # the stop-shingle path is live
    kept = {i: {s for s in sh if df[s] <= _MAX_FREQ} for i, sh in sets.items()}
    out = {}
    for a, b in combinations(sorted(kept), 2):
        inter = len(kept[a] & kept[b])
        if inter and inter / len(kept[a] | kept[b]) >= _THRESHOLD:
            out[(a, b)] = round(inter / len(kept[a] | kept[b]), 6)
    return out


@pytest.fixture(scope="module")
def planted_rows(corpus):
    rows = [tuple(r) for r in corpus.collect()]
    # partial clones: a spread of jaccard values between 0.2 and 1
    rows += [(2000 + j, " ".join(rows[20 + j][1].split()[:50 - 3 * j]
                                 + ["z%d_%d" % (j, k) for k in range(3 * j)]))
             for j in range(1, 12)]
    return rows + _AT_THRESHOLD


_PLANS = ["default", "docs-1", "docs+0", "docs+1", "inst-1", "inst+0",
          "inst+1"]
_IDS = {"long": (lambda i: i, "long"),
        "shifted": (lambda i: i + (1 << 33), "long"),
        "string": (str, "string")}


@pytest.mark.parametrize("ids", sorted(_IDS))
@pytest.mark.parametrize("plan", _PLANS)
def test_forced_plan_differential(spark, planted_rows, monkeypatch, plan,
                                  ids):
    """Both counting plans, on either side of each dispatch cap, and for
    integral, >2^31 (unpacked pair) and string ids, return exactly the
    pure-Python reference pairs — jaccard == threshold pairs included."""
    from pyspark.broadcast import Broadcast

    from ifeatureomega_cli_spark.operators import dedup as D

    key, id_type = _IDS[ids]
    n_docs = len(planted_rows)
    n_inst = sum(len(D._py_shingles(t, 3)) for _, t in planted_rows)
    expect_bcast = True
    if plan != "default":
        cap, delta = plan[:4], int(plan[4:])
        n = n_docs if cap == "docs" else n_inst
        monkeypatch.setattr(D, "_NGRAM_BCAST_MAX_DOCS" if cap == "docs"
                            else "_NGRAM_BCAST_MAX_INST", n + delta)
        expect_bcast = delta >= 0
    docs = spark.createDataFrame([(key(i), t) for i, t in planted_rows],
                                 f"doc_id {id_type}, text string")

    out = D.ngram_jaccard_pairs(docs, shingle_n=3, threshold=_THRESHOLD,
                                max_shingle_freq=_MAX_FREQ)
    try:
        got = {(r.id_a, r.id_b): round(r.jaccard, 6) for r in out.collect()}
        assert any(isinstance(c, Broadcast)
                   for c in out._dedup_caches) == expect_bcast
    finally:
        D.release_caches(out)
    expect = _reference_pairs(planted_rows, key)
    assert got == expect
    assert expect[(key(5000), key(5001))] == 0.2
    assert expect[(key(6000), key(6001))] == 0.2


def test_min_intersection_is_exact():
    """The pre-filter bound is the smallest intersection whose best-case
    jaccard passes the float filter, over the threshold × min_n grid."""
    from ifeatureomega_cli_spark.operators.dedup import _min_intersection

    for t in (0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9):
        for m in range(1, 200):
            k = _min_intersection(m, t)
            assert k == 1 or (k - 1) / (2 * m - (k - 1)) < t, (t, m)
            assert k / (2 * m - k) >= t, (t, m)
    assert _min_intersection(12, 0.2) == 4
    assert _min_intersection(0, 0.2) == 1  # empty corpus


def test_streaming_input_rejected(spark):
    from ifeatureomega_cli_spark.operators.dedup import ngram_jaccard_pairs

    stream = (spark.readStream.format("rate").load()
              .select(F.col("value").alias("doc_id"),
                      F.col("value").cast("string").alias("text")))
    with pytest.raises(ValueError, match="foreachBatch"):
        ngram_jaccard_pairs(stream)


def test_release_caches_frees_broadcast(spark, corpus, monkeypatch):
    from pyspark.broadcast import Broadcast

    from ifeatureomega_cli_spark.operators import dedup as D

    released = []
    real = Broadcast.unpersist

    def spy(self, *a, **k):
        released.append(self)
        return real(self, *a, **k)

    monkeypatch.setattr(Broadcast, "unpersist", spy)
    out = D.ngram_jaccard_pairs(corpus, shingle_n=3, threshold=0.3)
    assert out.count() > 0
    bcs = [c for c in out._dedup_caches if isinstance(c, Broadcast)]
    assert len(bcs) == 1 and not released
    D.release_caches(out)
    assert released == bcs


def test_instance_plan_unpacked_ids(spark, corpus, monkeypatch):
    """Negative / >2^31 ids disable int64 pair packing; results must not
    change (two-column aggregation branch)."""
    from ifeatureomega_cli_spark.operators import dedup as D

    monkeypatch.setattr(D, "_NGRAM_BCAST_MAX_DOCS", 0)
    shifted = corpus.withColumn("doc_id", F.col("doc_id") + (1 << 33))
    got = (D.ngram_jaccard_pairs(shifted, shingle_n=3, threshold=0.3)
           .select((F.col("id_a") - (1 << 33)).alias("id_a"),
                   (F.col("id_b") - (1 << 33)).alias("id_b"),
                   F.round("jaccard", 6).alias("j"))
           .sort("id_a", "id_b").collect())
    base = (D.ngram_jaccard_pairs(corpus, shingle_n=3, threshold=0.3)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("j"))
            .sort("id_a", "id_b").collect())
    assert got == base


def test_shingle_udf_runs_once(spark, corpus):
    """The persisted per-doc array table must make the shingling UDF run
    exactly once per query execution (round-8 found it running 8×)."""
    from ifeatureomega_cli_spark.operators import dedup as D

    acc = spark.sparkContext.accumulator(0)
    n_docs = corpus.count()
    D.ngram_jaccard_pairs(corpus, shingle_n=3, threshold=0.3,
                          _shingle_counter=acc).count()
    assert acc.value == n_docs, (
        f"shingle UDF processed {acc.value} rows for {n_docs} docs — "
        "re-execution regression")
