"""Checkpoint/resume lineage, skew helpers, streaming sessionization."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from ifeatureomega_cli_spark.data.synth import sequences
from ifeatureomega_cli_spark.functions.extract import extract
from ifeatureomega_cli_spark.plans.checkpoint import CheckpointedRun
from ifeatureomega_cli_spark.plans.partitioning import (
    bucket_by, length_tiered_repartition, two_phase_count)


def test_checkpoint_resume(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    src = sequences(spark, 60).cache()
    transform = lambda df: extract(df, "protein:AAC").select(
        "doc_id", "bucket", "features")

    run = CheckpointedRun(spark, out, n_buckets=8, waves=2)
    m1 = run.run(src, transform)
    assert m1["buckets_processed"] == 8 and m1["buckets_skipped"] == 0
    assert m1["rows"] == 60

    # resume: nothing left to do, output unchanged
    run2 = CheckpointedRun(spark, out, n_buckets=8, waves=2)
    m2 = run2.run(src, transform)
    assert m2["buckets_processed"] == 0 and m2["buckets_skipped"] == 8
    assert run2.read().count() == 60

    # simulate a partial failure: drop 3 buckets from manifest + data
    import pandas as pd
    man = spark.read.parquet(run.manifest_dir).toPandas()
    keep = man[~man["bucket"].isin([1, 2, 3])]
    shutil.rmtree(run.manifest_dir)
    spark.createDataFrame(keep).write.parquet(run.manifest_dir)
    run3 = CheckpointedRun(spark, out, n_buckets=8, waves=2)
    m3 = run3.run(src, transform)
    assert m3["buckets_processed"] == 3
    assert run3.read().count() == 60  # idempotent — no double counting
    # every doc exactly once
    assert run3.read().select("doc_id").distinct().count() == 60



def _manifest_files(run):
    return sorted(f for f in os.listdir(run.manifest_dir)
                  if f.startswith("part-") and f.endswith(".parquet"))


def _last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(),
               default=-1)


def test_checkpoint_waves_split_by_ceiling(spark, tmp_path):
    """7 pending buckets with waves=4 run as 4 waves (2+2+2+1), one
    manifest file each — rounding the wave size down made 7 waves."""
    run = CheckpointedRun(spark, str(tmp_path / "ckpt"), n_buckets=7, waves=4)
    m = run.run(sequences(spark, 40), lambda df: df.select("doc_id", "bucket"))
    assert m["buckets_processed"] == 7 and m["rows"] == 40
    assert len(_manifest_files(run)) == 4


def test_checkpoint_manifest_lineage(spark, tmp_path):
    """Manifest n_rows per bucket equals the rows written for that bucket,
    including a bucket the transform empties (recorded as 0 and still
    completed); reading and appending the manifest start no Spark job."""
    import pyarrow.parquet as pq

    run = CheckpointedRun(spark, str(tmp_path / "ckpt"), n_buckets=8, waves=3)
    m = run.run(sequences(spark, 60),
                lambda df: df.filter(F.col("bucket") != 3)
                .select("doc_id", "bucket"))
    man = pq.read_table(run.manifest_dir).to_pandas()
    assert sorted(man["bucket"]) == list(range(8))
    written = {r["bucket"]: r["count"]
               for r in run.read().groupBy("bucket").count().collect()}
    assert 3 not in written
    assert dict(zip(man["bucket"], man["n_rows"])) == {
        b: written.get(b, 0) for b in range(8)}
    assert m["rows"] == sum(written.values()) == man["n_rows"].sum()

    before = _last_job_id(spark)
    assert run.completed_buckets() == set(range(8))
    run._record([{"bucket": 9, "n_rows": 0, "seconds": 0.0,
                  "rows_per_sec": 0.0, "run_id": "x", "finished_at": 0.0}])
    assert run.completed_buckets() == set(range(8)) | {9}
    assert _last_job_id(spark) == before
    spark.range(1).count()  # the probe does see the session's jobs
    assert _last_job_id(spark) > before


def test_checkpoint_manifest_read_errors_raise(spark, tmp_path):
    """No manifest (or no part file in it) means nothing done; a torn
    manifest file raises instead of silently recomputing every bucket."""
    import pyarrow as pa

    run = CheckpointedRun(spark, str(tmp_path / "ckpt"), n_buckets=4)
    assert run.completed_buckets() == set()
    os.makedirs(run.manifest_dir)
    open(os.path.join(run.manifest_dir, "_SUCCESS"), "w").close()
    assert run.completed_buckets() == set()
    run._record([{"bucket": b, "n_rows": 1, "seconds": 1.0,
                  "rows_per_sec": 1.0, "run_id": "x", "finished_at": 0.0}
                 for b in (0, 1)])
    assert run.completed_buckets() == {0, 1}
    (name,) = _manifest_files(run)
    path = os.path.join(run.manifest_dir, name)
    with open(path, "rb") as f:
        data = f.read()
    with open(path, "wb") as f:
        f.write(data[: len(data) // 2])
    with pytest.raises(pa.ArrowInvalid):
        run.completed_buckets()


def test_checkpoint_failed_wave_stops_run(spark, tmp_path):
    """A wave whose transform raises: `run` re-raises that exception, no
    wave starts after it, the wave in flight beside it still records its
    buckets, no pool thread outlives the run, and a resume recomputes
    exactly the buckets that were not recorded."""
    import threading

    import pyarrow.parquet as pq

    class WaveFailed(RuntimeError):
        pass

    lock = threading.Lock()
    failed = threading.Event()
    calls = []

    def transform(df):
        with lock:
            calls.append(failed.is_set())
            n = len(calls)
        if n == 2:
            failed.set()
            raise WaveFailed("second wave")
        # the first wave writes only after the failure, so a wave that
        # started before the failure was noticed cannot hide here
        assert failed.wait(30)
        return df.select("doc_id", "bucket")

    src = sequences(spark, 40)
    run = CheckpointedRun(spark, str(tmp_path / "ckpt"), n_buckets=8, waves=4)
    with pytest.raises(WaveFailed, match="second wave"):
        run.run(src, transform)
    assert calls == [False, False]  # 2 of 4 waves ran, none after the failure
    recorded = run.completed_buckets()
    assert len(recorded) == 2  # the neighbour wave finished and recorded
    assert not [t for t in threading.enumerate()
                if t.name.startswith("checkpoint-wave")]

    resume = CheckpointedRun(spark, str(tmp_path / "ckpt"), n_buckets=8,
                             waves=4)
    m = resume.run(src, lambda df: df.select("doc_id", "bucket"))
    man = pq.read_table(resume.manifest_dir).to_pandas()
    redone = set(man.loc[man["run_id"] == m["run_id"], "bucket"])
    assert redone == set(range(8)) - recorded
    assert m["buckets_processed"] == len(redone) and m["buckets_skipped"] == 2
    assert resume.read().count() == 40
    assert resume.read().select("doc_id").distinct().count() == 40


def test_checkpoint_waves_keep_callers_job_group(spark, tmp_path):
    """Every job a run starts carries the caller's job group: none is
    orphaned by the pool threads, and the session is handed to
    `inheritable_thread_target` (no "Tags will not be inherited")."""
    import warnings

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("g", "checkpoint run")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run = CheckpointedRun(spark, str(tmp_path / "ckpt"), n_buckets=8,
                                  waves=4)
            run.run(sequences(spark, 40), lambda df: df.select("doc_id", "bucket"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    grouped = sorted(tracker.getJobIdsForGroup("g"))
    assert len(grouped) >= 4  # one write per wave
    assert set(tracker.getJobIdsForGroup()) == ungrouped
    # job ids are dealt in order: no job of another group between them
    assert grouped == list(range(grouped[0], grouped[-1] + 1))
    assert not [w for w in caught
                if "Tags will not be inherited" in str(w.message)]


def test_checkpoint_concurrent_waves_commit(spark, tmp_path):
    """8 buckets in 4 waves, two writing at once into one directory: each
    dynamic-overwrite write stages under its own `.spark-staging-<jobId>`
    and renames only its own bucket partitions, so the output is the
    transform of the whole source, no staging directory is left, and the
    manifest counts the rows written per bucket."""
    from collections import Counter

    import pyarrow.parquet as pq

    src = sequences(spark, 40)
    transform = lambda df: df.select("doc_id", "bucket", "n_tok", "source")
    run = CheckpointedRun(spark, str(tmp_path / "ckpt"), n_buckets=8, waves=4)
    m = run.run(src, transform)
    cols = ["doc_id", "bucket", "n_tok", "source"]
    want = Counter(tuple(r) for r in
                   transform(bucket_by(src, "doc_id", 8)).select(cols).collect())
    got = Counter(tuple(r) for r in run.read().select(cols).collect())
    assert got == want and m["rows"] == 40
    assert not [d for _, ds, _ in os.walk(run.data_dir) for d in ds
                if d.startswith(".spark-staging")]
    man = pq.read_table(run.manifest_dir).to_pandas()
    written = Counter(b for _, b, _, _ in want)
    assert dict(zip(man["bucket"], man["n_rows"])) == {
        b: written.get(b, 0) for b in range(8)}
    # the waves really overlapped: a wave started before another finished
    spans = sorted((f - s, f) for s, f in
                   man.groupby("seconds")["finished_at"].min().items())
    assert len(spans) == 4
    assert any(b[0] < a[1] for a, b in zip(spans, spans[1:]))

def test_two_phase_count_matches_plain(spark):
    src = sequences(spark, 200)
    plain = {r["source"]: r["count"] for r in
             src.groupBy("source").count().collect()}
    skewsafe = {r["source"]: r["count"] for r in
                two_phase_count(src, "source").collect()}
    assert plain == skewsafe


def test_length_tiered_repartition_preserves_rows(spark):
    src = sequences(spark, 150)
    out = length_tiered_repartition(src)
    assert out.count() == 150
    assert sorted(out.columns) == sorted(src.columns)


def test_streaming_sessions_match_batch(spark, tmp_path):
    from ifeatureomega_cli_spark.operators.sessionize import session_stats
    from ifeatureomega_cli_spark.streaming.sessions import streaming_session_stats

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "events_in")
    ev.write.parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    sessions = streaming_session_stats(stream, 1800)
    q = (
        sessions.writeStream.format("memory").queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sess_out").toPandas()

    batch = session_stats(ev.select("user_id", "ts", "value"), 1800,
                          on="user_id", ts="ts", value="value").toPandas()
    assert len(got) == len(batch)
    g = got.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    b = batch.sort_values(["user_id", "session_start"]).reset_index(drop=True)
    assert (g["n_events"].to_numpy() == b["n_events"].to_numpy()).all()
    assert np.allclose(g["sum_value"].to_numpy(), b["sum_value"].to_numpy())


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates across micro-batches are
    dropped; keepers match the batch dedup."""
    import pandas as pd
    from ifeatureomega_cli_spark.operators.dedup import exact_dedup
    from ifeatureomega_cli_spark.streaming.dedup_stream import streaming_exact_dedup

    rows1 = [(i, f"text number {i % 20}") for i in range(40)]      # dups inside
    rows2 = [(100 + i, f"text number {i % 25}") for i in range(50)]  # dups across
    in_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(rows1, "doc_id long, text string").write.parquet(in_dir)
    spark.createDataFrame(rows2, "doc_id long, text string").write.mode(
        "append").parquet(in_dir)

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    out = streaming_exact_dedup(stream)
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_out").toPandas()

    batch = exact_dedup(
        spark.read.parquet(in_dir)).toPandas()
    # one keeper per distinct digest; 25 distinct texts overall
    assert len(got) == len(batch) == 25
    assert set(got["digest"]) == set(batch["digest"])


def test_length_tier_equal_length_corpus_spreads(spark):
    """Regression for the same-length collapse: an EQUAL-length table (the
    exact shape of every A2/A3 positional-descriptor input) must spread over
    ≥ partitions_per_tier partitions within its tier — the old xxhash64(n_tok)
    intra-tier key sent every row of one length to ONE partition."""
    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit(31).alias("n_tok"))
    out = length_tiered_repartition(df, partitions_per_tier=8,
                                    id_cols=["doc_id"])
    pids = (out.withColumn("pid", F.spark_partition_id())
            .select("pid").distinct().count())
    assert pids >= 8, f"equal-length corpus landed on {pids} partition(s)"
    # default (hash all columns) must spread too when rows are distinct
    out2 = length_tiered_repartition(df, partitions_per_tier=8)
    pids2 = (out2.withColumn("pid", F.spark_partition_id())
             .select("pid").distinct().count())
    assert pids2 >= 8
    assert out.count() == 20_000


def test_streaming_minhash_near_dup_matches_batch(spark, tmp_path):
    """Stateful streaming MinHash near-dup: clones arriving in LATER
    micro-batches are paired with their originals; the deduped pair set
    equals the batch minhash_dedup result on the closed corpus."""
    from ifeatureomega_cli_spark.operators.dedup import minhash_dedup
    from ifeatureomega_cli_spark.streaming.neardedup_stream import (
        streaming_minhash_pairs)

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(12))

    rows1 = [(i, doc(i)) for i in range(30)]
    # batch 2: clones of docs 0..9 plus fresh docs
    rows2 = [(1000 + i, doc(i)) for i in range(10)] + \
            [(2000 + i, doc(500 + i)) for i in range(10)]
    in_dir = str(tmp_path / "near_in")
    spark.createDataFrame(rows1, "doc_id long, text string").write.parquet(in_dir)
    spark.createDataFrame(rows2, "doc_id long, text string").write.mode(
        "append").parquet(in_dir)

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)  # multi-micro-batch state use
              .parquet(in_dir))
    out = streaming_minhash_pairs(stream, threshold=0.8, bands=8)
    q = (out.writeStream.format("memory").queryName("near_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "near_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180), "streaming query did not finish in 180s"
    # a pair agreeing in k bands arrives k times — sink-side dedup, as the
    # module documents
    got = spark.sql(
        "select id_a, id_b, max(est_jaccard) as est_jaccard "
        "from near_out group by id_a, id_b").toPandas()

    batch = minhash_dedup(
        spark.read.parquet(in_dir), threshold=0.8, bands=8).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    batch_pairs = set(zip(batch["id_a"], batch["id_b"]))
    assert got_pairs == batch_pairs
    assert {(i, 1000 + i) for i in range(10)} <= got_pairs
    # agreement estimates identical to batch per pair
    ge = dict(zip(zip(got["id_a"], got["id_b"]), got["est_jaccard"]))
    be = dict(zip(zip(batch["id_a"], batch["id_b"]), batch["est_jaccard"]))
    assert all(abs(ge[p] - be[p]) < 1e-12 for p in got_pairs)


def test_streaming_minhash_bucket_saturation_bounds_state(spark, tmp_path):
    """A degenerate bucket (many identical docs) saturates at
    max_bucket_state and stops emitting — O(cap²) bounded, no blow-up."""
    from ifeatureomega_cli_spark.streaming.neardedup_stream import (
        streaming_minhash_pairs)

    rows = [(i, "same words everywhere " + "pad " * 8) for i in range(60)]
    in_dir = str(tmp_path / "sat_in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    out = streaming_minhash_pairs(stream, threshold=0.8, bands=8,
                                  max_bucket_state=10)
    q = (out.writeStream.format("memory").queryName("sat_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sat_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180), "streaming query did not finish in 180s"
    got = spark.sql(
        "select distinct id_a, id_b from sat_out").toPandas()
    # 10 stored docs → at most C(10,2)=45 pairs, never C(60,2)=1770
    assert 0 < len(got) <= 45


def test_streaming_simhash_matches_batch(spark, tmp_path):
    """SimHash streaming twin: cross-micro-batch pairs equal the batch
    operator's pair set with identical Hamming distances."""
    from ifeatureomega_cli_spark.operators.dedup import simhash_dup_pairs
    from ifeatureomega_cli_spark.streaming.neardedup_stream import (
        streaming_simhash_pairs)

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(12))

    rows1 = [(i, doc(i)) for i in range(30)]
    rows2 = [(1000 + i, doc(i)) for i in range(10)]   # later-batch clones
    in_dir = str(tmp_path / "sim_in")
    spark.createDataFrame(rows1, "doc_id long, text string").write.parquet(in_dir)
    spark.createDataFrame(rows2, "doc_id long, text string").write.mode(
        "append").parquet(in_dir)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir))
    out = streaming_simhash_pairs(stream, max_hamming=3)
    q = (out.writeStream.format("memory").queryName("sim_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sim_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180), "streaming query did not finish in 180s"
    got = spark.sql(
        "select id_a, id_b, min(hamming) as hamming "
        "from sim_out group by id_a, id_b").toPandas()

    batch = simhash_dup_pairs(
        spark.read.parquet(in_dir), max_hamming=3).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    assert got_pairs == set(zip(batch["id_a"], batch["id_b"]))
    assert {(i, 1000 + i) for i in range(10)} <= got_pairs
    gh = dict(zip(zip(got["id_a"], got["id_b"]), got["hamming"]))
    bh = dict(zip(zip(batch["id_a"], batch["id_b"]), batch["hamming"]))
    assert all(gh[p] == bh[p] for p in got_pairs)


def test_streaming_simhash_bucket_saturation_bounds_state(spark, tmp_path):
    """SimHash twin's saturation cap pinned (same guarantee as the minhash
    twin's): a degenerate bucket keeps only max_bucket_state docs."""
    from ifeatureomega_cli_spark.streaming.neardedup_stream import (
        streaming_simhash_pairs)

    rows = [(i, "same words everywhere " + "pad " * 8) for i in range(60)]
    in_dir = str(tmp_path / "ssat_in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    out = streaming_simhash_pairs(stream, max_hamming=3, max_bucket_state=10)
    q = (out.writeStream.format("memory").queryName("ssat_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ssat_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180), "streaming query did not finish in 180s"
    got = spark.sql("select distinct id_a, id_b from ssat_out").toPandas()
    # 10 stored docs → at most C(10,2)=45 pairs, never C(60,2)=1770
    assert 0 < len(got) <= 45
    # deterministic saturation: the kept docs are the 10 smallest ids
    assert set(got["id_a"]) | set(got["id_b"]) <= set(range(10))


def test_write_deduped_pairs_matches_batch_exactly(spark, tmp_path):
    """The foreachBatch dedup sink delivers each pair EXACTLY once even
    when it collides in several bands and spans micro-batches — the
    delivered parquet equals the batch operator's output with no
    sink-side DISTINCT."""
    from ifeatureomega_cli_spark.operators.dedup import minhash_dedup
    from ifeatureomega_cli_spark.streaming.neardedup_stream import (
        streaming_minhash_pairs, write_deduped_pairs)

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(12))

    # exact clones collide in EVERY band (8 collisions per pair) — the
    # worst case for per-band duplicate emission
    rows1 = [(i, doc(i)) for i in range(20)]
    rows2 = [(1000 + i, doc(i)) for i in range(8)] + \
            [(2000 + i, doc(700 + i)) for i in range(8)]
    in_dir = str(tmp_path / "fbd_in")
    spark.createDataFrame(rows1, "doc_id long, text string").write.parquet(in_dir)
    spark.createDataFrame(rows2, "doc_id long, text string").write.mode(
        "append").parquet(in_dir)

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir))
    out_dir = str(tmp_path / "fbd_out")
    q = write_deduped_pairs(
        streaming_minhash_pairs(stream, threshold=0.8, bands=8),
        out_dir, str(tmp_path / "fbd_ckpt"))
    assert q.awaitTermination(180), "streaming query did not finish in 180s"

    got = spark.read.parquet(out_dir).toPandas()
    batch = minhash_dedup(
        spark.read.parquet(in_dir), threshold=0.8, bands=8).toPandas()
    # exactly once: no per-band duplicates survive in the DELIVERED table
    assert len(got) == len(got.drop_duplicates(["id_a", "id_b"]))
    assert set(zip(got["id_a"], got["id_b"])) == \
        set(zip(batch["id_a"], batch["id_b"]))
    ge = dict(zip(zip(got["id_a"], got["id_b"]), got["est_jaccard"]))
    be = dict(zip(zip(batch["id_a"], batch["id_b"]), batch["est_jaccard"]))
    assert all(abs(ge[p] - be[p]) < 1e-12 for p in ge)
