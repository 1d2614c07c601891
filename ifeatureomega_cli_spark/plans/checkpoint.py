"""Checkpoint/resume with per-bucket lineage + metrics (north_rule).

A run processes the source in `n_buckets` hash buckets of the entity key,
split into at most `waves` waves of buckets.  Each wave is ONE Spark
action: the partitioned write of its output.  An Observation on the
written rows counts them per bucket during that write, so nothing is read
back.  Output is written partitioned by bucket, so a re-run overwrites a
bucket idempotently (dynamic partition overwrite) — no double counting.

Two waves run at once: while one wave's jobs execute, the next wave's
DataFrame is built, planned and submitted on a second thread, which hides
the driver-side time of building a wave.  `transform` is therefore called
from a worker thread and must be thread-safe (pure DataFrame construction
is).  Each write stages under its own `.spark-staging-<jobId>` directory
and renames only its own bucket partitions into place.

Completed buckets are recorded in a manifest: a directory of parquet
files, one per wave, appended by the driver with pyarrow (no Spark job).
Each file is written under a hidden temp name and renamed into place, so
a crash leaves a whole file or none.  A manifest row holds the bucket, its
row count, the run id, when it finished, and `seconds` / `rows_per_sec`:
those two are the numbers of the whole wave the bucket ran in, not of the
bucket alone, and a wave's wall time overlaps its neighbour wave's.  Waves
can finish out of order; a crash leaves at most two waves unrecorded, and
a resumed run recomputes ONLY the buckets missing from the manifest.
Manifests written by Spark (`part-*.parquet`) read the same way.

`out_dir` must be a path the driver can read and write directly: the
manifest lives there and `os.path` checks it.

This is the parquet-dir analogue of Iceberg snapshot checkpointing: point
`out_dir` at an Iceberg table and the manifest becomes `snapshot-id`
bookkeeping for free — the exact read-back path
(`load_table(..., snapshot_id=...)` time travel) is exercised by
tests/test_cli_tables.py::test_iceberg_roundtrip_and_time_travel, which
runs automatically wherever the Iceberg runtime jar is on the classpath.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from concurrent.futures import (FIRST_COMPLETED, Future, ThreadPoolExecutor,
                                wait)
from itertools import islice

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ifeatureomega_cli_spark.plans.partitioning import bucket_by

_MANIFEST_SCHEMA = pa.schema([
    ("bucket", pa.int32()), ("n_rows", pa.int64()), ("seconds", pa.float64()),
    ("rows_per_sec", pa.float64()), ("run_id", pa.string()),
    ("finished_at", pa.float64()),
])

# waves in flight at once: the next wave is built and submitted while the
# current one executes, and memory and shuffle state stay bounded at two
# waves
_IN_FLIGHT = 2


class CheckpointedRun:
    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 16,
                 key: str = "doc_id", waves: int = 4):
        self.spark = spark
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.manifest_dir = os.path.join(out_dir, "manifest")
        self.n_buckets = n_buckets
        self.key = key
        self.waves = waves

    # -- lineage --------------------------------------------------------

    def completed_buckets(self) -> set[int]:
        """Buckets recorded in the manifest, read on the driver.  An absent
        or empty manifest means nothing is done; a manifest file that
        cannot be read raises rather than silently recomputing the run."""
        if not os.path.isdir(self.manifest_dir) or not any(
                f.startswith("part-") and f.endswith(".parquet")
                for f in os.listdir(self.manifest_dir)):
            return set()
        # read_table skips `_SUCCESS`, `.crc` and hidden temp files
        table = pq.read_table(self.manifest_dir, columns=["bucket"])
        return set(table["bucket"].to_pylist())

    def _record(self, rows: list[dict]) -> None:
        """Append one manifest file holding `rows` (one wave)."""
        if not rows:
            return
        os.makedirs(self.manifest_dir, exist_ok=True)
        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        tmp = os.path.join(self.manifest_dir, "." + name)
        with open(tmp, "wb") as f:
            pq.write_table(pa.Table.from_pylist(rows, schema=_MANIFEST_SCHEMA),
                           f, compression="snappy")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.manifest_dir, name))

    # -- execution ------------------------------------------------------

    def run(self, source: DataFrame,
            transform: Callable[[DataFrame], DataFrame]) -> dict:
        """Process pending buckets in at most `waves` batches, two at once;
        returns run metrics.

        Each wave filters the source to its buckets (predicate reaches the
        scan), applies `transform`, writes partitioned by bucket and records
        its manifest file.  Waves run on a pool of two threads, so wave k+1
        is built and submitted while wave k executes.  `transform` is
        called from a pool thread and must be thread-safe (pure DataFrame
        construction is).  The pool threads carry the caller's job group,
        description and local properties.  Waves can finish out of order.
        If a wave raises, no further wave starts, the wave still in flight
        finishes and records its buckets, and the first wave's exception is
        re-raised: at most two waves are left unrecorded, and a resume
        recomputes exactly those buckets."""
        run_id = uuid.uuid4().hex[:12]
        done = self.completed_buckets()
        pending = [b for b in range(self.n_buckets) if b not in done]
        bucketed = bucket_by(source, self.key, self.n_buckets)
        step = max(1, -(-len(pending) // self.waves))  # ceil: ≤ `waves` waves
        queued = (pending[w: w + step] for w in range(0, len(pending), step))
        total_rows = 0
        t_all = time.time()
        with ThreadPoolExecutor(_IN_FLIGHT,
                                thread_name_prefix="checkpoint-wave") as pool:

            def submit(n: int) -> set[Future]:
                # wrapped per wave: each gets its own copy of the caller's
                # local properties, so one wave's SQL execution id is not
                # seen by the other
                return {pool.submit(
                    inheritable_thread_target(self.spark)(self._wave),
                    bucketed, transform, wave, run_id)
                    for wave in islice(queued, n)}

            # waves are submitted only as slots free up, so nothing is queued
            # when one fails and leaving the `with` waits for its neighbour
            running = submit(_IN_FLIGHT)
            while running:
                finished, running = wait(running, return_when=FIRST_COMPLETED)
                for f in finished:
                    total_rows += f.result()
                running |= submit(len(finished))
        dt_all = time.time() - t_all
        return {
            "run_id": run_id,
            "buckets_processed": len(pending),
            "buckets_skipped": len(done),
            "rows": total_rows,
            "seconds": dt_all,
            "rows_per_sec": total_rows / dt_all if dt_all > 0 else 0.0,
        }

    def _wave(self, bucketed: DataFrame,
              transform: Callable[[DataFrame], DataFrame], wave: list[int],
              run_id: str) -> int:
        """Build, write and record one wave; returns the rows it wrote."""
        t0 = time.time()
        part = bucketed.filter(F.col("bucket").isin(wave))
        out = transform(part)
        if "bucket" not in out.columns:
            out = out.join(bucketed.select(self.key, "bucket").distinct(),
                           self.key)
        obs = Observation()
        out = out.observe(obs, *[
            F.count_if(F.col("bucket") == b).alias(f"n{b}") for b in wave])
        # per-write dynamic overwrite (only the wave's bucket partitions are
        # replaced, from the write's own `.spark-staging-<jobId>` directory)
        # — set on the writer, NOT the shared session conf, so unrelated
        # writes in the session keep their own semantics
        (out.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(self.data_dir))
        per_bucket = obs.get
        dt = time.time() - t0
        n = sum(per_bucket.values())
        self._record([
            {"bucket": b, "n_rows": per_bucket[f"n{b}"], "seconds": dt,
             "rows_per_sec": n / dt if dt > 0 else 0.0,
             "run_id": run_id, "finished_at": time.time()}
            for b in wave
        ])
        return n

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)


def emit_metrics(path: str, metrics: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(metrics) + "\n")
