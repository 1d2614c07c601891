"""The three benchmark workloads.

Each workload owns its seeded inputs (`build`), what set-up registers
(`register`), one closed-loop pass (`run_pass`, which times itself and
returns the seconds plus whatever the checks need), the per-pass output
checks (`check_pass`), an untimed once-per-run oracle (`check_once`) and
the traced-run layer numbers it alone can produce (`layers`).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import inputs
from harness import group_metrics, job_group, median, node_metric


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Workload:
    name = ""
    sizes: dict[str, dict] = {}
    rows = 0
    min_passes = 3  # timed passes per untraced run; rows_per_s is their median
    # untimed passes first: the JVM's JIT keeps shortening the passes for
    # about two passes
    warmup_passes = 2

    def __init__(self, size: str, seed: int, work: str):
        self.size, self.seed, self.p = size, seed, self.sizes[size]
        self.work = os.path.join(work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def build(self):
        raise NotImplementedError

    def check_once(self, spark, inp: dict) -> list[str]:
        return []

    def layers(self, spark, tracer, snaps: list[dict], passes: list) -> dict:
        return {}


# -- featurize -------------------------------------------------------------

DESCS = ["protein:AAC", "protein:DPC type 1", "protein:CKSAAP type 1",
         "protein:GAAC", "protein:CTDC", "protein:CTDT", "protein:CTDD",
         "protein:PAAC"]
OUT_COLS = [d.split(":")[1].replace(" ", "_") for d in DESCS]


class Featurize(Workload):
    """The 8-descriptor fused `extract_many` pass into a noop sink."""

    name = "featurize"
    sizes = {"smoke": {"n_docs": 4_000, "sample": 8, "replay_share": 1.0},
             "full": {"n_docs": 40_000, "sample": 16, "replay_share": 0.25}}
    # a pass is ~2 s and passes of one run differ by up to 10%
    min_passes = 5

    def build(self):
        return inputs.sequences(self.seed, self.p["n_docs"]), {}

    def register(self, spark, inp: dict) -> None:
        self.path = inp["tables"]["sequences"]
        self.df = spark.read.parquet(self.path)
        self.df.createOrReplaceTempView("sequences")
        self.rows = inp["rows"]["sequences"]
        g = np.random.default_rng([self.seed, 11])
        idx = np.sort(g.choice(self.rows, self.p["sample"], replace=False))
        self.sample_ids = [f"D{i:010d}" for i in idx.tolist()]

    def check_once(self, spark, res) -> list[str]:
        """Replays the sampled rows, which every pass is checked against."""
        self.expected = self._replay_rows(self.sample_ids)
        return []

    def _kernels(self):
        from ifeatureomega_cli_spark.functions.registry import get_spec

        return [get_spec(n).kernel(None, 0) for n in DESCS]

    def _replay_rows(self, ids: list[str]) -> dict[str, list[np.ndarray]]:
        """Single-thread kernel outputs for the sampled rows."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from ifeatureomega_cli_spark.functions.kernels import Ragged

        t = pq.read_table(self.path, columns=["doc_id", "tokens"])
        t = t.filter(pc.is_in(t["doc_id"], value_set=pa.array(ids)))
        r = Ragged.from_arrow(t["tokens"])
        outs = [k(r) for k in self._kernels()]
        return {d: [o[i] for o in outs]
                for i, d in enumerate(t["doc_id"].to_pylist())}

    def run_pass(self, spark, tracer):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ifeatureomega_cli_spark.functions.extract import extract_many

        obs = Observation("featurize")
        sample = F.col("doc_id").isin(self.sample_ids)
        out = (extract_many(self.df, DESCS).select("doc_id", *OUT_COLS)
               .observe(obs, F.count(F.lit(1)).alias("rows"),
                        F.collect_list(F.when(sample, F.struct(
                            "doc_id", *OUT_COLS))).alias("sample")))
        t0 = time.perf_counter()
        with tracer.span("extract_many.noop"):
            _noop(out)
        return time.perf_counter() - t0, obs.get

    def check_pass(self, res) -> list[str]:
        bad = []
        if res["rows"] != self.rows:
            bad.append(f"featurize: {res['rows']} rows out, {self.rows} in")
        got = {r["doc_id"]: r for r in res["sample"]}
        for d, want in self.expected.items():
            row = got.get(d)
            if row is None:
                bad.append(f"featurize: sampled row {d} missing")
                continue
            for col, w in zip(OUT_COLS, want):
                if not np.array_equal(np.asarray(row[col], dtype=np.float64), w):
                    bad.append(f"featurize: {d}.{col} differs from replay")
        return bad

    def layers(self, spark, tracer, snaps, passes) -> dict:
        sql = lambda node, m: median([node_metric(s["sql"], node, m) for s in snaps])
        out = {
            "extract.python_s": sql("ArrowEvalPython", "time to run Python workers"),
            "extract.python_init_s": sql("ArrowEvalPython", "time to start Python workers")
            + sql("ArrowEvalPython", "time to initialize Python workers"),
            "extract.bytes_to_python": sql("ArrowEvalPython", "data sent to Python workers"),
            "extract.bytes_from_python": sql("ArrowEvalPython",
                                             "data returned from Python workers"),
            "extract.codegen_s": sql("WholeStageCodegen", "duration"),
        }
        out.update(self._replay_all(tracer))
        py = out["extract.python_s"]
        out["extract.kernel_share"] = out["kernels.total.s"] / py if py else 0.0
        out["extract.transfer_share"] = 1.0 - out["extract.kernel_share"] if py else 0.0
        return out

    def _replay_all(self, tracer) -> dict:
        """Single-thread replay of a seeded share of the pass's Arrow
        batches (2048 rows each, as spark.sql.execution.arrow.
        maxRecordsPerBatch sets them), scaled to the whole input."""
        import pyarrow.parquet as pq

        from ifeatureomega_cli_spark.functions.kernels import Ragged

        kerns = self._kernels()
        batches = [b.column(0) for f in sorted(os.listdir(self.path))
                   for b in pq.ParquetFile(os.path.join(self.path, f))
                   .iter_batches(batch_size=2048, columns=["tokens"])]
        g = np.random.default_rng([self.seed, 12])
        k = max(1, round(len(batches) * self.p["replay_share"]))
        pick = sorted(g.choice(len(batches), k, replace=False).tolist())
        secs = {n: 0.0 for n in OUT_COLS + ["ragged_from_arrow"]}
        rows = 0
        with tracer.span("kernels.replay"):
            for i in pick:
                t = time.perf_counter()
                r = Ragged.from_arrow(batches[i])
                secs["ragged_from_arrow"] += time.perf_counter() - t
                for name, kern in zip(OUT_COLS, kerns):
                    t = time.perf_counter()
                    kern(r)
                    secs[name] += time.perf_counter() - t
                rows += len(batches[i])
        scale = self.rows / rows
        out = {f"kernels.{n}.s": v * scale for n, v in secs.items()}
        out["kernels.total.s"] = sum(out.values())
        return out


# -- pit_build -------------------------------------------------------------

PAYLOAD = ["tokens", "n_tok", "n_tok_lag1", "n_tok_lead1", "session_id"]


class PitBuild(Workload):
    """Point-in-time training-set build through CheckpointedRun, then a
    resume after the last wave's manifest entries are removed."""

    name = "pit_build"
    sizes = {"smoke": {"n_docs": 3_000, "req_per_doc": 2.0, "hot_keys": 4,
                       "hot_share": 0.2},
             "full": {"n_docs": 8_000, "req_per_doc": 2.0, "hot_keys": 8,
                      "hot_share": 0.2}}
    N_BUCKETS, WAVES, GAP_S = 16, 4, 86_400.0
    # a pass is ~45 Spark jobs, 7-9 s on 4 cores, and the JIT keeps
    # shortening it for about three passes: the two timed passes follow the
    # two warm-up passes
    min_passes = 2
    reference = None  # digest of the first pass's uninterrupted output

    def build(self):
        p = self.p
        return inputs.revisions_and_requests(
            self.seed, p["n_docs"], p["req_per_doc"], p["hot_keys"],
            p["hot_share"]), {}

    def register(self, spark, inp: dict) -> None:
        from pyspark.sql import functions as F

        from ifeatureomega_cli_spark.plans.partitioning import bucket_by

        self.inp = inp
        self.revs = spark.read.parquet(inp["tables"]["revisions"])
        self.reqs = spark.read.parquet(inp["tables"]["requests"])
        self.revs.createOrReplaceTempView("revisions")
        self.reqs.createOrReplaceTempView("requests")
        self.rows = inp["rows"]["requests"]
        self.revs_b = bucket_by(self.revs.select("doc_id", "ts", "tokens", "n_tok"),
                                "doc_id", self.N_BUCKETS)
        # a column with gaps for backfill: n_tok on every third revision
        self.gappy = self.revs.withColumn(
            "n_tok_obs", F.when(F.col("n_tok") % 3 == 0, F.col("n_tok")))

    def transform(self, part):
        """Revision features for the wave's buckets, as-of joined onto the
        wave's requests."""
        from pyspark.sql import functions as F

        from ifeatureomega_cli_spark import (asof_join, backfill, lag_lead,
                                             sessionize)

        revs = self.revs_b.join(F.broadcast(part.select("bucket").distinct()),
                                "bucket", "left_semi").drop("bucket")
        feats = sessionize(backfill(lag_lead(revs, ["n_tok"], [1, -1]),
                                    ["n_tok_lag1"]), self.GAP_S)
        return asof_join(part, feats, value_cols=PAYLOAD)

    def _drop_last_wave(self, run) -> set[int]:
        """Delete the manifest files of the last append (one Spark write
        job, one file-name uuid); returns the buckets they recorded."""
        import pyarrow.parquet as pq

        files = [f for f in os.listdir(run.manifest_dir)
                 if f.startswith("part-") and f.endswith(".parquet")]
        job = lambda f: "-".join(f.split("-")[2:7])
        newest = max(files, key=lambda f: os.path.getmtime(
            os.path.join(run.manifest_dir, f)))
        gone = [os.path.join(run.manifest_dir, f) for f in files
                if job(f) == job(newest)]
        buckets = {b for f in gone
                   for b in pq.read_table(f, columns=["bucket"])["bucket"].to_pylist()}
        for f in gone:
            os.remove(f)
            crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)
        return buckets

    def _digest(self, df):
        from pyspark.sql import functions as F

        cols = ["req_id", "doc_id", "ts", "matched_ts"] + PAYLOAD
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.countDistinct("req_id").alias("keys"),
                   F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]
        return r["n"], r["keys"], r["h"]

    def run_pass(self, spark, tracer):
        from ifeatureomega_cli_spark.plans.checkpoint import CheckpointedRun

        out_dir = os.path.join(self.work, "out")
        shutil.rmtree(out_dir, ignore_errors=True)
        run = CheckpointedRun(spark, out_dir, n_buckets=self.N_BUCKETS,
                              key="doc_id", waves=self.WAVES)
        t0 = time.perf_counter()
        with tracer.span("checkpoint.run"), job_group(spark, "pb.checkpoint.run"):
            first = run.run(self.reqs, self.transform)
        build_s = time.perf_counter() - t0
        res = {"first": first, "build_s": build_s, "dir": run.data_dir}
        if self.reference is None:  # untimed; later passes compare to it
            res["before"] = self._digest(run.read())
        if tracer.enabled:
            t = time.perf_counter()
            with tracer.span("checkpoint.manifest_read"):
                run.completed_buckets()
            res["manifest_read_s"] = time.perf_counter() - t
            res["bytes_written"] = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(run.data_dir) for f in fs
                if f.endswith(".parquet"))
        t0 = time.perf_counter()
        with tracer.span("checkpoint.drop_last_wave"):
            res["removed"] = self._drop_last_wave(run)
        # the resumed run recomputes the missing buckets in one wave
        resume = CheckpointedRun(spark, out_dir, n_buckets=self.N_BUCKETS,
                                 key="doc_id", waves=1)
        with tracer.span("checkpoint.resume"), job_group(spark, "pb.checkpoint.resume"):
            res["resumed"] = resume.run(self.reqs, self.transform)
        res["resume_s"] = time.perf_counter() - t0
        res["after"] = self._digest(run.read())           # untimed
        return build_s + res["resume_s"], res

    def check_pass(self, res) -> list[str]:
        bad = []
        if res["first"]["buckets_processed"] != self.N_BUCKETS:
            bad.append(f"pit_build: first run processed "
                       f"{res['first']['buckets_processed']} buckets")
        if res["resumed"]["buckets_processed"] != len(res["removed"]):
            bad.append(f"pit_build: resume recomputed "
                       f"{res['resumed']['buckets_processed']} buckets, "
                       f"{len(res['removed'])} removed")
        n, keys, h = res["after"]
        if n != self.rows or keys != self.rows:
            bad.append(f"pit_build: {n} rows / {keys} keys out, {self.rows} requests")
        if res["after"] != res.get("before", self.reference):
            bad.append("pit_build: resumed output differs from the "
                       "uninterrupted output of the oracle-checked pass")
        return bad

    def check_once(self, spark, res: dict) -> list[str]:
        """The written as-of result against DuckDB's ASOF JOIN."""
        import duckdb

        self.reference = res["before"]
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
        q = self.inp["tables"]
        missing, extra = con.execute(f"""
            WITH want AS (
              SELECT q.req_id, epoch_us(v.ts) AS mts, v.n_tok
              FROM read_parquet('{q['requests']}/*.parquet') q
              ASOF LEFT JOIN read_parquet('{q['revisions']}/*.parquet') v
                ON q.doc_id = v.doc_id AND q.ts >= v.ts),
            got AS (
              SELECT req_id, epoch_us(matched_ts) AS mts, n_tok
              FROM read_parquet('{res['dir']}/*/*.parquet', hive_partitioning = true))
            SELECT (SELECT count(*) FROM (FROM want EXCEPT ALL FROM got)),
                   (SELECT count(*) FROM (FROM got EXCEPT ALL FROM want))
        """).fetchone()
        con.close()
        if missing or extra:
            return [f"pit_build: as-of result vs DuckDB ASOF JOIN: "
                    f"{missing} rows missing, {extra} unexpected"]
        return []

    def layers(self, spark, tracer, snaps, passes) -> dict:
        from ifeatureomega_cli_spark import (asof_join, backfill, lag_lead,
                                             sessionize)

        out = {
            "checkpoint.run_s": median([r["build_s"] for r in passes]),
            "checkpoint.resume_s": median([r["resume_s"] for r in passes]),
            "checkpoint.jobs": median([group_metrics(s, "pb.checkpoint.run")["jobs"]
                                       for s in snaps]),
            "checkpoint.manifest_read_s": median([r["manifest_read_s"] for r in passes]),
            "checkpoint.bytes_written": median([r["bytes_written"] for r in passes]),
            "checkpoint.buckets_recomputed": median(
                [r["resumed"]["buckets_processed"] for r in passes]),
        }
        calls = {
            "asof.s": lambda: asof_join(self.reqs, self.revs.select(
                "doc_id", "ts", "tokens", "n_tok")),
            "fill.backfill.s": lambda: backfill(self.gappy, ["n_tok_obs"]),
            "lag_lead.s": lambda: lag_lead(self.revs, ["n_tok"], [1, -1]),
            "sessionize.s": lambda: sessionize(self.revs, self.GAP_S),
        }
        for name, call in calls.items():
            secs = []
            for _ in range(2):
                t = time.perf_counter()
                with tracer.span(name[:-2]):
                    _noop(call())
                secs.append(time.perf_counter() - t)
            out[name] = median(secs)
        return out


# -- near_dup --------------------------------------------------------------

NGRAM_ORACLE = """
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
      FROM read_parquet('{path}/*.parquet')
    ), pos AS (
      SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i FROM w
    ), sh AS (
      SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM pos
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200
    ), sh2 AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh2 GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
"""


class NearDup(Workload):
    """exact, n-gram Jaccard, MinHash-LSH and SimHash dedup, each
    materialized to Arrow (the caller gets the pairs)."""

    name = "near_dup"
    sizes = {"smoke": {"n_base": 200, "replicas": 3, "planted": 20},
             "full": {"n_base": 5_000, "replicas": 1, "planted": 100}}
    OPS = ("exact", "ngram_jaccard", "minhash", "simhash")

    def build(self):
        p = self.p
        return inputs.documents(self.seed, p["n_base"], p["replicas"], p["planted"])

    def register(self, spark, inp: dict) -> None:
        self.inp = inp
        self.truth = inp["truth"]
        self.docs = spark.read.parquet(inp["tables"]["documents"])
        self.docs.createOrReplaceTempView("documents")
        self.rows = inp["rows"]["documents"]

    def _op(self, name: str):
        from ifeatureomega_cli_spark.operators import dedup as D

        if name == "exact":
            return D.exact_dedup(self.docs)
        if name == "ngram_jaccard":
            return D.ngram_jaccard_pairs(self.docs, shingle_n=3, threshold=0.2)
        if name == "minhash":
            return D.minhash_dedup(self.docs, threshold=0.8, bands=8)
        return D.simhash_dup_pairs(self.docs, max_hamming=8)

    def run_pass(self, spark, tracer):
        from ifeatureomega_cli_spark.operators.dedup import release_caches

        self.k = getattr(self, "k", 0) + 1
        res, secs = {}, 0.0
        for op in self.OPS:
            t = time.perf_counter()
            with tracer.span(f"dedup.{op}"), job_group(spark, f"pb.dedup.{op}.{self.k}"):
                df = self._op(op)
                res[op] = df.toArrow().to_pydict()
                release_caches(df)
            res[op + "_s"] = time.perf_counter() - t
            secs += res[op + "_s"]
        res["k"] = self.k
        return secs, res

    def check_pass(self, res) -> list[str]:
        bad = []
        t = self.truth
        ex = res["exact"]
        if sum(ex["n_copies"]) != self.rows or len(ex["digest"]) != t["distinct_texts"]:
            bad.append(f"near_dup: exact_dedup gave {len(ex['digest'])} groups "
                       f"over {sum(ex['n_copies'])} docs, want "
                       f"{t['distinct_texts']} over {self.rows}")
        keepers = {k for k, n in zip(ex["keeper_id"], ex["n_copies"]) if n > 1}
        if not all(a in keepers for a, _ in t["exact"]):
            bad.append("near_dup: a planted exact copy was not grouped")
        identical = [tuple(p[:2]) for p in t["exact"] + t["same_shingles"]]
        ng = res["ngram_jaccard"]
        ngram = dict(zip(zip(ng["id_a"], ng["id_b"]), ng["jaccard"]))
        want = {p: 1.0 for p in identical}
        want.update({(a, b): j for a, b, j in t["graded"]})
        for p, j in want.items():
            if p not in ngram or round(ngram[p], 6) != j:
                bad.append(f"near_dup: ngram pair {p} got {ngram.get(p)}, want {j}")
        oracle = getattr(self, "oracle", None)
        if oracle is not None and ngram != oracle:
            bad.append(f"near_dup: ngram pairs differ from the SQL oracle "
                       f"({len(set(ngram.items()) ^ set(oracle.items()))} pairs)")
        mh = res["minhash"]
        mpairs = set(zip(mh["id_a"], mh["id_b"]))
        if any(e < 0.8 for e in mh["est_jaccard"]) or not set(identical) <= mpairs:
            bad.append("near_dup: minhash missed a planted pair or kept est < 0.8")
        sh = res["simhash"]
        spairs = set(zip(sh["id_a"], sh["id_b"]))
        if any(h > 8 for h in sh["hamming"]) or not set(identical) <= spairs:
            bad.append("near_dup: simhash missed a planted pair or kept hamming > 8")
        return bad

    def check_once(self, spark, res: dict) -> list[str]:
        """The ngram pairs against the repo's ngram_jaccard oracle SQL."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
        rows = con.execute(NGRAM_ORACLE.format(
            path=self.inp["tables"]["documents"])).fetchall()
        con.close()
        self.oracle = {(a, b): j for a, b, j in rows}
        return []

    def layers(self, spark, tracer, snaps, passes) -> dict:
        from ifeatureomega_cli_spark.operators.dedup import (
            minhash_lsh_candidates, minhash_signatures)

        out = {}
        for op in self.OPS:
            out[f"dedup.{op}.s"] = median([r[op + "_s"] for r in passes])
            per = [group_metrics(s, f"pb.dedup.{op}.{r['k']}")
                   for s, r in zip(snaps, passes)]
            out[f"dedup.{op}.jobs"] = median([m["jobs"] for m in per])
            out[f"dedup.{op}.shuffle_bytes"] = median([m["shuffle_bytes"] for m in per])
        with tracer.span("dedup.minhash.candidates"):
            sigs = minhash_signatures(self.docs, n_hashes=64)
            cands = minhash_lsh_candidates(sigs, bands=8).count()
        pairs = median([len(r["minhash"]["id_a"]) for r in passes])
        out["dedup.minhash.candidates"] = float(cands)
        out["dedup.minhash.pairs"] = float(pairs)
        out["dedup.minhash.verify_yield"] = pairs / cands if cands else 0.0
        return out


WORKLOADS = {w.name: w for w in (Featurize, PitBuild, NearDup)}
