#!/usr/bin/env python3
"""Seeded benchmark of ifeatureomega_cli_spark: one workload per run.

    python3 perfbench/run.py --workload featurize|pit_build|near_dup \\
        --seed N --seconds S --trace 0|1 [--size full|smoke]

Run from the root of a checkout.  The program under test is the
``ifeatureomega_cli_spark`` package next to this directory; without it the
benchmark exits with code 2 and prints no result.

One driver process runs Spark at local[nproc] and a closed loop: one
client, passes back to back, each pass checked.  setup_s is a cold start:
process start until the session is up, the inputs are registered and the
Python workers are spawned, with input generation (cached per workload,
size and seed) left out; it is taken once per run, because each sample
needs a fresh process and JVM.  ``--trace 0`` prints the end-to-end
metrics.  ``--trace 1``
runs with the Spark UI on and alternates untraced passes with traced ones
(spans, job groups, Spark SQL and stage metrics from the REST API), and
prints the per-layer metrics, the wall time no layer accounts for
(unattributed_s) and the tracing overhead (traced minus untraced pass).
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the lines before it repeat the metrics for people,
with the error rate, the input checksum, nproc and the load average.  A
traced run also writes its spans and REST snapshots to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "ifeatureomega_cli_spark", "__init__.py")

import inputs  # noqa: E402
from harness import (RssSampler, SparkRest, Tracer, engine_metrics,  # noqa: E402
                     heap_peak, job_wall_s, loadavg, median, process_age,
                     reset_heap_peak, spawn_workers, start_session, stop_jvm)
from workloads import WORKLOADS  # noqa: E402

TRACED_MIN_PASSES = 2  # of each kind, untraced and traced
DEADLINE_S = 135.0  # no pass starts after this much wall time


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - T_START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def declared() -> dict:
    """The metric names and units BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {k: [(m["name"], m["unit"]) for m in b[k]]
            for k in ("end_to_end", "per_layer")}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Workers import the package from this checkout, Spark runs at
    local[nproc], numeric libraries run one thread per worker (4 tasks must
    not oversubscribe 4 cores), and every temporary file lands under
    `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)  # local[nproc]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


class Bench:
    def __init__(self, wl, inp, cores: int, work: str, trace: bool):
        self.wl, self.inp, self.cores, self.work = wl, inp, cores, work
        self.trace = trace
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.tracer = Tracer(trace)
        self.quiet = Tracer(False)
        self.plain: list = []   # (seconds, result) of untraced passes
        self.traced: list = []  # (seconds, result, REST snapshot)

    def setup(self):
        t = time.perf_counter()
        spark = start_session(self.work, ui=self.trace)
        self.session_s = time.perf_counter() - t
        self.wl.register(spark, self.inp)
        spawn_workers(spark)
        return spark

    def one_pass(self, spark, tracer, first: bool = False):
        """Run, then check, one pass; returns (seconds, result) or None."""
        spark.catalog.clearCache()  # no pass reuses an earlier pass's cache
        self.attempted += 1
        try:
            with tracer.span("pass", n=self.attempted):
                secs, res = self.wl.run_pass(spark, tracer)
            bad = []
            if first:
                t = time.perf_counter()
                bad = self.wl.check_once(spark, res)
                log(f"warm-up pass {secs:.2f} s, oracle "
                    f"{time.perf_counter() - t:.2f} s")
            bad += self.wl.check_pass(res)
        except Exception as e:  # a failed pass counts; the loop goes on
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            self.failed += 1
            self.failures.extend(bad[:5])
            return None
        return secs, res

    def loop(self, spark, seconds: float) -> bool:
        """Closed loop for `seconds`; a traced run alternates untraced and
        traced passes and snapshots the REST API after each traced one.
        False if the deadline came before the passes the metrics need."""
        rest = SparkRest(spark) if self.trace else None
        enough = ((lambda: min(len(self.plain), len(self.traced)) >= TRACED_MIN_PASSES)
                  if rest else (lambda: len(self.plain) >= self.wl.min_passes))
        t0 = time.perf_counter()
        k = 0
        while (not enough() or time.perf_counter() - t0 < seconds) \
                and time.perf_counter() - T_START < DEADLINE_S:
            traced = rest is not None and k % 2 == 1
            k += 1
            mark = rest.mark() if traced else None
            out = self.one_pass(spark, self.tracer if traced else self.quiet)
            if out is not None:
                if traced:
                    self.traced.append((*out, rest.since(mark)))
                else:
                    self.plain.append(out)
            elif self.failed > 3 * (len(self.plain) + len(self.traced) + 1):
                break
        return enough()


def main(argv=None) -> int:
    if not os.path.isfile(PACKAGE):
        print(f"perfbench: no ifeatureomega_cli_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    args = parse(argv)
    work = os.path.join(HERE, ".work")
    prepare_env(work)

    import ifeatureomega_cli_spark as pkg  # imports pyspark: part of set-up
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {pkg.__file__}, not this checkout's package",
              file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    load_before = loadavg()
    wl = WORKLOADS[args.workload](args.size, args.seed, work)
    t = time.perf_counter()
    inp = inputs.cached(os.path.join(HERE, ".cache"), wl.name, wl.p,
                        args.seed, wl.build)
    inputs_s = time.perf_counter() - t
    log(f"inputs ready in {inputs_s:.2f} s (cache hit: {inp['cache_hit']})")
    bench = Bench(wl, inp, cores, work, trace=bool(args.trace))
    spark = bench.setup()
    cold_s = process_age() - inputs_s
    try:
        log(f"cold set-up {cold_s:.2f} s (session start {bench.session_s:.2f} s)")
        for i in range(wl.warmup_passes):  # untimed; the first runs the oracle
            bench.one_pass(spark, bench.quiet, first=i == 0)
        log("warm-up passes and oracle done")
        reset_heap_peak(spark)
        with RssSampler() as rss:
            complete = bench.loop(spark, args.seconds)
        log("passes " + " ".join(f"{s:.2f}" for s, _ in bench.plain)
            + " | traced " + " ".join(f"{s:.2f}" for s, *_ in bench.traced))
        mem = {"mem.peak_rss_mb": rss.peak / 2 ** 20,
               "mem.jvm_rss_mb": rss.peak_jvm / 2 ** 20,
               "mem.jvm_heap_peak_mb": heap_peak(spark) / 2 ** 20,
               "mem.python_pss_mb": rss.peak_python / 2 ** 20}
        log("peak MB: " + ", ".join(f"{k} {v:.0f}" for k, v in mem.items()))
        record = {"cold_start_s": cold_s, "session_s": bench.session_s,
                  "pass_s": [s for s, _ in bench.plain],
                  "peak_rss_mb": mem["mem.peak_rss_mb"]}
        if complete and wl.name == "pit_build":
            record["resume_s"] = median([r["resume_s"] for _, r in bench.plain])
        if complete and args.trace:
            values = layer_values(bench, spark, record, inp) | mem
        elif complete:
            values = {"rows_per_s": median([wl.rows / s for s, _ in bench.plain]),
                      "setup_s": cold_s}
    finally:
        stop_jvm(spark)
    log("stopped")
    if not complete:
        print(f"perfbench: deadline reached after {len(bench.plain)} untraced and "
              f"{len(bench.traced)} traced good passes of {bench.attempted}; "
              + "; ".join(bench.failures[:5]), file=sys.stderr)
        return 1
    names = declared()["per_layer" if args.trace else "end_to_end"]
    metrics = {n: (float(values.get(n, 0.0)), u) for n, u in names}
    record.update({
        "workload": wl.name, "size": args.size, "seed": args.seed,
        "rows": wl.rows, "checksum": inp["checksum"],
        "cache_hit": inp["cache_hit"], "gen_s": inp["gen_s"],
        "nproc": cores, "loadavg_before": load_before,
        "loadavg_after": loadavg(), "failures": bench.failures,
    })
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out",
                            f"trace-{wl.name}-{args.size}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
    summary(args, wl, bench, metrics, record)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_values(bench, spark, record: dict, inp: dict) -> dict:
    """Per-layer values from the traced passes; adds the spans and REST
    snapshots to `record`."""
    passes = [r for _, r, _ in bench.traced]
    snaps = [s for _, _, s in bench.traced]
    layer = bench.wl.layers(spark, bench.tracer, snaps, passes) if passes else {}
    eng = [engine_metrics(s) for s in snaps]
    for k in (eng[0] if eng else {}):
        layer[k] = median([e[k] for e in eng])
    traced_s = median([s for s, *_ in bench.traced])
    plain_s = median([s for s, _ in bench.plain])
    layer["pass_s"] = traced_s
    layer["trace.overhead_s"] = traced_s - plain_s
    layer["trace.overhead_share"] = (traced_s - plain_s) / plain_s if plain_s else 0.0
    layer["session.start_s"] = record["session_s"]
    layer["session.cold_start_s"] = record["cold_start_s"]
    layer["inputs.gen_s"] = inp["gen_s"]
    if passes:
        layer["unattributed_s"] = traced_s - attributed(bench, layer, snaps)
    record.update({"spans": bench.tracer.spans, "rest": snaps, "layers": layer})
    return layer


def attributed(bench, layer: dict, snaps: list[dict]) -> float:
    """Wall seconds of a traced pass that the measured layers explain.
    featurize: the scan and Python-worker task time, counted 1/cores of
    their total (tasks run `cores` at a time).  pit_build and near_dup,
    whose layers are whole Spark jobs: the wall time during which a job
    of a timed layer call ran, so what is left is driver-side time."""
    if bench.wl.name == "featurize":
        return (layer.get("scan.s", 0.0)
                + layer.get("extract.python_s", 0.0)) / bench.cores
    return median([job_wall_s(s, "pb.") for s in snaps])


def summary(args, wl, bench, metrics, record) -> None:
    """Human-readable lines before the JSON line."""
    la0, la1 = record["loadavg_before"][0], record["loadavg_after"][0]
    lines = [f"perfbench {wl.name} size={args.size} seed={args.seed} "
             f"rows={wl.rows} inputs={record['checksum'][:16]} "
             f"cache_hit={record['cache_hit']} gen_s={record['gen_s']:.3f} "
             f"nproc={record['nproc']} loadavg={la0:.2f}->{la1:.2f}"]
    for k, (v, u) in metrics.items():
        lines.append(f"  {k:32s} {v:16.4f} {u}")
    if "resume_s" in record:
        lines.append(f"  {'resume_s':32s} {record['resume_s']:16.4f} s")
    if not args.trace:  # a traced run reports it as mem.peak_rss_mb
        lines.append(f"  {'peak_rss_mb':32s} {record['peak_rss_mb']:16.4f} MB")
    rate = bench.failed / bench.attempted if bench.attempted else 1.0
    lines.append(f"  {'error_rate':32s} {rate:16.4f} ratio "
                 f"({bench.failed}/{bench.attempted} passes)")
    lines.extend(f"  FAILED: {f}" for f in bench.failures)
    print("\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())
