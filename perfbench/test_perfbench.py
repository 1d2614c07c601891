"""Smoke tests of the benchmark: every workload, both modes, every output
check and every declared metric name, at the smoke size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402


def _declared(kind: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 1):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=170)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# the layers each workload must report as non-zero in a traced run
OWN_LAYERS = {
    "featurize": ["kernels.total.s", "kernels.CTDD.s", "extract.python_s",
                  "extract.bytes_from_python", "scan.bytes"],
    "pit_build": ["asof.s", "fill.backfill.s", "lag_lead.s", "sessionize.s",
                  "checkpoint.run_s", "checkpoint.jobs",
                  "checkpoint.buckets_recomputed", "spark.shuffle_bytes"],
    "near_dup": ["dedup.exact.s", "dedup.ngram_jaccard.s", "dedup.minhash.s",
                 "dedup.simhash.s", "dedup.minhash.jobs",
                 "dedup.minhash.candidates", "dedup.minhash.verify_yield"],
}


@pytest.mark.parametrize("workload", sorted(OWN_LAYERS))
def test_traced_run_is_correct_and_reports_every_layer(workload):
    r = _result(_run(workload, trace=1))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 3
    assert list(r["metrics"]) == _declared("per_layer")
    for name in OWN_LAYERS[workload] + ["session.start_s", "session.cold_start_s",
                                        "pass_s", "mem.peak_rss_mb",
                                        "mem.jvm_heap_peak_mb"]:
        assert r["metrics"][name]["value"] > 0, name


def test_untraced_run_reports_end_to_end_metrics():
    proc = _run("near_dup", trace=0)
    r = _result(proc)
    assert r["correct"] and r["failed"] == 0
    assert list(r["metrics"]) == _declared("end_to_end")
    assert all(m["value"] > 0 for m in r["metrics"].values())
    assert "error_rate" in proc.stdout and "peak_rss_mb" in proc.stdout


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "out",
                                                  "__pycache__"))
    proc = _run("featurize", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("build", [
    lambda s: inputs.sequences(s, 500),
    lambda s: inputs.revisions_and_requests(s, 300, 2.0, 4, 0.2),
    lambda s: inputs.documents(s, 30, 3, 5)[0],
])
def test_inputs_are_a_function_of_the_seed(build):
    assert inputs.table_digest(build(7)) == inputs.table_digest(build(7))
    assert inputs.table_digest(build(7)) != inputs.table_digest(build(8))


def test_corpus_has_the_sf01_shape():
    import numpy as np

    texts = inputs.corpus(np.random.default_rng(5), 2000)
    dups = [t for t in texts if t.endswith(" dup")]
    words = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert (min(words), max(words)) == (10, 100)
    assert {w for t in texts for w in t.split()} == set(inputs.VOCAB) | {"dup"}
    assert len(dups) == 100
    assert sum(t[:-4] in set(texts) for t in dups) >= 90


def test_planted_pairs_have_their_recorded_jaccard():
    tables, truth = inputs.documents(3, 40, 3, 10)
    text = dict(zip(tables["documents"]["doc_id"].to_pylist(),
                    tables["documents"]["text"].to_pylist()))
    for a, b, j in truth["graded"]:
        assert round(inputs._jaccard3(text[a], text[b]), 6) == j
    for a, b in truth["exact"] + truth["same_shingles"]:
        assert inputs._shingles3(text[a]) == inputs._shingles3(text[b])
    assert truth["distinct_texts"] == len(set(text.values()))
