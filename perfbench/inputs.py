"""Seeded input generation for the benchmark workloads, cached on disk.

Every table is a pure function of (workload, seed, size).  Sequences and
revisions come from the package's own F1/F2 generators
(``data.synth``), run in this process without a JVM; requests and
documents are numpy draws from ``default_rng([seed, tag])``.  All of it is
written with pyarrow straight to parquet, so generation never shares a
JVM with the code under test and stays out of the timed set-up.  A cache
entry lives in ``perfbench/.cache/<workload>-
<size hash>-<seed>/`` with a ``meta.json`` holding the generation time and a
content checksum; the checksum is recomputed from the parquet files on
every use, so "same seed, same inputs" is checked, not assumed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# number of parquet files per table
N_FILES = 8
# cache entries kept per workload (older ones are evicted)
KEEP_ENTRIES = 4
# part of every cache key: bump it when a generator changes
GENERATION = 2

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, data.synth.EPOCH
SPAN_US = 90 * 24 * 3600 * 1_000_000  # data.synth.SPAN_SECONDS

# the sf0.1 documents corpus: a uniform 10..100 words per document over
# these 30 words; 5% of the documents are another one plus " dup"
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DOC_WORDS = (10, 100)
DUP_SHARE = 0.05


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def _ids(prefix: str, idx: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{i:010d}" for i in idx.tolist()])


# -- F1/F2: the package's own generators, run in this process ------------

class _Capture:
    """Stands in for the SparkSession that data.synth's generators take.
    They build ``spark.range(n).mapInPandas(gen, schema)``; this records
    `n` and `gen`, so `gen` can run here on one pandas batch of ids, as a
    Python worker would run it.  Its output is a function of (seed, doc)
    alone, whatever the batching."""

    def range(self, n, numPartitions=None):
        self.n = n
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


SCHEMAS = {
    "sequences": pa.schema([("doc_id", pa.string()),
                            ("tokens", pa.list_(pa.int32())),
                            ("n_tok", pa.int32()), ("source", pa.string())]),
    "revisions": pa.schema([("doc_id", pa.string()),
                            ("ts", pa.timestamp("us", tz="UTC")),
                            ("tokens", pa.list_(pa.int32())),
                            ("n_tok", pa.int32()), ("source", pa.string())]),
}


def _synth(make, name: str, n_docs: int, seed: int) -> pa.Table:
    cap = make(_Capture(), n_docs, seed=seed)
    pdf = pd.concat(cap.fn(iter([pd.DataFrame({"id": np.arange(cap.n)})])),
                    ignore_index=True)
    if "ts" in pdf:
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, schema=SCHEMAS[name], preserve_index=False)


def sequences(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """F1: ``data.synth.sequences``."""
    from ifeatureomega_cli_spark.data import synth

    return {"sequences": _synth(synth.sequences, "sequences", n_docs, seed)}


def revisions_and_requests(seed: int, n_docs: int, requests_per_doc: float,
                           hot_keys: int, hot_share: float,
                           unmatched_share: float = 0.05
                           ) -> dict[str, pa.Table]:
    """F2 revisions from ``data.synth.sequence_revisions``, and F3-style
    requests (req_id, doc_id, ts), uniform over F2's time range like
    ``data.synth.feature_requests``, except that `hot_share` of them land
    on `hot_keys` doc ids that have several revisions and
    `unmatched_share` on ids with no revision at all."""
    from ifeatureomega_cli_spark.data import synth

    revisions = _synth(synth.sequence_revisions, "revisions", n_docs, seed)
    g = _rng(seed, 2)
    ids, counts = np.unique(revisions["doc_id"].to_numpy(zero_copy_only=False),
                            return_counts=True)
    multi = np.array([int(d[1:]) for d in ids[counts > 1]])
    hot = g.choice(multi, min(hot_keys, len(multi)), replace=False)
    n_req = int(n_docs * requests_per_doc)
    u = g.random(n_req)
    doc = g.integers(0, n_docs, n_req)
    is_hot = u < hot_share
    doc[is_hot] = hot[g.integers(0, len(hot), int(is_hot.sum()))]
    unmatched = (u >= hot_share) & (u < hot_share + unmatched_share)
    doc[unmatched] = n_docs + g.integers(0, n_docs, int(unmatched.sum()))
    ts = (g.random(n_req) * SPAN_US * 1.1 - SPAN_US * 0.05).astype(np.int64)
    requests = pa.table({
        "req_id": pa.array(np.arange(n_req, dtype=np.int64)),
        "doc_id": _ids("D", doc),
        "ts": pa.array(EPOCH_US + ts, type=pa.timestamp("us", tz="UTC")),
    })
    return {"revisions": revisions, "requests": requests}


# -- near_dup: the sf0.1 corpus shape, replicated, with planted pairs ----

def corpus(g: np.random.Generator, n_docs: int) -> list[str]:
    """Documents shaped like the sf0.1 ``documents.parquet``: word counts
    uniform over DOC_WORDS, words uniform over VOCAB, and DUP_SHARE of the
    documents replaced by another document plus " dup"."""
    lens = g.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_docs)
    words = g.integers(0, len(VOCAB), int(lens.sum()))
    offs = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(VOCAB[w] for w in words[offs[i]:offs[i + 1]])
             for i in range(n_docs)]
    for i in g.choice(n_docs, int(n_docs * DUP_SHARE), replace=False).tolist():
        texts[i] = texts[int(g.integers(0, n_docs))] + " dup"
    return texts


def documents(seed: int, n_base: int, replicas: int, n_planted: int
              ) -> tuple[dict[str, pa.Table], dict]:
    """(doc_id, text) built as ``bench.py::_build_sf10x`` builds its 10x
    corpus: an `n_base`-document `corpus`, replicated `replicas` times
    with every word of replica k > 0 suffixed ``~k`` (no shingle overlap
    across replicas), plus `n_planted` planted near-duplicates of each of
    three kinds, returned with the ground truth:

    * ``exact``: a verbatim copy;
    * ``same_shingles``: case and spacing changed, so the word-shingle
      sets (3-grams and 2-grams alike) are identical;
    * ``graded``: a copy with a run of words replaced, at a word-3-gram
      Jaccard computed here exactly (kept when >= 0.3)."""
    g = _rng(seed, 3)
    base = [t.split(" ") for t in corpus(g, n_base)]
    texts = []
    for k in range(replicas):
        suf = "" if k == 0 else f"~{k}"
        texts.extend(" ".join(w + suf for w in doc) for doc in base)
    n = len(texts)
    copies = Counter(texts)
    truth: dict = {"exact": [], "same_shingles": [], "graded": []}
    src = g.choice(n, 3 * n_planted, replace=False)
    for j, i in enumerate(src.tolist()):
        kind = ("exact", "same_shingles", "graded")[j % 3]
        ws = texts[i].split(" ")
        if kind == "exact":
            if copies[texts[i]] > 1:  # the planted copy's group keeper is i
                continue
            t = texts[i]
        elif kind == "same_shingles":
            t = "  ".join(w.upper() if p % 2 else w for p, w in enumerate(ws))
        else:
            cut = int(g.integers(1, max(2, len(ws) // 4)))
            at = int(g.integers(0, len(ws) - cut + 1))
            repl = [f"planted{j}x{q}" for q in range(cut)]
            t = " ".join(ws[:at] + repl + ws[at + cut:])
            jac = _jaccard3(texts[i], t)
            if jac < 0.3:
                continue
            truth["graded"].append([i, len(texts), round(jac, 6)])
            texts.append(t)
            continue
        truth[kind].append([i, len(texts)])
        texts.append(t)
    order = g.permutation(len(texts))  # planted rows land in every file
    ids = np.empty(len(texts), dtype=np.int64)
    ids[order] = np.arange(len(texts))
    truth = {k: [sorted([int(ids[a]), int(ids[b])]) + rest for a, b, *rest in v]
             for k, v in truth.items()}
    truth["distinct_texts"] = len(set(texts))
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array([texts[i] for i in order.tolist()]),
    })
    return {"documents": table}, truth


def _shingles3(text: str) -> set[str]:
    w = text.lower().split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def _jaccard3(a: str, b: str) -> float:
    sa, sb = _shingles3(a), _shingles3(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


# -- cache ---------------------------------------------------------------

def table_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over every column's logical content (list offsets rebased to
    0, flat values, strings, timestamps as int64), in name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        t = tables[name]
        h.update(name.encode())
        for col in t.column_names:
            h.update(col.encode())
            _digest_array(h, t.column(col).combine_chunks())
    return h.hexdigest()


def _digest_array(h, arr: pa.Array) -> None:
    if pa.types.is_list(arr.type):
        off = arr.offsets.to_numpy()
        h.update((off - off[0]).astype(np.int64).tobytes())
        _digest_array(h, arr.values.slice(off[0], off[-1] - off[0]))
    elif pa.types.is_string(arr.type):
        h.update("\x00".join(arr.to_pylist()).encode())
    elif pa.types.is_timestamp(arr.type):
        h.update(arr.cast(pa.int64()).to_numpy().tobytes())
    else:
        h.update(arr.to_numpy(zero_copy_only=False).tobytes())


def read_tables(entry: str, names) -> dict[str, pa.Table]:
    return {n: pq.read_table(os.path.join(entry, n)) for n in names}


def cached(cache_root: str, workload: str, size: dict, seed: int,
           build) -> dict:
    """Return the cache entry for (workload, size, seed), generating it
    with ``build() -> (tables, truth)`` on a miss.  `size` is the dict of
    generator parameters; it is part of the key.  The returned dict has
    ``dir``, ``tables`` (name -> parquet dir), ``truth``, ``gen_s``,
    ``checksum`` and ``cache_hit``; the checksum is recomputed from the
    files and must equal the one recorded at generation."""
    key = hashlib.sha256(json.dumps([GENERATION, size], sort_keys=True)
                         .encode()).hexdigest()
    entry = os.path.join(cache_root, f"{workload}-{key[:12]}-{seed}")
    meta_path = os.path.join(entry, "meta.json")
    hit = os.path.isfile(meta_path)
    if not hit:
        t0 = time.perf_counter()
        tables, truth = build()
        tmp = entry + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for name, t in tables.items():
            d = os.path.join(tmp, name)
            os.makedirs(d)
            step = -(-t.num_rows // N_FILES)
            for i in range(N_FILES):
                pq.write_table(t.slice(i * step, step),
                               os.path.join(d, f"part-{i:03d}.parquet"))
        gen_s = time.perf_counter() - t0
        meta = {"gen_s": gen_s, "truth": truth, "tables": sorted(tables),
                "rows": {n: t.num_rows for n, t in tables.items()},
                "checksum": table_digest(read_tables(tmp, tables))}
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(entry, ignore_errors=True)
        os.replace(tmp, entry)
        _evict(cache_root, workload, keep=entry)
    with open(meta_path) as f:
        meta = json.load(f)
    os.utime(meta_path)  # LRU stamp
    checksum = table_digest(read_tables(entry, meta["tables"]))
    if checksum != meta["checksum"]:
        raise RuntimeError(f"cached inputs in {entry} changed: checksum "
                           f"{checksum} != recorded {meta['checksum']}")
    return {"dir": entry, "cache_hit": hit, "gen_s": meta["gen_s"],
            "checksum": checksum, "truth": meta["truth"],
            "rows": meta["rows"],
            "tables": {n: os.path.join(entry, n) for n in meta["tables"]}}


def _evict(cache_root: str, workload: str, keep: str) -> None:
    entries = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
               if d.startswith(workload + "-") and not d.endswith(".tmp")]
    entries = [e for e in entries if os.path.isfile(os.path.join(e, "meta.json"))]
    entries.sort(key=lambda e: os.path.getmtime(os.path.join(e, "meta.json")),
                 reverse=True)
    for e in entries[KEEP_ENTRIES:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)
