"""Hash the output bytes of every registered descriptor, to compare two
source trees byte for byte.

Each descriptor runs through `batch_kernel` (the UDFs' entry point) on
seeded batches: 2048-row synthetic batches shaped like `data.synth`
(lognormal lengths, 1% gaps), 256-row equal-length batches for the
equal-length descriptors, fuzzed edge batches (empty, length-1 and
all-gap rows, out-of-vocabulary ids such as gap + 1, -1 and 1000) and a
batch of empty rows.  Every sequence type's descriptors share one batch,
run in registry order and again in reverse on a fresh batch, so memoized
per-batch state is exercised both ways.  RuntimeWarning is an error; an
exception is recorded as the descriptor's result.

Usage (the tree under test comes from PYTHONPATH, not from this file):
  PYTHONPATH=<tree A> python tools/descriptor_hashes.py A.json [batches]
  PYTHONPATH=<tree B> python tools/descriptor_hashes.py B.json [batches]
  python tools/descriptor_hashes.py --diff A.json B.json
"""

from __future__ import annotations

import hashlib
import json
import sys
import warnings

import numpy as np

GAP = {"protein": 20, "dna": 4, "rna": 4}
EQUAL_L = {"protein": 31, "dna": 81, "rna": 81}


def synth_rows(rng, n: int, gap: int) -> list[np.ndarray]:
    rows = []
    for _ in range(n):
        L = int(np.clip(rng.lognormal(np.log(64), 1.0), 8, 4096))
        t = rng.integers(0, gap, size=L)
        t[rng.random(L) < 0.01] = gap
        rows.append(t)
    return rows


def edge_rows(rng, gap: int, equal: int = 0) -> list[np.ndarray]:
    rows = []
    for _ in range(64):
        L = equal or int(rng.choice([0, 1, 2, 3, 5, 8, 40]))
        kind = rng.integers(0, 5)
        if kind == 0:
            t = np.full(L, gap)
        elif kind == 1:
            t = rng.choice([gap + 1, -1, 1000, -7, 0, 1, gap], size=L)
        else:
            t = rng.integers(0, gap + 1, size=L)
        rows.append(np.asarray(t, dtype=np.int64))
    return rows


def batches(seq_type: str, n_batches: int):
    """(label, rows, equal_length) triples for one sequence type."""
    gap, L = GAP[seq_type], EQUAL_L[seq_type]
    for b in range(n_batches):
        rng = np.random.default_rng([501, b, gap])
        yield f"synth{b}", synth_rows(rng, 2048, gap), False
        yield f"equal{b}", [rng.integers(0, gap + 1, size=L)
                            for _ in range(256)], True
    for b in range(8):
        rng = np.random.default_rng([77, b, gap])
        yield f"edge{b}", edge_rows(rng, gap), False
        yield f"edge_equal{b}", edge_rows(rng, gap, L), True
    yield "empty_rows", [np.empty(0, np.int64)] * 5, False


def digest(kern, r) -> str:
    try:
        out = kern(r)
    except Exception as e:  # noqa: BLE001 - the failure is the result
        return f"ERR {type(e).__name__}: {e}"[:200]
    return (hashlib.sha256(np.ascontiguousarray(out).tobytes()).hexdigest()
            + str(out.shape))


def hashes(n_batches: int) -> dict[str, str]:
    from ifeatureomega_cli_spark.functions.extract import batch_kernel
    from ifeatureomega_cli_spark.functions.kernels import Ragged
    from ifeatureomega_cli_spark.functions.registry import DESCRIPTORS

    warnings.simplefilter("error", RuntimeWarning)
    res = {}
    for seq_type in GAP:
        specs = {k: s for k, s in sorted(DESCRIPTORS.items())
                 if s.seq_type == seq_type}
        for label, rows, equal in batches(seq_type, n_batches):
            L = EQUAL_L[seq_type] if equal else 0
            keys = [k for k, s in specs.items() if s.equal_length == equal]
            kerns = {k: batch_kernel(k, None, L) for k in keys}
            for order, seq in (("fwd", keys), ("rev", keys[::-1])):
                r = Ragged.from_arrays(rows)
                for k in seq:
                    res[f"{label}|{k}|{order}"] = digest(kerns[k], r)
    return res


def main(argv: list[str]) -> int:
    if argv[:1] == ["--diff"]:
        a, b = (json.load(open(p)) for p in argv[1:3])
        diff = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
        print(f"{len(a)} vs {len(b)} outputs, {len(diff)} differ")
        for k in diff[:20]:
            print(" ", k, a.get(k), b.get(k))
        return 1 if diff else 0
    res = hashes(int(argv[1]) if len(argv) > 1 else 20)
    with open(argv[0], "w") as f:
        json.dump(res, f, indent=0, sort_keys=True)
    errs = sum(v.startswith("ERR") for v in res.values())
    print(f"{len(res)} outputs, {errs} raised")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
