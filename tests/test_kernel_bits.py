"""Bit-identity pin for the descriptor kernels.

The goldens compare with ``allclose`` at 1e-9, which a kernel rewrite can
pass while changing the last bits of its output.  This test hashes the
exact float64 bytes each kernel returns on a seeded ``data.synth``
batch plus hand-made edge rows, so a rewrite must keep every bit.  The
hashes were recorded before the pair, CTDT, CTDD and PAAC kernels were
rebuilt on contiguous slices.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ifeatureomega_cli_spark.functions.kernels import Ragged
from ifeatureomega_cli_spark.functions.registry import get_spec

# a leading empty row (offset 0), length-1 rows, all-gap rows (gap = 20)
# and rows shorter than CKSAAP's widest gap (kspace 3 → span 5)
EDGE_HEAD = [[]]
EDGE_TAIL = [[7], [20], [20, 20, 20], [], [1, 2], [3, 4, 5], [6, 7, 8, 9],
             [20, 3, 20, 20, 7], [0], [19, 19, 19, 19, 19, 19], [4, 4, 20]]

# sha256 of kern(batch).tobytes()
GOLDEN = {
    "protein:AAC": "0607df95497545b11f1a39adb9f15d4584da0725766dec890f0d3bbec238db25",
    "protein:DPC type 1": "7ca9fd38afefbe39a2a523a1a130e07df543ecd026f51814f630a8b7c7129f73",
    "protein:CKSAAP type 1": "f8659a0514a02eb42baf6f9500a10b5d4eb3ece80ba5c329ca0d8c24d311e636",
    "protein:GAAC": "b580f658088a1bef9bc5cc905a1861396f0c793ec0c48b759ffefb80eceb468a",
    "protein:CTDC": "0728faa3282ea6ac8d30aa2ac8b2927038f6746086412b79029dc61ebd010449",
    "protein:CTDT": "c89d5970970f97ee466009bf13afd17e40f03b12b017e7d2a4c5da6b534f404d",
    "protein:CTDD": "d6dc3cc49ab723121cbe559f40888c64b5d05d2a4d84f5af4caf1a9083bcf6f1",
    "protein:PAAC": "61a49e9a0c8bd029e1ade25d37b4773e35274817bd83d6d6500178713a1de06a",
    "protein:CKSAAP type 2": "7c631d3fd94e86344ceac69cca317b247ce23d18dd446b3270f88c1944e7cd6c",
    "dna:CKSNAP type 1": "305b716804ed9fa6184dc272cf5c28881f6c9a0b32235a451ae3bc7453060095",
    "protein:SOCNumber": "de535ea34920bead5f54d2450014df80c8cef34cfa5b9a51b050f52535795609",
    "protein:QSOrder": "47fa9e0285aca007ce216dc90e77f4651c652119177509da954a2b3352964205",
    "protein:APAAC": "9859753797a8d1b76108e626a428cad48c39431f0ae8b5ff0a9fb14bf06527b5",
}


@pytest.fixture(scope="module")
def batch(spark):
    from ifeatureomega_cli_spark.data import synth

    rows = [r.tokens for r in synth.sequences(spark, n_docs=512, seed=13)
            .orderBy("doc_id").select("tokens").collect()]
    return Ragged.from_arrays([np.array(t, dtype=np.int64)
                               for t in EDGE_HEAD + rows + EDGE_TAIL])


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_kernel_output_bits_pinned(batch, name):
    out = get_spec(name).kernel(None, 0)(batch)
    assert out.shape[0] == batch.n
    assert hashlib.sha256(out.tobytes()).hexdigest() == GOLDEN[name]


def _sha(out: np.ndarray) -> str:
    return hashlib.sha256(out.tobytes()).hexdigest()


def test_shared_planes_do_not_leak_between_kernels(batch):
    """Every pinned kernel on ONE batch, forward then reversed, with
    CKSAAP at kspace 5 and DPC type 2 in between: each kernel reads count
    planes an earlier kernel built and still returns its pinned bits."""
    r = Ragged(batch.flat, batch.lengths)
    names = sorted(GOLDEN)
    for i, order in enumerate((names, names[::-1])):
        for name in order:
            assert _sha(get_spec(name).kernel(None, 0)(r)) == GOLDEN[name], name
        if i == 0:
            wide = get_spec("protein:CKSAAP type 1").kernel({"kspace": 5}, 0)(r)
            assert _sha(np.ascontiguousarray(wide[:, :4 * 400])) == \
                GOLDEN["protein:CKSAAP type 1"]
            raw = get_spec("protein:DPC type 2").kernel(None, 0)(r)
            raw[:] = -1.0  # the caller owns its output: planes stay intact


def test_gap_free_strip_leaves_no_cycle():
    """A batch without gap tokens is its own stripped twin; dropping it
    must free it and its count planes without the cyclic GC."""
    import gc

    kern = get_spec("protein:CTDC").kernel(None, 0)
    gc.collect()
    gc.disable()
    try:
        r = Ragged.from_arrays([np.arange(20), np.array([3, 4, 5])])
        assert r.strip(20) is r
        kern(r)
        del r
        assert gc.collect() == 0
    finally:
        gc.enable()


def test_fused_call_builds_each_plane_once(monkeypatch):
    """A batch holding an out-of-vocabulary id gets one clamped twin, so
    the kernels of one fused call share its strip and count planes."""
    from collections import Counter

    from ifeatureomega_cli_spark.functions.extract import batch_kernel

    built = Counter()
    memo = Ragged.memo

    def counting(self, key, build):
        def count():
            built[key] += 1
            return build()

        return memo(self, key, count)

    monkeypatch.setattr(Ragged, "memo", counting)
    names = ["protein:AAC", "protein:DPC type 1", "protein:CKSAAP type 1",
             "protein:GAAC", "protein:CTDC", "protein:CTDT", "protein:CTDD",
             "protein:PAAC"]
    kerns = [batch_kernel(n) for n in names]
    r = Ragged.from_arrays([np.array([3, 21, 0, 4, 9, 20, 2, 7]),
                            np.array([1, 2, 3, -5, 0, 8, 1])])
    for k in kerns:
        k(r)
    assert set(built) == {("clamp", 20), ("strip", 20), ("residues", 20),
                          ("pairs", 20, 1), ("pairs", 20, 2), ("pairs", 20, 3),
                          ("pairs", 20, 4), "ctd_groups"}
    assert set(built.values()) == {1}
