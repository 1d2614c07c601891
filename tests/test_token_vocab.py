"""Token ids outside a descriptor's vocabulary read as its gap id.

`extract` accepts any ``array<int>`` column, but the tokenizers only emit
``[0, gap]`` (gap = 20 protein, 4 DNA/RNA) and most kernels index lookup
tables with the raw id.  `batch_kernel`, which both UDF builders run,
maps every other id to the gap id, as the tokenizers do for unknown
letters at read time, so every descriptor returns the vector it returns
on the gap-substituted batch.
"""

from __future__ import annotations

import numpy as np
import pytest

from ifeatureomega_cli_spark.functions.extract import batch_kernel
from ifeatureomega_cli_spark.functions.kernels import Ragged
from ifeatureomega_cli_spark.functions.registry import DESCRIPTORS

L_BY_TYPE = {"protein": 31, "dna": 81, "rna": 81}


def _rows(seq_type: str, gap: int) -> list[np.ndarray]:
    """Two equal-length rows; row 0 holds the gap id at its ends and in
    the middle, the positions the bad id will take."""
    rng = np.random.RandomState(5)
    rows = [rng.randint(0, gap, size=L_BY_TYPE[seq_type]).astype(np.int64)
            for _ in range(2)]
    rows[0][[0, 7, -1]] = gap
    return rows


@pytest.mark.parametrize("bad", ["gap+1", "-1"])
@pytest.mark.parametrize("key", sorted(DESCRIPTORS))
def test_out_of_vocab_id_reads_as_gap(key, bad):
    spec = DESCRIPTORS[key]
    L = L_BY_TYPE[spec.seq_type]
    rows = _rows(spec.seq_type, spec.gap)
    want = spec.kernel(None, L)(Ragged.from_arrays(rows))
    bad_id = spec.gap + 1 if bad == "gap+1" else -1
    bad_rows = [np.where(r == spec.gap, bad_id, r) for r in rows]
    got = batch_kernel(key, None, L)(Ragged.from_arrays(bad_rows))
    np.testing.assert_array_equal(got, want)


def test_clamp_in_range_is_the_batch_itself():
    r = Ragged.from_arrays([np.array([0, 20, 5]), np.array([], np.int64)])
    assert r.clamp(20) is r
    assert r.clamp(4).flat.tolist() == [0, 4, 4]
    assert r.clamp(4).lengths.tolist() == [3, 0]
    empty = Ragged.from_arrays([np.array([], np.int64)])
    assert empty.clamp(4) is empty


def test_udfs_map_out_of_vocab_ids(spark):
    """Both UDF paths apply the guard, per sequence type: one protein
    descriptor and one DNA descriptor in a single `extract_many`."""
    from ifeatureomega_cli_spark.functions.extract import extract, extract_many

    rows = [[3, 21, 0, 4, 9, -1, 2], [1, 2, 3, -5, 0, 25, 1]]
    prot = [[t if 0 <= t <= 20 else 20 for t in r] for r in rows]
    dna = [[t if 0 <= t <= 4 else 4 for t in r] for r in rows]
    schema = "doc_id long, tokens array<int>, n_tok int"
    df = spark.createDataFrame(
        [(i, r, len(r)) for i, r in enumerate(rows)], schema)

    def feats(frame, col):
        return [list(r[col]) for r in frame.orderBy("doc_id").collect()]

    names = ["protein:GAAC", "dna:Z_curve_9bit"]
    many = extract_many(df, names)
    for name, col, clean in [(names[0], "GAAC", prot),
                             (names[1], "Z_curve_9bit", dna)]:
        cdf = spark.createDataFrame(
            [(i, r, len(r)) for i, r in enumerate(clean)], schema)
        want = feats(extract(cdf, name), "features")
        assert feats(extract(df, name), "features") == want
        assert feats(many, col) == want
