"""Property-based kernel tests: batch-vectorized kernels vs naive
per-sequence loops on random ragged batches (gaps, tiny rows, all-gap
rows, duplicate rows — shapes the 300-sequence goldens can't cover)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from ifeatureomega_cli_spark.functions.kernels import (
    LagWorkspace, Ragged, kgram_counts, kspaced_pair_counts,
    running_count_frequency)

token_row = st.lists(st.integers(0, 20), min_size=0, max_size=40)
batches = st.lists(token_row, min_size=1, max_size=12)


def _ragged(rows):
    return Ragged.from_arrays(np.array([np.array(r, dtype=np.int64) for r in rows],
                                       dtype=object))


def _strip(row):
    return [t for t in row if t != 20]


@settings(max_examples=60, deadline=None)
@given(batches)
def test_unigram_counts_matches_naive(rows):
    r = _ragged(rows).strip(20)
    got = kgram_counts(r, 20, 1, normalize=True)
    for i, row in enumerate(rows):
        s = _strip(row)
        exp = np.zeros(20)
        for t in s:
            exp[t] += 1
        if s:
            exp = exp / len(s)
        assert np.allclose(got[i], exp), (i, s)


@settings(max_examples=60, deadline=None)
@given(batches, st.integers(1, 3))
def test_kgram_counts_matches_naive(rows, k):
    r = _ragged(rows).strip(20)
    got = kgram_counts(r, 20, k, normalize=False)
    for i, row in enumerate(rows):
        s = _strip(row)
        exp = np.zeros(20**k)
        for j in range(len(s) - k + 1):
            g = 0
            for t in s[j: j + k]:
                g = g * 20 + t
            exp[g] += 1
        assert np.allclose(got[i], exp), (i, s, k)


# a leading empty row (offset 0), length-1 rows, all-gap rows and rows
# shorter than the widest gap, around the drawn ones
EDGE_TAIL = [[5], [20], [20, 20, 20], [], [1, 2], [3, 20, 4], [0, 0, 0, 0]]


def _with_edges(rows):
    return [[]] + rows + EDGE_TAIL


@pytest.mark.parametrize("s", [1, 2, 4])
def test_cross_row_lists_pairs_leaving_the_row(s):
    # row lengths 0, 1, s and s+1, after a leading empty row
    lengths = np.array([0, 0, 1, s, s + 1, 0, s + 1], dtype=np.int64)
    r = Ragged(np.zeros(int(lengths.sum()), dtype=np.int64), lengths)
    rid = r.row_ids()
    N = len(r.flat)
    want = [j for j in range(N - s) if rid[j + s] != rid[j]]
    assert r.cross_row(s).tolist() == want


@pytest.mark.filterwarnings("error::RuntimeWarning")
@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(0, 22), max_size=30), max_size=10),
       st.integers(0, 3), st.booleans())
def test_kspaced_pairs_match_naive(rows, ks, normalize):
    """Unstripped rows with ids 20..22 at vocab 20: pairs holding one are
    neither counted nor part of the type-1 denominator."""
    rows = _with_edges(rows)
    got = kspaced_pair_counts(_ragged(rows), 20, ks, normalize=normalize)
    for i, row in enumerate(rows):
        exp = []
        for g in range(ks + 1):
            block = np.zeros(400)
            for j in range(len(row) - g - 1):
                a, b = row[j], row[j + g + 1]
                if a < 20 and b < 20:
                    block[a * 20 + b] += 1
            if normalize and block.sum():
                block /= block.sum()
            exp.append(block)
        assert np.array_equal(got[i], np.concatenate(exp)), (i, row, ks)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(0, 22), max_size=30), max_size=10),
       st.integers(0, 3), st.booleans())
def test_kgram_pairs_match_kspaced_blocks(rows, ks, normalize):
    """k = 2 grams at gap g are CKSAAP's block g, counted alone on a fresh
    batch and read from a plane a CKSAAP call on a shared batch built."""
    rows = _with_edges(rows)
    shared = _ragged(rows)
    blocks = kspaced_pair_counts(shared, 20, ks, normalize=normalize)
    for g in range(ks + 1):
        want = blocks[:, g * 400:(g + 1) * 400]
        for r in (_ragged(rows), shared):
            got = kgram_counts(r, 20, 2, normalize=normalize, gap=g)
            assert np.array_equal(got, want), (g, normalize)


def _ctd(name):
    from ifeatureomega_cli_spark.functions.registry import _ctd_groups, get_spec

    return get_spec(name).kernel(None, 0), _ctd_groups()


@pytest.mark.filterwarnings("error::RuntimeWarning")
@settings(max_examples=40, deadline=None)
@given(batches)
def test_ctdt_matches_naive(rows):
    """Tr1221/Tr1331/Tr2332 (ref :1853-1937): the share of adjacent pairs
    that change between the two groups, per property."""
    rows = _with_edges(rows)
    kern, groups = _ctd("protein:CTDT")
    got = kern(_ragged(rows))
    for i, row in enumerate(rows):
        s = _strip(row)
        exp = []
        for gp in groups:
            lab = [gp[t] for t in s]
            pairs = list(zip(lab, lab[1:]))
            for x, y in ((0, 1), (0, 2), (1, 2)):
                exp.append(sum(p in ((x, y), (y, x)) for p in pairs)
                           / max(len(pairs), 1))
        assert np.array_equal(got[i], exp), (i, s)


@pytest.mark.filterwarnings("error::RuntimeWarning")
@settings(max_examples=40, deadline=None)
@given(batches)
def test_ctdd_matches_naive(rows):
    """Count1 (ref :1939-1958): the 1-based position of a group's first,
    floor(25/50/75%) (min 1) and last member, as % of the length; 0 when
    the group is absent."""
    import math

    rows = _with_edges(rows)
    kern, groups = _ctd("protein:CTDD")
    got = kern(_ragged(rows))
    for i, row in enumerate(rows):
        s = _strip(row)
        exp = []
        for gp in groups:
            for grp in range(3):
                at = [j + 1 for j, t in enumerate(s) if gp[t] == grp]
                cnt = len(at)
                for cut in (1, math.floor(0.25 * cnt), math.floor(0.50 * cnt),
                            math.floor(0.75 * cnt), cnt):
                    exp.append(at[max(cut, 1) - 1] / len(s) * 100 if at else 0)
        assert np.array_equal(got[i], exp), (i, s)


@pytest.mark.filterwarnings("error::RuntimeWarning")
@settings(max_examples=40, deadline=None)
@given(batches, st.integers(1, 4))
def test_pair_lag_sum_matches_naive(rows, nlag):
    """Σ M[s_j, s_{j+d}] over in-row pairs, summed in row order, with an M
    of both signs."""
    from ifeatureomega_cli_spark.functions.registry import _pair_lag_sum

    rows = _with_edges(rows)
    M = np.random.RandomState(3).rand(20, 20) - 0.5
    got = _pair_lag_sum(_ragged(rows).strip(20), M, nlag, mean=True)
    for i, row in enumerate(rows):
        s = _strip(row)
        for d in range(1, nlag + 1):
            tot = 0.0
            for j in range(len(s) - d):
                tot += M[s[j], s[j + d]]
            assert got[i, d - 1] == tot / max(len(s) - d, 1.0), (i, s, d)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.integers(0, 4), min_size=2, max_size=12),
                min_size=1, max_size=8).filter(
                    lambda rs: len({len(r) for r in rs}) == 1))
def test_running_count_frequency_matches_naive(rows):
    m = np.array(rows)
    got = running_count_frequency(m)
    for i, row in enumerate(rows):
        for j in range(len(row)):
            exp = row[: j + 1].count(row[j]) / (j + 1)
            assert abs(got[i, j] - exp) < 1e-12


@settings(max_examples=40, deadline=None)
@given(st.lists(st.lists(st.floats(-3, 3, allow_nan=False), min_size=0,
                         max_size=25), min_size=1, max_size=8),
       st.integers(1, 4))
def test_lag_workspace_matches_naive(series, nlag):
    lengths = np.array([len(s) for s in series], dtype=np.int64)
    flat = np.concatenate([np.array(s) for s in series]) if lengths.sum() else np.empty(0)
    r = Ragged(np.zeros(int(lengths.sum()), dtype=np.int64), lengths)
    ws = LagWorkspace(r, nlag)
    st_out = ws.stats(flat, ("raw", "cen", "diffsq", "headssq", "ssq"))
    for i, s in enumerate(series):
        x = np.array(s)
        mean = x.mean() if len(x) else 0.0
        assert abs(st_out["mean"][i] - mean) < 1e-9
        for d in range(1, nlag + 1):
            pairs = [(x[j], x[j + d]) for j in range(len(x) - d)]
            denom = max(len(x) - d, 1)
            raw = sum(a * b for a, b in pairs) / denom
            cen = sum((a - mean) * (b - mean) for a, b in pairs) / denom
            diffsq = sum((a - b) ** 2 for a, b in pairs)
            headssq = sum((a - mean) ** 2 for a, _ in pairs)
            assert abs(st_out["raw"][i, d - 1] - raw) < 1e-9
            assert abs(st_out["cen"][i, d - 1] - cen) < 1e-9
            assert abs(st_out["diffsq"][i, d - 1] - diffsq) < 1e-9
            assert abs(st_out["headssq"][i, d - 1] - headssq) < 1e-9


eq_batches = st.integers(2, 20).flatmap(
    lambda L: st.lists(st.lists(st.integers(0, 20), min_size=L, max_size=L),
                       min_size=1, max_size=8))


@settings(max_examples=40, deadline=None)
@given(eq_batches)
def test_positional_lookup_matches_naive(rows):
    from ifeatureomega_cli_spark.functions.kernels import positional_lookup

    rng = np.random.RandomState(0)
    table = rng.rand(21, 4)
    r = _ragged(rows)
    got = positional_lookup(r, table)
    for i, row in enumerate(rows):
        exp = np.concatenate([table[min(t, 20)] for t in row])
        assert np.allclose(got[i], exp)


@settings(max_examples=40, deadline=None)
@given(eq_batches, st.integers(1, 5))
def test_sliding_window_comp_matches_naive(rows, w):
    from ifeatureomega_cli_spark.functions.kernels import sliding_window_comp

    L = len(rows[0])
    if w > L:
        return
    r = _ragged(rows)
    got = sliding_window_comp(r, 20, w, denom="window")
    for i, row in enumerate(rows):
        exp = []
        for j in range(L - w + 1):
            win = row[j: j + w]
            for a in range(20):
                exp.append(win.count(a) / w)  # gap (20) counted in denom only
        assert np.allclose(got[i], exp), (i, row, w)


class TestSubsequenceDP:
    """Positional-DP subsequence profile vs brute-force enumeration."""

    @staticmethod
    def _brute(seq, vocab, k, delta):
        import itertools
        v = np.zeros(vocab ** k)
        for combo in itertools.combinations(range(len(seq)), k):
            toks = [seq[i] for i in combo]
            span = combo[-1] - combo[0] + 1
            score = 1.0 if span == k else delta ** span
            if any(t >= vocab for t in toks):
                v += score  # ref gap-kmer broadcast bug (:4443-4447)
            else:
                g = 0
                for t in toks:
                    g = g * vocab + t
                v[g] += score
        return v

    def test_matches_bruteforce_randomized(self):
        from ifeatureomega_cli_spark.functions.kernels import (
            Ragged, subsequence_profile)
        rng = np.random.RandomState(7)
        for trial in range(25):
            k = int(rng.choice([1, 2, 3, 4]))
            delta = float(rng.choice([0.0, 0.25, 0.5, 1.0]))
            seqs = [rng.randint(0, 5, size=rng.randint(k, 16)).tolist()
                    for _ in range(rng.randint(1, 5))]
            r = Ragged.from_arrays([np.array(s) for s in seqs])
            got = subsequence_profile(r, 4, k, delta)
            want = np.stack([self._brute(s, 4, k, delta) for s in seqs])
            assert np.allclose(got, want, rtol=1e-9, atol=1e-12), (k, delta)

    def test_long_sequence_batch_under_1s(self):
        import time
        from ifeatureomega_cli_spark.functions.kernels import (
            Ragged, subsequence_profile)
        rng = np.random.RandomState(0)
        r = Ragged.from_arrays([rng.randint(0, 4, size=1000) for _ in range(256)])
        t0 = time.time()
        out = subsequence_profile(r, 4, 3, 0.5)
        assert time.time() - t0 < 1.0
        assert out.shape == (256, 64) and np.isfinite(out).all()
