"""Batch-vectorized numpy kernels over ragged token batches.

Every kernel consumes a whole Arrow batch of token arrays at once — one
``Ragged`` (flattened tokens + offsets) — and produces an ``(n_rows, dim)``
float64 matrix with **no per-row Python loop** for the compositional
archetypes.  This inverts the reference's per-sequence loops
(iFeatureOmegaCLI.py:422 etc.) into columnar form, which is what makes the
Arrow/pandas-UDF path fast: one Python invocation per ~2048 rows, all work
inside numpy.

Archetype map (SURVEY.md §2.0):
  A1 k-gram composition  -> kgram_counts / kspaced_pair_counts
  A2 positional lookup   -> positional_lookup (equal-length)
  A3 sliding window      -> sliding_window_comp (equal-length)
  A4 lag autocorrelation -> lag_stats / LagWorkspace
  A6 reduced alphabet    -> apply a remap array before A1
  A7 cumulative stats    -> cumulative_frequency etc.
"""

from __future__ import annotations

import numpy as np


class Ragged:
    """A batch of variable-length int token rows in flattened form.

    Derived batch structure (row ids, gap-stripped twins) is memoized on the
    instance: a fused multi-descriptor pass calls ``strip(gap)`` /
    ``row_ids()`` once per kernel, and the results depend only on the batch —
    computing them once per batch instead of once per kernel removes the
    dominant redundant memory traffic of the fused path (guide §4.2: make
    the per-batch native work minimal).  Instances are short-lived
    (per-Arrow-batch), so the caches cannot grow unboundedly.

    Pair kernels (tokens ``s`` apart in one row) read the contiguous views
    ``flat[:-s]`` and ``flat[s:]``: pair ``j`` is ``(flat[j], flat[j + s])``
    with row id ``row_ids()[j]``.  ``cross_row(s)`` lists the pairs whose
    second token falls in a later row, which the kernel masks out.
    """

    __slots__ = ("flat", "lengths", "offsets", "n", "_rid", "_stripped")

    def __init__(self, flat: np.ndarray, lengths: np.ndarray):
        self.flat = flat
        self.lengths = lengths
        self.offsets = np.concatenate(([0], np.cumsum(lengths)))
        self.n = len(lengths)
        self._rid = None
        self._stripped: dict[int, "Ragged"] = {}

    @classmethod
    def from_arrays(cls, arrays) -> "Ragged":
        """Build from an iterable of np.ndarray (e.g. a pandas Series from Arrow)."""
        lengths = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
        if lengths.sum() == 0:
            return cls(np.empty(0, dtype=np.int64), lengths)
        flat = np.concatenate(list(arrays)).astype(np.int64, copy=False)
        return cls(flat, lengths)

    @classmethod
    def from_arrow(cls, arr) -> "Ragged":
        """Zero-copy build from a pyarrow ListArray of integer tokens.

        Reads the list offsets and the flat child values directly from the
        Arrow buffers — no per-row Python objects, no per-row concatenate
        (guide §4.2: binary/list columns are one contiguous buffer plus an
        offsets array).  Null rows become empty rows (zero-vector output)."""
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        offsets = arr.offsets.to_numpy()
        lengths = np.diff(offsets).astype(np.int64)
        if arr.null_count:
            lengths[~arr.is_valid().to_numpy(zero_copy_only=False)] = 0
            flat_parts = [
                arr.values.to_numpy(zero_copy_only=False)[s:s + ln]
                for s, ln in zip(offsets[:-1], lengths) if ln
            ]
            flat = (np.concatenate(flat_parts).astype(np.int64)
                    if flat_parts else np.empty(0, dtype=np.int64))
            return cls(flat, lengths)
        values = arr.values.to_numpy(zero_copy_only=False)
        flat = values[offsets[0]:offsets[-1]].astype(np.int64)
        return cls(flat, lengths)

    def row_ids(self) -> np.ndarray:
        if self._rid is None:
            self._rid = np.repeat(np.arange(self.n), self.lengths)
        return self._rid

    def cross_row(self, s: int) -> np.ndarray:
        """Ascending flat indices j < N - s whose j + s lies in a later row:
        each row's last `s` positions, or all of a row shorter than `s`."""
        j = (self.offsets[1:, None] - np.arange(s, 0, -1)).ravel()
        # j >= row start drops the positions before a short row, including
        # the negative ones of a leading empty row
        keep = (j >= np.repeat(self.offsets[:-1], s)) & (j < len(self.flat) - s)
        return j[keep]

    def strip(self, token: int) -> "Ragged":
        """Drop all occurrences of `token` (gap-stripping, ref :423).

        Memoized per token id — every gap-stripping kernel in a fused pass
        shares one stripped twin.  When the batch contains no such token the
        batch itself is returned (no copy)."""
        cached = self._stripped.get(token)
        if cached is not None:
            return cached
        keep = self.flat != token
        if keep.all():
            out = self
        else:
            rid = self.row_ids()[keep]
            lengths = np.bincount(rid, minlength=self.n).astype(np.int64)
            out = Ragged(self.flat[keep], lengths)
        self._stripped[token] = out
        return out

    def remap(self, mapping: np.ndarray) -> "Ragged":
        """Apply an alphabet remap (A6) — same shape, new ids.

        The twin shares this batch's row-id cache (identical lengths)."""
        out = Ragged(mapping[self.flat], self.lengths)
        out._rid = self._rid
        return out

    def to_matrix(self) -> np.ndarray:
        """(n, L) matrix — only valid when all rows equal-length."""
        L = int(self.lengths[0]) if self.n else 0
        if self.n and not np.all(self.lengths == L):
            raise ValueError("to_matrix requires equal-length rows")
        return self.flat.reshape(self.n, L)


def _safe_div(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    den = np.where(den == 0, 1.0, den)
    return num / den


def unigram_counts(r: Ragged, vocab: int, normalize: bool = True) -> np.ndarray:
    """A1 k=1: per-row token frequency.  Ids >= vocab are ignored."""
    rid = r.row_ids()
    ok = r.flat < vocab
    c = np.bincount(rid[ok] * vocab + r.flat[ok], minlength=r.n * vocab)
    out = c.reshape(r.n, vocab).astype(np.float64)
    if normalize:
        out = _safe_div(out, out.sum(axis=1, keepdims=True))
    return out


def _valid_gram_mask(r: Ragged, span: int) -> np.ndarray:
    """Mask over flat positions: True where a gram of total span `span`
    starting here stays inside the row."""
    pos_in_row = np.arange(len(r.flat)) - np.repeat(r.offsets[:-1], r.lengths)
    return pos_in_row + span <= np.repeat(r.lengths, r.lengths)


def kgram_ids(r: Ragged, vocab: int, k: int, gap: int = 0):
    """Gram ids for k tokens spaced by `gap` (stride gap+1 between tokens).

    Returns (ids, row_ids) for all valid positions; positions containing a
    token >= vocab are dropped.
    """
    step = gap + 1
    span = (k - 1) * step + 1
    if len(r.flat) == 0 or span <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    valid = _valid_gram_mask(r, span)
    idx = np.nonzero(valid)[0]
    ids = np.zeros(len(idx), dtype=np.int64)
    ok = np.ones(len(idx), dtype=bool)
    for j in range(k):
        t = r.flat[idx + j * step]
        ok &= t < vocab
        ids = ids * vocab + np.where(t < vocab, t, 0)
    return ids[ok], r.row_ids()[idx[ok]]


def kgram_counts(
    r: Ragged, vocab: int, k: int, normalize: bool = True, gap: int = 0
) -> np.ndarray:
    """A1: contiguous (or k-spaced) k-gram composition, dim vocab**k."""
    dim = vocab**k
    ids, rid = kgram_ids(r, vocab, k, gap)
    c = np.bincount(rid * dim + ids, minlength=r.n * dim).reshape(r.n, dim).astype(np.float64)
    if normalize:
        c = _safe_div(c, c.sum(axis=1, keepdims=True))
    return c


def kspaced_pair_counts(
    r: Ragged, vocab: int, kspace: int, normalize: bool = True
) -> np.ndarray:
    """CKSAAP/CKSNAP (ref :469-508): pair counts at gaps 0..kspace.

    Output layout: [gap0 pairs(vocab²), gap1 pairs, ...]; type 1 divides each
    gap block by its own valid-pair count, type 2 leaves raw counts.
    Pair keys ``row·vocab² + a·vocab + b`` come from the slices ``flat[:-s]``
    and ``flat[s:]``; cross-row pairs and pairs holding an id >= vocab all
    go to one junk bin past the last row, so a batch with unknown ids takes
    the same path as a gap-stripped one.
    """
    n, dim = r.n, vocab * vocab
    flat, rid = r.flat, r.row_ids()
    junk = n * dim
    bad = np.flatnonzero(flat >= vocab)
    # each gap block is written straight into the output, which at
    # n × (kspace+1)·vocab² float64 dominates the memory traffic
    out = np.empty((n, (kspace + 1) * dim))
    for g in range(kspace + 1):
        s = g + 1
        key = rid[:-s] * dim + flat[:-s] * vocab + flat[s:]
        key[r.cross_row(s)] = junk
        key[bad[bad < len(key)]] = junk
        key[bad[bad >= s] - s] = junk
        c = np.bincount(key, minlength=junk + 1)[:junk].reshape(n, dim)
        block = out[:, g * dim:(g + 1) * dim]
        if normalize:
            den = np.bincount(key // dim, minlength=n + 1)[:n]
            den = np.where(den == 0, 1, den).astype(np.float64)
            np.divide(c, den[:, None], out=block)
        else:
            block[:] = c
    return out


def positional_lookup(r: Ragged, table: np.ndarray) -> np.ndarray:
    """A2: per-position lookup gather → (n, L*D); equal-length only.

    `table` is (vocab+1, D): the last row is the gap/unknown vector
    (usually zeros, ref binary :616-635 maps '-' to zeros).
    """
    m = r.to_matrix()
    clipped = np.minimum(m, table.shape[0] - 1)
    return table[clipped].reshape(r.n, -1).astype(np.float64)


def sliding_window_comp(
    r: Ragged,
    vocab_out: int,
    window: int,
    perm: np.ndarray | None = None,
    denom: str = "window",
) -> np.ndarray:
    """A3 (EAAC/ENAC/EGAAC, ref :438-467, :4662-4695, :1060-1098).

    Equal-length rows; for each window start j in [0, L-w], the composition
    of tokens (after optional perm/grouping) over the window.  Tokens mapped
    to id == vocab_out are counted in the denominator when denom='window'
    (the reference divides by the window size, counting gaps) but never in
    the numerator.
    """
    m = r.to_matrix()
    if perm is not None:
        m = perm[m]
    n, L = m.shape
    if n == 0 or L < window:
        return np.zeros((n, 0))
    out = np.empty((n, (L - window + 1) * vocab_out))
    # the one-hot prefix cube is O(rows·L·V·8 B); bound the transient by
    # processing row chunks (~64 MB of intermediates each) — long-token
    # batches (8192 tokens × 2048 rows × V=20 ≈ 2.6 GB unchunked) stay flat
    chunk = max(1, (64 << 20) // max(1, L * vocab_out * 8))
    for lo in range(0, n, chunk):
        mc = m[lo:lo + chunk]
        nc = len(mc)
        oh = (mc[..., None] == np.arange(vocab_out)).astype(np.int32)
        P = np.zeros((nc, L + 1, vocab_out), dtype=np.int32)
        np.cumsum(oh, axis=1, out=P[:, 1:, :])
        del oh
        W = P[:, window:, :] - P[:, :-window, :]   # (nc, L-w+1, V)
        del P
        if denom == "window":
            res = W.astype(np.float64) / float(window)
        elif denom == "valid":
            tot = W.sum(axis=2, keepdims=True).astype(np.float64)
            res = _safe_div(W.astype(np.float64), tot)
        else:
            res = W.astype(np.float64)
        out[lo:lo + chunk] = res.reshape(nc, -1)
    return out


def property_series(r: Ragged, props: np.ndarray) -> np.ndarray:
    """Map tokens → property floats: (len(flat), n_props).

    `props` is (vocab+1, n_props); gap rows should hold whatever the
    reference's semantics need (often the 'A' row or 0)."""
    return props[np.minimum(r.flat, props.shape[0] - 1)]



def cumulative_frequency(r: Ragged) -> np.ndarray:
    """A7 ANF (ref :4604-4627): out[j] = count of token[j] in tokens[0..j] / (j+1).

    Counts every token — including the gap token, matching the reference
    which counts '-' like any other character.  Equal-length only; (n, L)."""
    return running_count_frequency(r.to_matrix())


def lag_stats(x: np.ndarray, r: Ragged, nlag: int) -> dict[str, np.ndarray]:
    """Per-row lagged statistics of a property series x aligned with r.flat.

    Returns (each (n, nlag) unless noted):
      raw[d]    = Σ_j x[j]·x[j+d] / (N−d)                (Moreau-Broto)
      cen[d]    = Σ_j (x[j]−x̄)(x[j+d]−x̄) / (N−d)        (auto-covariance)
      diffsq[d] = Σ_j (x[j]−x[j+d])²                     (Geary numerator, unscaled)
      ssq (n,)  = Σ_j (x[j]−x̄)²
      mean (n,) = x̄
    All computed with segmented bincounts — no per-row Python.
    """
    n = r.n
    rid = r.row_ids()
    lengths = r.lengths.astype(np.float64)
    tot = np.bincount(rid, weights=x, minlength=n)
    mean = tot / np.maximum(lengths, 1.0)
    xc = x - mean[rid]
    ssq = np.bincount(rid, weights=xc * xc, minlength=n)

    pos = np.arange(len(x)) - np.repeat(r.offsets[:-1], r.lengths)
    rl = np.repeat(r.lengths, r.lengths)
    raw = np.zeros((n, nlag))
    cen = np.zeros((n, nlag))
    diffsq = np.zeros((n, nlag))
    headssq = np.zeros((n, nlag))  # Σ_{j<N-d} (x[j]-x̄)² (DNA Moran/Geary quirk)
    for d in range(1, nlag + 1):
        ok = pos + d < rl
        idx = np.nonzero(ok)[0]
        a, b = x[idx], x[idx + d]
        ac, bc = xc[idx], xc[idx + d]
        w = rid[idx]
        denom = np.maximum(lengths - d, 1.0)
        raw[:, d - 1] = np.bincount(w, weights=a * b, minlength=n) / denom
        cen[:, d - 1] = np.bincount(w, weights=ac * bc, minlength=n) / denom
        diffsq[:, d - 1] = np.bincount(w, weights=(a - b) ** 2, minlength=n)
        headssq[:, d - 1] = np.bincount(w, weights=ac * ac, minlength=n)
    return {"raw": raw, "cen": cen, "diffsq": diffsq, "ssq": ssq, "mean": mean,
            "headssq": headssq, "lengths": lengths}


def cross_cov(x: np.ndarray, y: np.ndarray, r: Ragged, nlag: int) -> np.ndarray:
    """CC (ref :1652-1703): Σ_j (x[j]−x̄)(y[j+d]−ȳ) / (N−d), per row and lag."""
    n = r.n
    rid = r.row_ids()
    lengths = r.lengths.astype(np.float64)
    mx = np.bincount(rid, weights=x, minlength=n) / np.maximum(lengths, 1.0)
    my = np.bincount(rid, weights=y, minlength=n) / np.maximum(lengths, 1.0)
    xc, yc = x - mx[rid], y - my[rid]
    pos = np.arange(len(x)) - np.repeat(r.offsets[:-1], r.lengths)
    rl = np.repeat(r.lengths, r.lengths)
    out = np.zeros((n, nlag))
    for d in range(1, nlag + 1):
        ok = pos + d < rl
        idx = np.nonzero(ok)[0]
        out[:, d - 1] = (
            np.bincount(rid[idx], weights=xc[idx] * yc[idx + d], minlength=n)
            / np.maximum(lengths - d, 1.0)
        )
    return out


def gram_view(r: Ragged, vocab: int, k: int):
    """View the batch as a series of contiguous k-gram ids per row.

    Returns (gram_ids, Ragged2) where Ragged2 has lengths max(L-k+1, 0) and
    gram_ids are ordered row-major (same order as positions).  Tokens must
    already be < vocab (strip gaps first)."""
    if k == 1:
        return r.flat.copy(), r
    valid = _valid_gram_mask(r, k)
    idx = np.nonzero(valid)[0]
    ids = np.zeros(len(idx), dtype=np.int64)
    for j in range(k):
        ids = ids * vocab + r.flat[idx + j]
    lengths2 = np.maximum(r.lengths - k + 1, 0)
    return ids, Ragged(ids, lengths2)


def running_count_frequency(m: np.ndarray) -> np.ndarray:
    """out[i, j] = count of m[i, j] in m[i, :j+1], divided by (j+1).

    Generic A7 cumulative kernel over an integer matrix (ANF over tokens,
    LPDF over digram ids)."""
    n, L = m.shape
    vocab = int(m.max()) + 1 if m.size else 1
    oh = (m[..., None] == np.arange(vocab)).astype(np.int64)
    csum = np.cumsum(oh, axis=1)
    run = np.take_along_axis(csum, m[..., None], axis=2)[..., 0]
    return run.astype(np.float64) / (np.arange(1, L + 1)[None, :])


class LagWorkspace:
    """Precomputed per-batch structure for lagged statistics — the valid-
    pair index sets per lag depend only on row lengths, so computing them
    once and reusing across all properties cuts the A4 descriptors'
    dominant cost (8 properties × nlag nonzero scans → nlag scans)."""

    def __init__(self, r: Ragged, nlag: int):
        self.r = r
        self.n = r.n
        self.rid = r.row_ids()
        self.lengths = r.lengths.astype(np.float64)
        pos = np.arange(len(r.flat)) - np.repeat(r.offsets[:-1], r.lengths)
        rl = np.repeat(r.lengths, r.lengths)
        self.idx = {d: np.nonzero(pos + d < rl)[0] for d in range(1, nlag + 1)}
        self.rid_d = {d: self.rid[self.idx[d]] for d in self.idx}
        self.nlag = nlag

    def stats(self, x: np.ndarray, need: tuple[str, ...]) -> dict[str, np.ndarray]:
        n, nlag = self.n, self.nlag
        out: dict[str, np.ndarray] = {"lengths": self.lengths}
        tot = np.bincount(self.rid, weights=x, minlength=n)
        mean = tot / np.maximum(self.lengths, 1.0)
        xc = x - mean[self.rid]
        out["mean"] = mean
        if "ssq" in need:
            out["ssq"] = np.bincount(self.rid, weights=xc * xc, minlength=n)
        for key in ("raw", "cen", "diffsq", "headssq"):
            if key in need:
                out[key] = np.zeros((n, nlag))
        for d in range(1, nlag + 1):
            idx = self.idx[d]
            w = self.rid_d[d]
            denom = np.maximum(self.lengths - d, 1.0)
            if "raw" in need:
                out["raw"][:, d - 1] = np.bincount(
                    w, weights=x[idx] * x[idx + d], minlength=n) / denom
            if "cen" in need:
                out["cen"][:, d - 1] = np.bincount(
                    w, weights=xc[idx] * xc[idx + d], minlength=n) / denom
            if "diffsq" in need:
                out["diffsq"][:, d - 1] = np.bincount(
                    w, weights=(x[idx] - x[idx + d]) ** 2, minlength=n)
            if "headssq" in need:
                out["headssq"][:, d - 1] = np.bincount(
                    w, weights=xc[idx] * xc[idx], minlength=n)
        return out


def subsequence_profile(r: Ragged, vocab: int, k: int, delta: float) -> np.ndarray:
    """Gap-weighted subsequence profile (ref Subsequence :4415-4474).

    out[i, g] = Σ over index combos i1<…<ik of row i whose tokens spell gram
    g of w(span), where span = ik−i1+1 and w = 1 if span == k (contiguous)
    else delta**span.

    Computed as a positional DP over weighted prefix-carry states — one pass
    over positions, O(L · vocab^k) batch-vectorized work — instead of the
    reference's O(C(L, k)) itertools.combinations enumeration.

    Carry state C_p[g'] after position j = Σ over valid length-p combos with
    last index ≤ j of delta^(j − i1 + 1); it decays by delta per position and
    extends by one token at matches.  Contiguous combos accumulate delta^k in
    the DP and are topped up to weight 1 via the plain k-gram counts.

    Combos containing a token ≥ vocab replicate the reference bug
    (`vector[0, None] += score` broadcasts the score to EVERY feature,
    :4443-4447): their total weight — an alphabet-collapsed twin DP minus the
    valid DP — is added to all columns.
    """
    n = r.n
    dim = vocab ** k
    if n == 0:
        return np.zeros((0, dim))
    L = int(r.lengths.max()) if len(r.lengths) else 0
    if L < k:
        return np.zeros((n, dim))
    # padded (n, L) matrix; sentinel `vocab` = gap/unknown token, and a
    # real-position mask distinguishes padding (no position at all)
    M = np.full((n, L), vocab, dtype=np.int64)
    rows = r.row_ids()
    cols = np.arange(len(r.flat)) - np.repeat(r.offsets[:-1], r.lengths)
    M[rows, cols] = np.minimum(r.flat, vocab)
    pos_real = np.arange(L)[None, :] < r.lengths[:, None]

    A = np.zeros((n, dim))          # Σ_j S_k(j): delta-weighted valid combos
    a_tot = np.zeros(n)             # same, over ALL combos (gap included)
    row_idx = np.arange(n)
    if k >= 2:
        C = [np.zeros((n, vocab ** p)) for p in range(1, k)]
        c = [np.zeros(n) for _ in range(1, k)]
        for j in range(L):
            t = M[:, j]
            real = pos_real[:, j]
            if not real.any():
                break
            tok_valid = real & (t < vocab)
            tc = np.where(tok_valid, t, 0)
            decay = np.where(real, delta, 1.0)
            # extensions use carries as of j-1: update levels top-down so
            # each level reads the not-yet-updated level below it
            extA = delta * C[k - 2]
            extA[~tok_valid] = 0.0
            idx = np.arange(vocab ** (k - 1))[None, :] * vocab + tc[:, None]
            A[row_idx[:, None], idx] += extA     # (row, col) pairs unique
            a_tot += np.where(real, delta * c[k - 2], 0.0)
            for p in range(k - 1, 1, -1):
                ext = delta * C[p - 2]
                ext[~tok_valid] = 0.0
                idxp = np.arange(vocab ** (p - 1))[None, :] * vocab + tc[:, None]
                C[p - 1] *= decay[:, None]
                C[p - 1][row_idx[:, None], idxp] += ext
                c[p - 1] = np.where(real, delta * (c[p - 1] + c[p - 2]), c[p - 1])
            C[0] *= decay[:, None]
            C[0][row_idx, tc] += np.where(tok_valid, delta, 0.0)
            c[0] = np.where(real, delta * c[0] + delta, c[0])
    # contiguous top-up: DP counted contiguous combos at delta^k, the
    # reference scores them 1.  For k == 1 every combo is contiguous and the
    # DP was skipped entirely, so the top-up carries the full weight.
    contig_valid = kgram_counts(r, vocab, k, normalize=False)
    n_contig_all = np.maximum(r.lengths - k + 1, 0).astype(np.float64)
    topup = 1.0 if k == 1 else 1.0 - delta ** k
    out = A + contig_valid * topup
    w_gap = (a_tot - A.sum(axis=1)) + (
        n_contig_all - contig_valid.sum(axis=1)) * topup
    return out + w_gap[:, None]
