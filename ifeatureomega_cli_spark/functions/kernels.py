"""Batch-vectorized numpy kernels over ragged token batches.

Every kernel consumes a whole Arrow batch of token arrays at once — one
``Ragged`` (flattened tokens + offsets) — and produces an ``(n_rows, dim)``
float64 matrix with **no per-row Python loop** for the compositional
archetypes.  This inverts the reference's per-sequence loops
(iFeatureOmegaCLI.py:422 etc.) into columnar form, which is what makes the
Arrow/pandas-UDF path fast: one Python invocation per ~2048 rows, all work
inside numpy.

Archetype map (SURVEY.md §2.0):
  A1 k-gram composition  -> kgram_counts / kspaced_pair_counts, reading
                            the memoized count planes residue_counts
                            (k = 1) and pair_counts (k = 2)
  A2 positional lookup   -> positional_lookup (equal-length)
  A3 sliding window      -> sliding_window_comp (equal-length)
  A4 lag autocorrelation -> LagWorkspace / cross_cov
  A6 reduced alphabet    -> apply a remap array before A1, or multiply
                            a count plane by a 0/1 group matrix
  A7 cumulative stats    -> cumulative_frequency etc.
"""

from __future__ import annotations

import numpy as np


class Ragged:
    """A batch of variable-length int token rows in flattened form.

    Derived per-batch arrays are memoized on the instance (``row_ids``,
    ``memo``): the row ids, the gap-stripped and clamped twins, and the
    count planes the composition kernels read — the residue plane
    (``residue_counts``, per-row token counts), one pair plane per
    distance ``s`` (``pair_counts``, per-row counts of token pairs ``s``
    apart) and CTD's group-count plane (registry ``_ctd_counts``).  A
    fused multi-descriptor pass runs ~8 kernels on one batch; each builds
    what it needs on first use and reads what an earlier kernel built, so
    a kernel also runs alone on a fresh batch (guide §4.2: make the
    per-batch native work minimal).  Memoized arrays are read-only.
    Nothing memoized points back at the batch: a batch that is its own
    twin is not stored as one, so dropping the batch frees its memo at
    once instead of at the next cyclic GC.  Instances are short-lived
    (per-Arrow-batch), so the memo cannot grow unboundedly.

    Pair kernels (tokens ``s`` apart in one row) read the contiguous views
    ``flat[:-s]`` and ``flat[s:]``: pair ``j`` is ``(flat[j], flat[j + s])``
    with row id ``row_ids()[j]``.  ``cross_row(s)`` lists the pairs whose
    second token falls in a later row, which the kernel masks out.
    """

    __slots__ = ("flat", "lengths", "offsets", "n", "_rid", "_bounds",
                 "_memo")

    def __init__(self, flat: np.ndarray, lengths: np.ndarray):
        self.flat = flat
        self.lengths = lengths
        self.offsets = np.concatenate(([0], np.cumsum(lengths)))
        self.n = len(lengths)
        self._rid = None
        self._bounds = None
        self._memo: dict = {}

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

    def memo(self, key, build):
        """``build()``, computed once per batch and `key`.  Arrays come
        back read-only: every kernel of the batch shares them."""
        try:
            return self._memo[key]
        except KeyError:
            out = self._memo[key] = build()
            if isinstance(out, np.ndarray):
                out.flags.writeable = False
            return out

    def strip(self, token: int) -> "Ragged":
        """Drop all occurrences of `token` (gap-stripping, ref :423).

        Memoized per token id — every gap-stripping kernel in a fused pass
        shares one stripped twin.  When the batch contains no such token
        the batch itself is returned (no copy); the memo then holds None,
        not the batch."""
        return self.memo(("strip", token), lambda: self._without(token)) or self

    def _without(self, token: int) -> "Ragged | None":
        keep = self.flat != token
        if keep.all():
            return None
        rid = self.row_ids()[keep]
        lengths = np.bincount(rid, minlength=self.n).astype(np.int64)
        return Ragged(self.flat[keep], lengths)

    def clamp(self, gap: int) -> "Ragged":
        """Map every id outside ``[0, gap]`` to `gap`, the way the
        tokenizers mask unknown letters at read time (ref :135).

        The min/max is taken once per batch.  When every id is in range
        the batch itself is returned (no copy); otherwise the clamped twin
        is memoized per gap, so every kernel of a fused pass shares it and
        its stripped twin and count planes."""
        f = self.flat
        if self._bounds is None:
            self._bounds = (f.min(), f.max()) if len(f) else (0, 0)
        lo, hi = self._bounds
        if lo >= 0 and hi <= gap:
            return self

        def twin():
            out = Ragged(np.where((f < 0) | (f > gap), gap, f), self.lengths)
            out._rid = self._rid
            return out

        return self.memo(("clamp", gap), twin)

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


def frequencies(c: np.ndarray) -> np.ndarray:
    """Each row of counts divided by its sum; an all-zero row stays zero."""
    return _safe_div(c, c.sum(axis=1, keepdims=True))


def residue_counts(r: Ragged, vocab: int) -> np.ndarray:
    """The residue plane: (n, vocab) int64 per-row token counts.  Ids >=
    vocab are not counted.  Memoized on `r` (read-only)."""

    def build():
        junk = r.n * vocab
        key = r.row_ids() * vocab + r.flat
        key[r.flat >= vocab] = junk
        return np.bincount(key, minlength=junk + 1)[:junk].reshape(r.n, vocab)

    return r.memo(("residues", vocab), build)


def pair_counts(r: Ragged, vocab: int, s: int) -> np.ndarray:
    """The pair plane at distance `s`: (n, vocab²) per-row counts of the
    pairs ``(flat[j], flat[j + s])`` inside one row, column
    ``a·vocab + b``, as int64.  Memoized on `r` (read-only).

    Pair keys ``row·vocab² + a·vocab + b`` come from the slices
    ``flat[:-s]`` and ``flat[s:]``; cross-row pairs and pairs holding an
    id >= vocab all go to one junk bin past the last row, so a batch with
    unknown ids takes the same path as a gap-stripped one."""

    def build():
        n, dim, flat = r.n, vocab * vocab, r.flat
        junk = n * dim
        key = r.row_ids()[:-s] * dim + flat[:-s] * vocab + flat[s:]
        key[r.cross_row(s)] = junk
        bad = np.flatnonzero(flat >= vocab)
        key[bad[bad < len(key)]] = junk
        key[bad[bad >= s] - s] = junk
        return np.bincount(key, minlength=junk + 1)[:junk].reshape(n, dim)

    return r.memo(("pairs", vocab, s), build)


def kgram_counts(
    r: Ragged, vocab: int, k: int, normalize: bool = True, gap: int = 0
) -> np.ndarray:
    """A1: contiguous (or k-spaced) k-gram composition, dim vocab**k.

    k = 1 reads the residue plane and k = 2 the pair plane at distance
    gap + 1; longer grams are counted here.  Counts are integers, so a
    count, a row sum or a 0/1 matmul of them is exact in float64 in any
    summation order, and outputs keep their bits whichever kernel built
    the plane."""
    if k == 1:
        c = residue_counts(r, vocab)
    elif k == 2:
        c = pair_counts(r, vocab, gap + 1)
    else:
        dim = vocab**k
        ids, rid = kgram_ids(r, vocab, k, gap)
        c = np.bincount(rid * dim + ids, minlength=r.n * dim).reshape(r.n, dim)
    return frequencies(c) if normalize else c.astype(np.float64)


def kspaced_pair_counts(
    r: Ragged, vocab: int, kspace: int, normalize: bool = True
) -> np.ndarray:
    """CKSAAP/CKSNAP (ref :469-508): pair counts at gaps 0..kspace.

    Output layout: [gap0 pairs(vocab²), gap1 pairs, ...], gap g read from
    the pair plane at distance g + 1; type 1 divides each gap block by its
    own valid-pair count (the plane's row sum), type 2 leaves raw counts.
    """
    dim = vocab * vocab
    out = np.empty((r.n, (kspace + 1) * dim))
    for g in range(kspace + 1):
        c = pair_counts(r, vocab, g + 1)
        block = out[:, g * dim:(g + 1) * dim]
        if normalize:
            den = c.sum(axis=1)
            np.divide(c, np.where(den == 0, 1, den)[:, None], out=block)
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


def cumulative_frequency(r: Ragged) -> np.ndarray:
    """A7 ANF (ref :4604-4627): out[j] = count of token[j] in tokens[0..j] / (j+1).

    Counts every token — including the gap token, matching the reference
    which counts '-' like any other character.  Equal-length only; (n, L)."""
    return running_count_frequency(r.to_matrix())


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
