"""Alphabets and tokenization.

Canonical vocabularies (token id = index):

* protein: ``ACDEFGHIKLMNPQRSTVWY`` (the reference's dominant ordering,
  iFeatureOmegaCLI.py:416) with gap ``-`` = id 20;
* DNA/RNA: ``ACGT`` (iFeatureOmegaCLI.py:4314; RNA is canonicalized U→T at
  load, :141) with gap = id 4.

Descriptors that use a different AA ordering (e.g. EAAC/binary use
``ARNDCQEGHILKMFPSTWYV``, :445/:616) get a permutation applied inside the
kernel — the stored token ids never change.
"""

from __future__ import annotations

import numpy as np

PROTEIN_AA = "ACDEFGHIKLMNPQRSTVWY"
PROTEIN_AA_ALT = "ARNDCQEGHILKMFPSTWYV"  # positional/one-hot ordering
DNA_NT = "ACGT"
PROTEIN_GAP = 20
DNA_GAP = 4

_P_LUT = np.full(128, -1, dtype=np.int32)
for _i, _c in enumerate(PROTEIN_AA):
    _P_LUT[ord(_c)] = _i
_P_LUT[ord("-")] = PROTEIN_GAP

_D_LUT = np.full(128, -1, dtype=np.int32)
for _i, _c in enumerate(DNA_NT):
    _D_LUT[ord(_c)] = _i
_D_LUT[ord("-")] = DNA_GAP
_D_LUT[ord("U")] = _D_LUT[ord("T")]  # RNA canonicalization U→T (ref :141)


def perm_for(order: str, alphabet: str = PROTEIN_AA, gap_id: int | None = None) -> np.ndarray:
    """Permutation array p with p[canonical_id] = index in `order`.

    Gap id (and any id not in `order`) maps to len(order) — callers use that
    slot as "masked/ignored".
    """
    n = len(alphabet) + 1
    p = np.full(n, len(order), dtype=np.int64)
    for i, c in enumerate(alphabet):
        j = order.find(c)
        p[i] = j if j >= 0 else len(order)
    if gap_id is not None:
        p[gap_id] = len(order)
    return p


def tokenize_protein(seq: str) -> np.ndarray:
    """Sequence string → canonical int32 token ids (gap '-' → 20).

    Mirrors the reference's read-time masking (iFeatureOmegaCLI.py:135):
    any char outside the 20-AA alphabet is treated as gap.
    """
    ids = _P_LUT[np.frombuffer(seq.upper().encode("ascii"), dtype=np.uint8)]
    ids = np.where(ids < 0, PROTEIN_GAP, ids)
    return ids.astype(np.int32)


def tokenize_dna(seq: str) -> np.ndarray:
    ids = _D_LUT[np.frombuffer(seq.upper().encode("ascii"), dtype=np.uint8)]
    ids = np.where(ids < 0, DNA_GAP, ids)
    return ids.astype(np.int32)
