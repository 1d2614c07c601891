"""`_tokens_from_strings` — the vectorized text → protein-token path that
`char_descriptor` feeds its kernels — against a per-character reference."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from ifeatureomega_cli_spark.functions.text_descriptors import _tokens_from_strings
from ifeatureomega_cli_spark.tokenize import PROTEIN_AA

_TOK = {c: i for i, c in enumerate(PROTEIN_AA)}
_TOK.update({c.lower(): i for i, c in enumerate(PROTEIN_AA)})


def _reference(arr):
    """Row by row, character by character: keep the 20 amino-acid letters
    in either case, drop everything else; a null row has no tokens."""
    rows = [[_TOK[c] for c in s if c in _TOK] if s is not None else []
            for s in arr.to_pylist()]
    flat = [t for r in rows for t in r]
    return (np.array(flat, dtype=np.int64),
            np.array([len(r) for r in rows], dtype=np.int64))


def _null_spanning(array_cls, off_dtype):
    """Three rows over "ACD|EFG|HIK" with row 1 null: the null slot still
    spans three amino-acid bytes, which Arrow permits."""
    offsets = np.array([0, 3, 6, 9], dtype=off_dtype)
    return array_cls.from_buffers(
        3, pa.py_buffer(offsets.tobytes()), pa.py_buffer(b"ACDEFGHIK"),
        pa.py_buffer(bytes([0b101])), null_count=1)


CASES = {
    "null_slot_spans_bytes": _null_spanning(pa.StringArray, np.int32),
    "null_slot_spans_bytes_large": _null_spanning(pa.LargeStringArray, np.int64),
    "sliced": pa.array(["MKV", "ac-DE", None, "WYXZ*", "GH"]).slice(1, 3),
    "sliced_null_span": _null_spanning(pa.StringArray, np.int32).slice(1, 2),
    "mixed_case": pa.array(["acdEFG", "mKvW", "-_.12 XBZJ", ""]),
    # every byte of a multi-byte character is dropped, including the two
    # characters whose str.upper() is an ASCII letter (ı → I, ſ → S)
    "non_ascii": pa.array(["AéC", "ıſK", "日本Q", "ÅÄÖ"]),
    "all_null": pa.array([None, None, None], pa.string()),
    "empty": pa.array([], pa.string()),
    "empty_no_offsets_buffer": pa.StringArray.from_buffers(
        0, None, pa.py_buffer(b"")),
    "large_string": pa.array(["ACDE", None, "qrst", "Ω-W"], pa.large_string()),
    "chunked": pa.chunked_array([pa.array(["AC", None]), pa.array(["de", "Yü"])]),
    "chunked_empty": pa.chunked_array([], type=pa.string()),
}


@pytest.mark.parametrize("name", list(CASES))
def test_tokens_from_strings_matches_reference(name):
    arr = CASES[name]
    r = _tokens_from_strings(arr)
    flat, lengths = _reference(arr)
    assert r.flat.dtype == np.int64 and r.lengths.dtype == np.int64
    assert np.array_equal(r.lengths, lengths), (r.lengths, lengths)
    assert np.array_equal(r.flat, flat), (r.flat, flat)
