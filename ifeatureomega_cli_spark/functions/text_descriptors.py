"""Descriptor extraction directly over a raw text column.

One Arrow pass fuses tokenization (protein-alphabet char filter) with the
descriptor kernel — previously two chained pandas UDFs (tokenize →
extract), i.e. two Python boundaries and one intermediate token-array
column crossing Arrow twice.  The fused plan is a single ArrowEvalPython
node over the pruned (id, text) scan; rows whose token stream is too short
for the descriptor produce all-zero vectors (the kernels' safe-division),
which downstream `freq > 0` filters drop exactly like the old pre-filter.

Round 9: the UDF is Arrow-native (`arrow_udf`) and the tokenizer is fully
vectorized — one 256-entry byte LUT gather over the string column's flat
UTF-8 buffer instead of a per-row Python loop (guide §4.2), and the kernel
output is re-sliced into a list array zero-copy.  Case folding is in the
LUT (both cases map to the same token id), so no per-row .upper() either.
Semantics match the old path for ASCII text (any byte outside the 20-AA
alphabet is dropped, as the old `ids[ids < 20]` filter did); non-ASCII
bytes are dropped too, where the old path raised.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ifeatureomega_cli_spark.functions.extract import _list_array
from ifeatureomega_cli_spark.functions.kernels import Ragged
from ifeatureomega_cli_spark.functions.registry import get_spec
from ifeatureomega_cli_spark.tokenize import PROTEIN_AA

_LUT256 = np.full(256, -1, dtype=np.int8)
for _i, _c in enumerate(PROTEIN_AA):
    _LUT256[ord(_c)] = _i
    _LUT256[ord(_c.lower())] = _i


def _tokens_from_strings(arr) -> Ragged:
    """Arrow string/large_string array → gap-filtered protein-token Ragged,
    vectorized: one LUT gather over the flat UTF-8 buffer, row ids from
    the raw offset spans.  A null row has zero tokens; its slot may still
    span bytes (Arrow allows it), so nulls are masked by row, not by
    zeroed lengths."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:  # an empty array may carry no offsets buffer at all
        return Ragged(np.empty(0, np.int64), np.zeros(0, np.int64))
    # StringArray exposes no .offsets property — read the offsets buffer
    # directly (window it by arr.offset for sliced arrays)
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset:arr.offset + n + 1]
    buf = arr.buffers()[2]
    data = (np.frombuffer(buf, dtype=np.uint8) if buf is not None
            else np.empty(0, np.uint8))
    ids = _LUT256[data[offsets[0]:offsets[-1]]]
    rid = np.repeat(np.arange(n), np.diff(offsets))
    keep = ids >= 0
    if arr.null_count:
        keep &= arr.is_valid().to_numpy(zero_copy_only=False)[rid]
    lengths = np.bincount(rid[keep], minlength=n).astype(np.int64)
    return Ragged(ids[keep].astype(np.int64), lengths)


def char_descriptor_udf(name: str, params: dict | None = None,
                        length: int = 0):
    """Fused vectorized-tokenize + descriptor kernel as ONE Arrow UDF."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, DoubleType

    kern = get_spec(name).kernel(params, length)

    @arrow_udf(ArrayType(DoubleType()))
    def _udf(texts: pa.Array) -> pa.Array:
        r = _tokens_from_strings(texts)
        return _list_array(kern(r))

    return _udf


def char_descriptor(
    df: DataFrame,
    name: str,
    text_col: str = "text",
    out_col: str = "features",
    params: dict | None = None,
) -> DataFrame:
    """Append `out_col array<double>` computed straight from `text_col`."""
    return df.withColumn(out_col,
                         char_descriptor_udf(name, params)(F.col(text_col)))
