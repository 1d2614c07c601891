"""`extract` — the engine's main descriptor entry point.

``extract(df, "protein:AAC")`` appends a ``features array<double>`` column
computed by one Arrow-native UDF.  The plan stays fully
declarative: Catalyst prunes the scan to (doc_id, tokens) and the only
Python boundary is one ArrowEvalPython node streaming ~2048-row batches.

Equal-length descriptors need the dataset length L up front (their output
dim depends on it); pass ``length=`` or let extract run one tiny agg job
(`max(n_tok)`) to discover it — at 100 TB you pass it explicitly or let the
agg run map-side-combined (it reduces to one long per partition).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from ifeatureomega_cli_spark.functions.kernels import Ragged
from ifeatureomega_cli_spark.functions.registry import get_spec


def feature_names(name: str, params: dict | None = None, length: int = 0) -> list[str]:
    return get_spec(name).names(params, length)


def _list_array(matrix: np.ndarray, dtype: str = "float64"):
    """(n, dim) kernel output → pyarrow list array with ZERO per-row work:
    the flat values buffer is adopted as-is and the offsets are one arange
    (guide §4.2 — re-slice buffers instead of copying rows)."""
    import pyarrow as pa

    n, dim = matrix.shape
    if dtype == "float32":
        matrix = matrix.astype(np.float32)
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * dim)
    return pa.ListArray.from_arrays(offsets, pa.array(matrix.ravel()))


def batch_kernel(name: str, params: dict | None = None, length: int = 0):
    """`name`'s kernel ``Ragged -> (n, dim)``, guarded against token ids
    outside its sequence type's vocabulary: any id outside ``[0, gap]`` is
    read as the gap id (``Ragged.clamp``), so every descriptor returns a
    vector for any integer ``tokens`` column.  Both UDF builders run their
    kernels through here; in-range batches pass through uncopied."""
    spec = get_spec(name)
    kern = spec.kernel(params, length)
    gap = spec.gap
    return lambda r: kern(r.clamp(gap))


def descriptor_udf(name: str, params: dict | None = None, length: int = 0,
                   dtype: str = "float64"):
    """Build the Arrow-native UDF column function for a descriptor.

    Round 9: `arrow_udf` (Spark 4) instead of a pandas UDF — the plan node
    is the same ArrowEvalPython with full column pruning, but both
    boundaries are zero-copy: the token batch structure is read straight
    from the Arrow list buffers (no per-row numpy objects, no per-row
    concatenate) and the (n, dim) kernel output is re-sliced into a list
    array via one offsets arange (guide §4.1/§4.2).

    ``dtype="float32"`` halves the feature bytes crossing the Python→JVM
    Arrow boundary and every downstream shuffle/sink.  Kernels always
    compute in float64 (golden parity unaffected); only the OUTPUT narrows
    (~1e-7 relative), the standard trade for ML feature pipelines at
    scale."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import FloatType

    kern = batch_kernel(name, params, length)
    elem = DoubleType() if dtype == "float64" else FloatType()

    @arrow_udf(ArrayType(elem))
    def _udf(tokens: pa.Array) -> pa.Array:
        r = Ragged.from_arrow(tokens)
        return _list_array(kern(r), dtype)

    return _udf


def _discover_length(df: DataFrame, n_tok_col: str) -> int:
    row = df.agg(
        F.max(n_tok_col).alias("mx"), F.countDistinct(n_tok_col).alias("nd")
    ).collect()[0]
    if row["nd"] != 1:
        raise ValueError(
            "equal-length descriptor on a table with varying n_tok "
            f"({row['nd']} distinct lengths) — filter or pad first"
        )
    return int(row["mx"])


def extract(
    df: DataFrame,
    name: str,
    params: dict | None = None,
    tokens_col: str = "tokens",
    out_col: str = "features",
    length: int | None = None,
    n_tok_col: str = "n_tok",
    dtype: str = "float64",
) -> DataFrame:
    """Append `out_col: array<double|float>` with the descriptor vector."""
    spec = get_spec(name)
    L = length or 0
    if spec.equal_length and not L:
        L = _discover_length(df, n_tok_col)
    udf = descriptor_udf(name, params, L, dtype=dtype)
    return df.withColumn(out_col, udf(F.col(tokens_col)))


def _out_names(names: list[str]) -> list[str]:
    """Output column names for a descriptor list — the namespace prefix is
    dropped, so 'protein:AAC' and 'dna:AAC' would both map to 'AAC'.  A
    struct schema with duplicate field names silently keeps only the last
    kernel's values; refuse up front instead."""
    outs = [n.split(":", 1)[-1].replace(" ", "_") for n in names]
    dupes = {o for o in outs if outs.count(o) > 1}
    if dupes:
        raise ValueError(
            f"duplicate output column name(s) {sorted(dupes)} — descriptors "
            "from different namespaces normalize to the same column; extract "
            "them in separate calls or rename"
        )
    return outs


def extract_many(
    df: DataFrame,
    names: list[str],
    params: dict[str, dict] | None = None,
    tokens_col: str = "tokens",
    length: int | None = None,
    dtype: str = "float64",
) -> DataFrame:
    """Several descriptors in one pass, one output column per descriptor.

    ONE struct-returning Arrow UDF computes every descriptor per batch:
    the tokens column crosses the Arrow boundary once and the Ragged batch
    structure is built once and shared by all kernels, instead of once per
    descriptor.  Each struct field is then projected out as its own
    column, named by the descriptor without its namespace prefix.  The
    values are bit-identical to one `descriptor_udf` column per name."""
    if not names:
        return df
    out_names = _out_names(names)  # refuse collisions before any job runs
    L = length or 0
    if not L and any(get_spec(n).equal_length for n in names):
        L = _discover_length(df, "n_tok")  # ONE agg job shared by all
    udf = fused_struct_udf(names, params, L, dtype=dtype)
    packed = df.withColumn("__feats", udf(F.col(tokens_col)))
    cols = [F.col(c) for c in df.columns] + [
        F.col(f"__feats.{o}").alias(o) for o in out_names]
    return packed.select(*cols)


def fused_struct_udf(names: list[str], params: dict[str, dict] | None = None,
                     length: int = 0, dtype: str = "float64"):
    """ONE Arrow-native UDF returning a struct with one array field per
    descriptor: shared zero-copy Ragged build (plus memoized gap-strip /
    row-id structure shared ACROSS kernels), zero-copy list outputs."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import FloatType, StructField, StructType

    kerns = [batch_kernel(n, (params or {}).get(n), length) for n in names]
    out_names = _out_names(names)
    elem = DoubleType() if dtype == "float64" else FloatType()
    schema = StructType([
        StructField(o, ArrayType(elem)) for o in out_names])

    @arrow_udf(schema)
    def _udf(tokens: pa.Array) -> pa.Array:
        r = Ragged.from_arrow(tokens)
        return pa.StructArray.from_arrays(
            [_list_array(k(r), dtype) for k in kerns], names=out_names)

    return _udf

