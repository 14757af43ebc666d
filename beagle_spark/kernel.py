"""The one Python-kernel boundary: every column kernel of the package
(the phrase and Lucene annotators, the cosine, hyperplane-bucket and
IVF kernels, SimHash, media features) is an iterator `arrow_udf`
built by :func:`arrow_kernel`. Workers see `pyarrow` arrays in and out;
no pandas layer sits between Spark's Arrow batches and the kernel.

This is also the one module that converts between Arrow and NumPy:
kernels read primitive inputs with :func:`view` and build their output
arrays from buffers with :func:`column`, :func:`string_array` and
:func:`list_column`. In pyarrow 16, `pa.array`, `Array.to_numpy`,
`np.asarray(array)` and `DataType.to_pandas_dtype` import pandas on a
process's first call; `Array.from_buffers`, `pa.from_numpy_dtype` and
`ListArray.from_arrays` do not, so no kernel's worker loads pandas.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType

# the primitive Arrow types a kernel reads, and their NumPy dtypes
_DTYPES = {pa.from_numpy_dtype(d): d
           for d in map(np.dtype, "i1 i2 i4 i8 u1 u2 u4 u8 f4 f8".split())}


def view(arr: pa.Array) -> np.ndarray:
    """The values of the primitive array ``arr`` as a read-only NumPy
    view of its data buffer, from ``arr.offset`` on (a null slot reads
    whatever its buffer holds)."""
    dtype = _DTYPES[arr.type]
    return np.frombuffer(arr.buffers()[1], dtype, len(arr), arr.offset * dtype.itemsize)


def _validity(nulls) -> tuple:
    """(validity buffer, null count) of a boolean NULL mask; no buffer
    when no row is NULL."""
    if nulls is None or not nulls.any():
        return None, 0
    return pa.py_buffer(np.packbits(~nulls, bitorder="little")), int(nulls.sum())


def column(values: np.ndarray, nulls: np.ndarray | None = None) -> pa.Array:
    """The primitive Arrow array of the NumPy buffer ``values``, of the
    matching Arrow type. A row is NULL where ``nulls`` is True and, for
    floating-point values, where the value is NaN: a zero-norm cosine
    (0/0) is NULL, as Spark's pandas-to-Arrow conversion makes it, so it
    passes no `>=` threshold and sorts last under `desc`."""
    values = np.ascontiguousarray(values)
    if values.dtype.kind == "f":
        nulls = np.isnan(values) if nulls is None else nulls | np.isnan(values)
    validity, null_count = _validity(nulls)
    return pa.Array.from_buffers(pa.from_numpy_dtype(values.dtype), len(values),
                                 [validity, pa.py_buffer(values)], null_count)


def string_array(values: list) -> pa.Array:
    """An Arrow string array of ``values`` (str or None) built from
    buffers."""
    enc = [b"" if v is None else str(v).encode() for v in values]
    offsets = np.zeros(len(enc) + 1, dtype=np.int32)
    np.cumsum([len(b) for b in enc], out=offsets[1:])
    validity, null_count = _validity(np.array([v is None for v in values], dtype=bool))
    return pa.StringArray.from_buffers(len(enc), pa.py_buffer(offsets), pa.py_buffer(b"".join(enc)),
                                       validity, null_count)


def list_column(columns: list, row: np.ndarray, n_rows: int, list_type: pa.DataType) -> pa.Array:
    """The ``list_type`` column of ``n_rows`` rows over struct values
    ``columns``, which are ordered by ``row``: row r lists the values
    whose ``row`` is r."""
    values = pa.StructArray.from_arrays(columns, fields=list(list_type.value_type))
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(np.bincount(row, minlength=n_rows), out=offsets[1:])
    return pa.ListArray.from_arrays(column(offsets), values, type=list_type)


def _apply(batches: Iterator, fn: Callable, arrow_type: pa.DataType) -> Iterator[pa.Array]:
    """Run `fn(*columns)` on every non-empty batch (one `pa.Array`, or a
    tuple of them for a multi-column kernel) and yield its array of
    ``arrow_type``. An empty batch gives `pa.nulls(0)` without calling
    `fn`."""
    for batch in batches:
        cols = batch if isinstance(batch, tuple) else (batch,)
        yield fn(*cols) if len(cols[0]) else pa.nulls(0, type=arrow_type)


def arrow_kernel(factory: Callable[[], Callable], return_type: DataType):
    """Column kernel: an iterator `arrow_udf` of `return_type`, applied
    to one or more columns. `factory()` runs once per partition and
    returns the batch function `fn(*arrays) -> pa.Array`, one row per
    input row, of exactly the kernel's Arrow type (built with this
    module's constructors); per-partition state such as a broadcast
    read or a token cache lives in its closure, and a kernel with none
    passes ``lambda: fn``.

    Marked NON-DETERMINISTIC. Every kernel is pure, but the mark stops
    the optimizer pushing a filter on the kernel's output below the
    projection WITH A COPY of the UDF (spark_optimization_guide.md
    §4.4): annotate -> filter/explode, the `cos >= threshold` pair
    filters, the bucket and IVF-cell probes and the band joins' pushed
    `isnotnull` would each evaluate the kernel twice per row, and the
    pushed copy can run below the caller's repartition (see
    plans/r21/t5_dict_match_counts_before.txt: two ArrowEvalPython
    nodes, the lower one under the Exchange). A caller that joins or
    pairs the kernel's output checkpoints it first, since a join needs
    a deterministic input."""
    arrow_type = to_arrow_type(return_type)

    @arrow_udf(return_type)
    def kernel(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        return _apply(batches, factory(), arrow_type)

    return kernel.asNondeterministic()
