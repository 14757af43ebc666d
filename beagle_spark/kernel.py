"""The one Python-kernel boundary: every column kernel of the package
(the phrase and Lucene annotators, the cosine, hyperplane-bucket and
IVF kernels, SimHash) is an iterator `arrow_udf` built by
:func:`arrow_kernel`. Workers see `pyarrow` arrays in and out; no
pandas layer sits between Spark's Arrow batches and the kernel.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType


def _apply(batches: Iterator, fn: Callable, arrow_type: pa.DataType) -> Iterator[pa.Array]:
    """Run `fn(*columns)` on every non-empty batch (one `pa.Array`, or a
    tuple of them for a multi-column kernel) and build each result with
    one `pa.array` of exactly `arrow_type`; an empty batch gives an
    empty array without calling `fn`. A NaN result is NULL, as Spark's
    pandas-to-Arrow conversion makes it: a zero-norm cosine (0/0) is
    NULL, so it passes no `>=` threshold and sorts last under `desc`."""
    for batch in batches:
        cols = batch if isinstance(batch, tuple) else (batch,)
        yield pa.array(fn(*cols) if len(cols[0]) else [], type=arrow_type, from_pandas=True)


def per_value(fn: Callable) -> Callable:
    """Batch function applying `fn` to every value of one column."""
    return lambda arr: [fn(v) for v in arr.to_pylist()]


def arrow_kernel(factory: Callable[[], Callable], return_type: DataType):
    """Column kernel: an iterator `arrow_udf` of `return_type`, applied
    to one or more columns. `factory()` runs once per partition and
    returns the batch function `fn(*arrays) -> values` (a list or a
    NumPy array, one value per row); per-partition state such as a
    broadcast read or a token cache lives in its closure, and a
    kernel with none passes ``lambda: fn``.

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
