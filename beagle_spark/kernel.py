"""The one Python-kernel boundary: every column kernel of the package
(the phrase and Lucene annotators, the cosine, hyperplane-bucket and
IVF kernels, SimHash, media features) is an iterator `arrow_udf`
built by :func:`arrow_kernel`. Workers see `pyarrow` arrays in and out;
no pandas layer sits between Spark's Arrow batches and the kernel.

The phrase and Lucene annotators return ready arrays built from
buffers, so their workers never load pandas. The cosine,
hyperplane-bucket, IVF-cell, SimHash and media-feature kernels return
lists or NumPy arrays that `_apply` converts with `pa.array`, which
loads pandas on a worker's first call.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType


def _apply(batches: Iterator, fn: Callable, arrow_type: pa.DataType) -> Iterator[pa.Array]:
    """Run `fn(*columns)` on every non-empty batch (one `pa.Array`, or a
    tuple of them for a multi-column kernel). A result that is already a
    `pa.Array` of exactly `arrow_type` passes through; any other result
    is built with one `pa.array` of `arrow_type`. An empty batch gives an
    empty array without calling `fn`. A NaN result is NULL, as Spark's
    pandas-to-Arrow conversion makes it: a zero-norm cosine (0/0) is
    NULL, so it passes no `>=` threshold and sorts last under `desc`.

    pyarrow 16 imports pandas on the first `pa.array` call of a process
    (even an empty one); a kernel whose `fn` returns ready arrays, and
    its empty batches (`pa.nulls`), never do."""
    for batch in batches:
        cols = batch if isinstance(batch, tuple) else (batch,)
        if not len(cols[0]):
            yield pa.nulls(0, type=arrow_type)
            continue
        out = fn(*cols)
        if isinstance(out, pa.Array) and out.type == arrow_type:
            yield out
        else:
            yield pa.array(out, type=arrow_type, from_pandas=True)


def arrow_kernel(factory: Callable[[], Callable], return_type: DataType):
    """Column kernel: an iterator `arrow_udf` of `return_type`, applied
    to one or more columns. `factory()` runs once per partition and
    returns the batch function `fn(*arrays) -> values`: a list or a
    NumPy array, one value per row, or a ready `pa.Array` of exactly the
    kernel's Arrow type, which `_apply` passes through; per-partition
    state such as a broadcast read or a token cache lives in its
    closure, and a kernel with none passes ``lambda: fn``.

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
