"""The Arrow/NumPy boundary of the column kernels (`beagle_spark.kernel`):
`view` and `column` on sliced batches, the vector and SimHash kernels on
a sliced batch, and a guard that no module calls a pandas-loading
conversion."""

import ast
import math
import pathlib

import numpy as np
import pyarrow as pa
import pytest

from beagle_spark.kernel import column, view
from beagle_spark.ops import dedup, similarity

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "beagle_spark"


def test_view_honours_slice_offset():
    """`view` reads a sliced array's own values and a sliced list
    array's own offsets, not the shared buffer's first ones."""
    ints = pa.array([7, 8, 9, 10], pa.int32())
    assert view(ints.slice(1)).tolist() == [8, 9, 10]
    assert view(ints.slice(1, 2)).tolist() == [8, 9]
    floats = pa.array([0.5, 1.5, float("nan"), 2.5], pa.float64())
    got = view(floats.slice(1))
    assert got[0] == 1.5 and math.isnan(got[1]) and got[2] == 2.5
    lists = pa.array([[1.0], [2.0, 3.0], [], [4.0, 5.0, 6.0]], pa.list_(pa.float32()))
    assert view(lists.offsets).tolist() == [0, 1, 3, 3, 6]
    assert view(lists.slice(1).offsets).tolist() == [1, 3, 3, 6]
    assert view(lists.slice(1).flatten()).tolist() == [2.0, 3.0, 4.0, 5.0, 6.0]


def test_column_nan_and_null_mask():
    """`column` builds the matching Arrow type from any NumPy buffer
    (also a strided or read-only one): NaN is NULL, and so is every row
    of an explicit null mask."""
    floats = view(pa.array([9.0, 1.0, float("nan"), 3.0]).slice(1))
    got = column(floats)
    assert got.type == pa.float64() and got.to_pylist() == [1.0, None, 3.0]
    assert got.null_count == 1
    ints = np.arange(6, dtype=np.int32)[::2]
    got = column(ints, np.array([False, True, False]))
    assert got.type == pa.int32() and got.to_pylist() == [0, None, 4]
    assert column(np.array([1.0, 2.0], np.float32), np.array([True, False])).to_pylist() == [
        None, 2.0]
    assert column(np.array([3], np.int64)).type == pa.int64()
    assert column(np.array([3], np.int64)).null_count == 0


def test_vector_kernels_on_sliced_batch():
    """`similarity._matrix` and `dedup._simhash` give a sliced batch the
    rows of its compacted copy."""
    vectors = pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.5], [-1.0, 0.25]],
                       pa.list_(pa.float32()))
    sliced = vectors.slice(1)
    compact = pa.array(sliced.to_pylist(), sliced.type)
    assert sliced.offset == 1 and compact.offset == 0
    np.testing.assert_array_equal(similarity._matrix(sliced), similarity._matrix(compact))
    assert similarity._matrix(sliced).tolist() == [[1.0, 2.0], [3.0, 4.5], [-1.0, 0.25]]

    toks = pa.array([["x"], ["a", "b"], ["c"], ["a", "b", "a"]], pa.list_(pa.string()))
    sliced = toks.slice(1)
    compact = pa.array(sliced.to_pylist(), sliced.type)
    got = dedup._simhash(sliced)
    assert got.type == pa.int64()
    assert got.to_pylist() == dedup._simhash(compact).to_pylist()
    assert got.to_pylist()[0] != dedup._simhash(toks).to_pylist()[0]


def test_vector_kernels_reject_null_element():
    """A null element, like a null row, has no place in an (n, dim)
    matrix: `_matrix` raises rather than reading the slot's buffer."""
    with pytest.raises(ValueError, match="null"):
        similarity._matrix(pa.array([[1.0, None], [1.0, 2.0]], pa.list_(pa.float32())))


# conversions that import pandas in pyarrow 16 on a process's first call
_PANDAS_CALLS = {"to_numpy", "to_pandas", "to_pandas_dtype"}


def _pandas_calls(source: str) -> list:
    """(line, name) of every `pa.array(` or ``_PANDAS_CALLS`` call in
    ``source``."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        attr, owner = node.func.attr, node.func.value
        pa_array = attr == "array" and isinstance(owner, ast.Name) and owner.id in ("pa", "pyarrow")
        if pa_array or attr in _PANDAS_CALLS:
            out.append((node.lineno, attr))
    return out


def test_no_module_calls_a_pandas_conversion():
    """No module of the package calls `pa.array`, `.to_numpy`,
    `.to_pandas` or `.to_pandas_dtype`: each loads pandas in the Python
    worker that runs it. Kernels cross the Arrow/NumPy boundary through
    `kernel.view` and `kernel.column`."""
    modules = sorted(PACKAGE.rglob("*.py"))
    assert len(modules) > 30
    found = {str(path.relative_to(PACKAGE)): _pandas_calls(path.read_text()) for path in modules}
    assert {path: calls for path, calls in found.items() if calls} == {}


def test_pandas_call_guard_sees_each_form():
    """The guard flags each forbidden form, and leaves `np.array` and a
    mere mention in a string."""
    src = ("pa.array(x)\nx.to_numpy()\ny.z.to_pandas()\nt.to_pandas_dtype()\n"
           "np.array(x)\n'pa.array(x)'\n")
    assert _pandas_calls(src) == [
        (1, "array"), (2, "to_numpy"), (3, "to_pandas"), (4, "to_pandas_dtype")]
