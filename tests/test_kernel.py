"""The Arrow/NumPy boundary of the column kernels (`beagle_spark.kernel`):
`view` and `column` on sliced batches, the vector and SimHash kernels on
a sliced batch, the zip finders the boundary drops, and guards that no
module calls a pandas-loading conversion or builds a Python UDF outside
`kernel.py`."""

import ast
import math
import pathlib
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from beagle_spark.kernel import arrow_kernel, column, string_array, view
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


_DROP_SCRIPT = """
import importlib, os, sys, tempfile, zipfile, zipimport
from importlib.machinery import FileFinder
from beagle_spark.kernel import drop_zip_finders

archive = os.path.join(tempfile.mkdtemp(), "pkgs.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zpkg/__init__.py", "")
    z.writestr("zpkg/a.py", "X = 1\\n")
    z.writestr("zpkg/sub/__init__.py", "")
    z.writestr("zpkg/sub/b.py", "Y = 2\\n")
sys.path.insert(0, archive)
import zpkg.a

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)

def finders(kind):
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, kind)]

zip_finders, file_finders = finders(zipimport.zipimporter), finders(FileFinder)
assert archive in zip_finders, zip_finders
importlib.invalidate_caches()
assert len(reads) == len(zip_finders), (reads, zip_finders)

drop_zip_finders()
reads.clear()
importlib.invalidate_caches()
assert reads == [] and finders(zipimport.zipimporter) == [], reads
assert finders(FileFinder) == file_finders

import zpkg.sub.b
assert zpkg.sub.b.Y == 2 and reads == [], reads
print("ok")
"""


def test_drop_zip_finders():
    """In a fresh process: `importlib.invalidate_caches()` re-reads the
    central directory once per cached zip finder, and none after
    `drop_zip_finders`; a module of the archive not imported yet still
    imports (from zipimport's directory cache, without a read), and the
    `FileFinder` entries stay cached."""
    out = subprocess.run([sys.executable, "-c", _DROP_SCRIPT], capture_output=True, text=True,
                         cwd=PACKAGE.parent)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["ok"]


def test_reused_worker_rereads_no_archive(spark):
    """Jobs over one partition through one `arrow_kernel`, each consumed
    whole (an aggregate and `collect`), run in the session's reused
    workers; whenever a worker runs the probe again, it sees the same
    cached directory of the archive pyspark was loaded from: the next
    task's set-up (`importlib.invalidate_caches()`) re-read no archive.
    The session may hold several idle workers, so the jobs run until
    two tasks have landed on a worker that ran the probe before."""
    def probe():
        # one "pid archive same" string per row: ``archive`` is the zip
        # pyspark was loaded from ("-" for none), and ``same`` says
        # whether zipimport's cached directory of it is the object this
        # worker's previous probe task saw; the worker keeps a reference
        # to that object, so its identity cannot be recycled
        def fn(col):
            import os
            import zipimport

            import pyspark

            archive = getattr(pyspark.__loader__, "archive", None)
            files = zipimport._zip_directory_cache.get(archive) if archive else None
            same = files is not None and getattr(zipimport, "_beagle_probe_seen", None) is files
            zipimport._beagle_probe_seen = files
            return string_array([f"{os.getpid()} {archive or '-'} {same}"] * len(col))
        return fn

    kernel = arrow_kernel(probe, StringType())
    df = spark.range(0, 100, numPartitions=1).select(kernel(F.col("id")).alias("p"))
    tasks, repeats = [], []
    while len(repeats) < 2 and len(tasks) < 12:
        rows = df.groupBy("p").count().collect()
        assert len(rows) == 1 and rows[0]["count"] == 100
        pid, archive, same = rows[0]["p"].split()
        if archive == "-":
            pytest.skip("the Python worker loaded pyspark from no archive")
        if pid in {t[0] for t in tasks}:
            repeats.append(same)
        tasks.append((pid, archive, same))
    assert repeats == ["True", "True"], tasks


# the Python UDF builders; every Python UDF crosses `kernel.arrow_kernel`
_UDF_NAMES = {"arrow_udf", "pandas_udf", "udf"}
_MAP_CALLS = {"mapInArrow", "mapInPandas"}


def _python_udfs(source: str) -> list:
    """(line, name) of every import of a ``_UDF_NAMES`` builder from
    `pyspark.sql.functions`, every use of one as an attribute of that
    module (``F.udf``), and every `mapInArrow` / `mapInPandas` call in
    ``source``."""
    tree = ast.parse(source)
    modules = {"F"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            modules |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.Import):
            modules |= {a.asname for a in node.names
                        if a.name == "pyspark.sql.functions" and a.asname}
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
            out += [(node.lineno, a.name) for a in node.names if a.name in _UDF_NAMES]
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            if node.value.id in modules and node.attr in _UDF_NAMES:
                out.append((node.lineno, node.attr))
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr in _MAP_CALLS:
                out.append((node.lineno, node.func.attr))
    return sorted(out)


def test_every_python_udf_crosses_the_kernel_boundary():
    """No module other than `kernel.py` builds a Python UDF or maps
    partitions in Python, so every Python task runs `arrow_kernel`'s
    entry, which drops the worker's zip finders."""
    found = {str(path.relative_to(PACKAGE)): _python_udfs(path.read_text())
             for path in sorted(PACKAGE.rglob("*.py")) if path.name != "kernel.py"}
    assert {path: udfs for path, udfs in found.items() if udfs} == {}
    assert [name for _, name in _python_udfs((PACKAGE / "kernel.py").read_text())] == ["arrow_udf"]


def test_python_udf_guard_sees_each_form():
    """The guard flags each builder import, each `F.<builder>` use under
    any alias of `pyspark.sql.functions`, and each map call; it leaves
    `Annotator.udf`, `spark.udf.register` and a local named `udf`."""
    src = ("from pyspark.sql.functions import udf, col\n"
           "from pyspark.sql.functions import pandas_udf as pu\n"
           "F.arrow_udf(f)\n"
           "from pyspark.sql import functions as G\n"
           "G.pandas_udf(f)\n"
           "df.mapInArrow(f, s)\n"
           "df.mapInPandas(f, s)\n"
           "ann.udf(spark)\n"
           "spark.udf.register('x', f)\n"
           "udf = arrow_kernel(f, t)\n"
           "class Annotator:\n"
           "    def udf(self, spark):\n"
           "        return self.udf\n")
    assert _python_udfs(src) == [
        (1, "udf"), (2, "pandas_udf"), (3, "arrow_udf"), (5, "pandas_udf"),
        (6, "mapInArrow"), (7, "mapInPandas")]
