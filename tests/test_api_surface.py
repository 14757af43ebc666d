"""API-surface parity: dictionary writers round-trip, SQL function
registration, DictionaryEntry conversions."""

import io

import pytest

from beagle_spark import DictionaryEntry, highlighter
from beagle_spark.dictionary.readers import read_csv, read_json
from beagle_spark.dictionary.writers import write_csv, write_json


def test_json_roundtrip():
    d = [
        {"text": "test phrase", "id": "1", "synonyms": ["tp"],
         "case-sensitive?": False, "meta": {"k": "v"}},
        {"text": "other", "slop": 2},
    ]
    buf = io.StringIO()
    write_json(d, buf)
    buf.seek(0)
    back = read_json(buf)
    assert back[0]["text"] == "test phrase"
    assert back[0]["case-sensitive?"] is False
    assert back[1]["slop"] == 2
    # compiled behavior identical
    assert highlighter(back)("a test phrase here") == highlighter(d)("a test phrase here")


def test_csv_roundtrip():
    d = [
        {"text": "test phrase", "id": "1", "synonyms": ["tp", "t p"],
         "case-sensitive?": True, "meta": {"k": "v", "k2": "v2"}, "slop": 1},
    ]
    buf = io.StringIO()
    write_csv(d, buf)
    buf.seek(0)
    back = read_csv(io.StringIO(buf.getvalue()))
    assert back[0]["text"] == "test phrase"
    assert back[0]["synonyms"] == ["tp", "t p"]
    assert back[0]["case-sensitive?"] is True
    assert back[0]["meta"] == {"k": "v", "k2": "v2"}
    assert back[0]["slop"] == 1
    # flags in any spelling `norm_key` reads are written, so the
    # dictionary matches the same before and after
    d = [{"text": "Big Data", "case-sensitive": False, "in_order?": True, "slop": 2}]
    buf = io.StringIO()
    write_csv(d, buf)
    back = read_csv(io.StringIO(buf.getvalue()))
    assert back[0]["case-sensitive?"] is False and back[0]["in-order?"] is True
    for text in ("big data", "data big", "big and data"):
        assert highlighter(back)(text) == highlighter(d)(text)
    assert highlighter(back)("big data")
    # a non-string meta value is written as the string the compilers
    # read it as
    d = [{"text": "a", "meta": {"k": 1, "k2": 2.5}}]
    buf = io.StringIO()
    write_csv(d, buf)
    back = read_csv(io.StringIO(buf.getvalue()))
    assert back[0]["meta"] == {"k": "1", "k2": "2.5"}
    # ';' has no escape in the format: refused, not split on read; an
    # empty or padded string is refused, not trimmed or dropped on read
    for bad in ({"meta": {"k": "x;y"}}, {"synonyms": ["b;c"]}, {"meta": {"k;": "x"}},
                {"meta": {"k": ""}}, {"meta": {"j": " x "}}, {"meta": {" k": "x"}},
                {"synonyms": [" b "]}, {"synonyms": ["c", ""]},
                {"text": " padded "}, {"type": " T"}, {"id": ""}):
        with pytest.raises(ValueError, match="entry 1"):
            write_csv([{"text": "a"}, {"text": "b", **bad}], io.StringIO())


def test_dictionary_entry_aliases():
    e = DictionaryEntry.from_dict(
        {":text": "x", "case-sensitive?": False, "in-order?": True,
         "fuzzy?": True, "meta": {":lbl": "v"}}
    )
    assert e.case_sensitive is False
    assert e.in_order is True
    assert e.fuzzy is True
    assert e.meta == {"lbl": "v"}
    # every spelling follows one rule (`norm_key`); `dict-entry-id` is
    # the only alias
    e = DictionaryEntry.from_dict(
        {"text": "x", "case_sensitive?": True, "in-order": False,
         ":stem?": True, "dict-entry-id": "d1"}
    )
    assert e.case_sensitive is True
    assert e.in_order is False
    assert e.stem is True
    assert e.id == "d1"


def test_sql_function_registration(spark):
    from beagle_spark.annotator import register_sql_function

    register_sql_function(
        spark, [{"text": "table scan", "id": "p", "case-sensitive?": False}]
    )
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").createOrReplaceTempView(
        "docs_v"
    )
    row = spark.sql(
        "SELECT count(*) AS n FROM docs_v WHERE size(beagle_annotate(text)) > 0"
    ).collect()[0]
    assert row["n"] > 0


def test_import_loads_no_pandas():
    """Every column kernel is an Arrow UDF and the streaming totals are
    a built-in aggregation, so importing the package (on the driver,
    and in each Python worker that unpickles a kernel) does not load
    pandas; no module of the package imports it."""
    import pathlib
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-c", "import beagle_spark, sys; print('pandas' in sys.modules)"],
        capture_output=True,
        text=True,
        check=True,
        cwd=pathlib.Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "False"


# Run in a fresh process by `test_kernel_worker_loads_no_pandas`: input
# batches are built from buffers, as Spark hands a worker its Arrow
# batch, and a kernel's batch function is captured where the kernel
# calls `arrow_kernel`, so no Spark session is needed.
_WORKER_PRELUDE = """
import hashlib, math, sys
from unittest import mock
import numpy as np
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type
from beagle_spark.kernel import _apply

def strings(values, type=pa.string()):
    enc = [b"" if v is None else v if isinstance(v, bytes) else v.encode() for v in values]
    offsets = np.cumsum([0] + [len(b) for b in enc], dtype=np.int32)
    valid = np.packbits([v is not None for v in values], bitorder="little")
    return pa.Array.from_buffers(type, len(enc), [pa.py_buffer(valid), pa.py_buffer(offsets),
                                                  pa.py_buffer(b"".join(enc))])

def lists(rows, values):
    offsets = np.cumsum([0] + [len(r) for r in rows], dtype=np.int32)
    return pa.ListArray.from_arrays(
        pa.Array.from_buffers(pa.int32(), len(offsets), [None, pa.py_buffer(offsets)]), values)

def vectors(rows):
    flat = np.array([x for r in rows for x in r], dtype=np.float32)
    return lists(rows, pa.Array.from_buffers(pa.float32(), len(flat), [None, pa.py_buffer(flat)]))

def kernel_of(module, build, *args):
    made = []
    def capture(factory, return_type):
        made.append((factory(), to_arrow_type(return_type)))
        return mock.MagicMock()
    with mock.patch.object(module, "arrow_kernel", capture), mock.patch.object(module, "F"):
        build(*args)
    return made[0]

def check(fn, arrow_type, cols, want):
    out = list(_apply([cols, tuple(c.slice(0, 0) for c in cols)], fn, arrow_type))
    assert [a.type for a in out] == [arrow_type, arrow_type] and len(out[1]) == 0, out
    assert out[0].to_pylist() == want, out[0].to_pylist()

def cos(a, b):
    dot = lambda x, y: sum(i * j for i, j in zip(x, y))
    return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

ROWS = [[0.0, 0.0, 0.0], [1.0, 2.0, 3.0], [-1.0, -2.0, 3.5]]
Q = [1.0, 2.0, 3.0]
"""

_WORKER_CASES = {
    "annotate": """
from beagle_spark.annotator import Annotator
from beagle_spark.matcher import match_batch
from beagle_spark.schema import ANNOTATION_ARROW_TYPE
ann = Annotator([{"text": "table scan", "id": "p", "case-sensitive?": False},
                 {"text": "hash join", "slop": 1, "id": "s"}])
texts = strings(["a Table scan, ", "then a hash  join; straße", None])
out = list(_apply([texts], lambda t: match_batch(t, ann.compiled), ANNOTATION_ARROW_TYPE))
assert out[0].type == ANNOTATION_ARROW_TYPE
assert [[a["dict_entry_id"] for a in r] for r in out[0].to_pylist()] == [["p"], ["s"], []]
""",
    "lucene": """
from beagle_spark.lucene_query import compile_lucene_dictionary, match_queries
from beagle_spark.schema import QUERY_MATCHES_ARROW_TYPE
cq = compile_lucene_dictionary([
    {"text": "table AND scan", "id": "q", "meta": {"k": "v"}},
    {"text": '"hash join"~1 OR stra*', "id": "r", "case-sensitive?": False},
    {"text": "[a TO c] -vector", "id": "s"}])
texts = strings(["a Table scan, ", "then a hash  join; straße", None])
out = list(_apply([texts], lambda t: match_queries(t, cq), QUERY_MATCHES_ARROW_TYPE))
assert out[0].type == QUERY_MATCHES_ARROW_TYPE
assert [[m["dict_entry_id"] for m in r] for r in out[0].to_pylist()] == [["s"], ["r", "s"], []]
""",
    "cosine": """
from beagle_spark.ops import similarity
fn, t = kernel_of(similarity, similarity.cosine_col, "v", Q)
check(fn, t, (vectors(ROWS),), [None, cos(ROWS[1], Q), cos(ROWS[2], Q)])
""",
    "cosine_pair": """
from beagle_spark.ops import similarity
fn, t = kernel_of(similarity, similarity.cosine_pair_col, "a", "b")
check(fn, t, (vectors(ROWS), vectors([Q] * 3)), [None, cos(ROWS[1], Q), cos(ROWS[2], Q)])
""",
    "bucket": """
from beagle_spark.ops import similarity
fn, t = kernel_of(similarity, similarity.hyperplane_bucket, "v",
                  [[1.0, 0.0, 0.0], [0.0, -1.0, 0.0], [0.0, 0.0, 1.0]])
check(fn, t, (vectors(ROWS),), [0, 0b101, 0b110])
""",
    "ivf": """
from beagle_spark.ops import similarity
fn, t = kernel_of(similarity, similarity.ivf_assign, "v", [ROWS[2], ROWS[0], ROWS[1]])
check(fn, t, (vectors(ROWS),), [1, 2, 0])
""",
    "simhash": """
from beagle_spark.ops import dedup
def simhash(tokens):
    sums = [0] * 64
    for tok in tokens:
        digits = hashlib.md5(tok.encode()).hexdigest()[:16]
        for i in range(64):
            sums[i] += 1 if int(digits[i // 4], 16) >> (i % 4) & 1 else -1
    v = sum(1 << i for i in range(64) if sums[i] > 0)
    return v - (1 << 64) if v >= 1 << 63 else v
rows = [["a", "b"], ["c"], ["a", "b", "a", "straße"]]
check(dedup._simhash, pa.int64(), (lists(rows, strings([w for r in rows for w in r])),),
      [simhash(r) for r in rows])
""",
    "media": """
from beagle_spark.ops import multimodal
fn, t = kernel_of(multimodal, multimodal.extract_features,
                  mock.MagicMock(columns=["payload", "format"]), 4)
want = [[float(x) for x in multimodal._fake_feature(b"abcdef", 4)], None, [0.0] * 4]
check(fn, t, (strings([b"abcdef", None, b""], pa.binary()), strings(["fake", None, "fake"])),
      want)
""",
}


@pytest.mark.parametrize("case", list(_WORKER_CASES))
def test_kernel_worker_loads_no_pandas(case):
    """Each column kernel's batch function, run through `kernel._apply`
    in a fresh process on batches built from buffers, returns arrays of
    exactly its Arrow type with the expected rows (a zero vector's
    cosine and a null payload's features read NULL), and the process
    never loads pandas: every kernel builds its output from buffers and
    reads its input with `kernel.view`, where `pa.array`,
    `Array.to_numpy` and `np.asarray(array)` would load it."""
    import pathlib
    import subprocess
    import sys

    script = _WORKER_PRELUDE + _WORKER_CASES[case] + "print('pandas' in sys.modules)\n"
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd=pathlib.Path(__file__).resolve().parents[1],
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"
