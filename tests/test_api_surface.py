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


def test_annotate_worker_loads_no_pandas():
    """The annotate kernel's batch function builds its output column from
    buffers, so a worker that compiles a dictionary and annotates a
    batch (built here with `pa.StringArray.from_buffers`, as Spark hands
    the worker an Arrow array) never loads pandas; `pa.array` would."""
    import pathlib
    import subprocess
    import sys

    script = """
import sys
import numpy as np
import pyarrow as pa
from beagle_spark.annotator import Annotator, _batch_matcher
from beagle_spark.kernel import _apply
from beagle_spark.schema import ANNOTATION_ARROW_TYPE
ann = Annotator([{"text": "table scan", "id": "p", "case-sensitive?": False},
                 {"text": "hash join", "slop": 1, "id": "s"}])
data = "a Table scan, then a hash  join; straße".encode()
offsets = np.array([0, 14, len(data), len(data)], dtype=np.int32)
texts = pa.StringArray.from_buffers(3, pa.py_buffer(offsets), pa.py_buffer(data))
empty = pa.StringArray.from_buffers(0, pa.py_buffer(np.zeros(1, dtype=np.int32)), pa.py_buffer(b""))
out = list(_apply([texts, empty], _batch_matcher(ann.compiled), ANNOTATION_ARROW_TYPE))
assert [len(a) for a in out] == [3, 0] and out[0].type == ANNOTATION_ARROW_TYPE
assert [len(r) for r in out[0].to_pylist()] == [1, 1, 0]
print('pandas' in sys.modules)
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        check=True,
        cwd=pathlib.Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "False"


def test_lucene_worker_loads_no_pandas():
    """The query-string annotator's batch function builds its
    query-match column from buffers too, so a worker that compiles a
    query-string dictionary and annotates a batch never loads pandas."""
    import pathlib
    import subprocess
    import sys

    script = """
import sys
import numpy as np
import pyarrow as pa
from beagle_spark.kernel import _apply
from beagle_spark.lucene_query import compile_lucene_dictionary, match_queries
from beagle_spark.schema import QUERY_MATCHES_ARROW_TYPE
cq = compile_lucene_dictionary([
    {"text": "table AND scan", "id": "q", "meta": {"k": "v"}},
    {"text": '"hash join"~1 OR stra*', "id": "r", "case-sensitive?": False},
    {"text": "[a TO c] -vector", "id": "s"}])
data = "a Table scan, then a hash  join; straße".encode()
offsets = np.array([0, 14, len(data), len(data)], dtype=np.int32)
texts = pa.StringArray.from_buffers(3, pa.py_buffer(offsets), pa.py_buffer(data))
empty = pa.StringArray.from_buffers(0, pa.py_buffer(np.zeros(1, dtype=np.int32)), pa.py_buffer(b""))
out = list(_apply([texts, empty], lambda t: match_queries(t, cq), QUERY_MATCHES_ARROW_TYPE))
assert [len(a) for a in out] == [3, 0] and out[0].type == QUERY_MATCHES_ARROW_TYPE
assert [[m["dict_entry_id"] for m in r] for r in out[0].to_pylist()] == [["s"], ["r", "s"], []]
print('pandas' in sys.modules)
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        check=True,
        cwd=pathlib.Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "False"
