"""Spark-side tests for the annotate operator: DataFrame parity with
the local highlighter, explode shape, and batch == streaming
equivalence (SURVEY.md section 5 items 4-5)."""

import pytest
from pyspark.sql import functions as F

from beagle_spark import Annotator, highlighter

DICT = [
    {"text": "table scan", "id": "p1", "case-sensitive?": False},
    {"text": "hash join", "id": "p2", "case-sensitive?": False, "slop": 1},
    {"text": "spark", "id": "p3", "synonyms": ["pyspark"]},
]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_annotate_df_matches_local(spark, docs):
    ann = Annotator(DICT)
    sample = docs.limit(200)
    rows = ann.annotate_df(sample).select("doc_id", "text", "annotations").collect()
    assert rows
    local = highlighter(DICT)
    n_with = 0
    for r in rows:
        expected = local(r["text"])
        got = sorted(
            [(a["begin_offset"], a["end_offset"], a["dict_entry_id"]) for a in r["annotations"]]
        )
        exp = sorted([(a["begin_offset"], a["end_offset"], a["dict_entry_id"]) for a in expected])
        assert got == exp, f"doc {r['doc_id']}"
        n_with += bool(got)
    assert n_with > 0  # the synthetic corpus does contain these words


def test_annotation_struct_contents(spark, docs):
    ann = Annotator(DICT)
    ex = ann.explode(docs, keep_cols=["doc_id", "text"])
    row = ex.filter(F.col("dict_entry_id") == "p1").first()
    assert row is not None
    assert row["match_text"].lower() == "table scan"
    assert row["text"][row["begin_offset"] : row["end_offset"]] == row["match_text"]
    assert row["match_type"] == "PHRASE"


def test_blank_and_null_text(spark):
    df = spark.createDataFrame(
        [(1, "a table scan here"), (2, ""), (3, None), (4, "   ")], ["id", "text"]
    )
    ann = Annotator(DICT)
    out = {r["id"]: r["annotations"] for r in ann.annotate_df(df).collect()}
    assert len(out[1]) == 1
    assert out[2] == [] and out[3] == [] and out[4] == []


def test_arrow_batches_have_exact_output_type():
    """In process, no Spark: the batch function behind `Annotator.udf`
    (`match_batch`, through the kernel's `_apply`) builds arrays of
    exactly the Spark-expected Arrow type (so the serializer never
    casts) whose rows equal `match_text`, meta maps as item lists; null
    and blank rows give `[]`, never null."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from beagle_spark.kernel import _apply
    from beagle_spark.matcher import match_batch, match_text
    from beagle_spark.schema import ANNOTATIONS_TYPE

    ann = Annotator(DICT + [{"text": "İstanbul straße", "id": "p4", "meta": {"k": "v"}}])
    batches = [
        pa.array(["a table scan here and a TABLE  SCAN", None, "   "]),
        pa.array(["spark on pyspark: hash the join", "in İstanbul straße ok", ""]),
    ]
    texts = [t for b in batches for t in b.to_pylist()]
    out = list(_apply(batches, lambda t: match_batch(t, ann.compiled),
                      to_arrow_type(ANNOTATIONS_TYPE)))
    assert [len(a) for a in out] == [3, 3]
    got = [row for a in out for row in a.to_pylist()]
    for a in out:
        assert a.type == to_arrow_type(ANNOTATIONS_TYPE)
        assert a.null_count == 0
    want = [
        [{**d, "meta": list(d["meta"].items())} for d in match_text(t, ann.compiled)]
        for t in texts
    ]
    assert got == want
    assert got[1] == [] and got[2] == [] and got[5] == []
    assert [len(r) for r in got] == [2, 0, 0, 3, 1, 0]
    assert got[4][0]["meta"] == [("k", "v")]


def test_batch_streaming_equivalence(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    # write a small copy so the stream source has a bounded directory
    src = str(tmp_path / "docs_src")
    docs.coalesce(1).write.parquet(src)

    ann = Annotator(DICT)
    batch_counts = sorted(
        ann.explode(spark.read.parquet(src), keep_cols=["doc_id"])
        .groupBy("doc_id")
        .count()
        .collect()
    )

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        ann.explode(stream, keep_cols=["doc_id"])
        .groupBy("doc_id")
        .count()
        .writeStream.format("memory")
        .queryName("ann_stream")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    stream_counts = sorted(spark.sql("SELECT * FROM ann_stream").collect())
    q.stop()
    assert batch_counts == stream_counts
