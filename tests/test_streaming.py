"""Streaming surface tests: windowed annotation counts with watermark,
and foreachBatch dictionary refresh."""

import pytest
from pyspark.sql import functions as F

from beagle_spark.relational import load_events
from beagle_spark.streaming import (
    annotate_stream,
    run_with_dictionary_refresh,
    windowed_annotation_counts,
)

DICT = [{"text": "table scan", "id": "p1", "case-sensitive?": False}]


def test_windowed_counts_batch_form(spark, sf_dir):
    # the windowed aggregation plan works identically on a batch DF
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    # attach synthetic event times spanning 3 hours
    docs = docs.withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        + F.make_interval(mins=(F.col("doc_id") % 180).cast("int")),
    )
    from beagle_spark import Annotator

    annotated = Annotator(DICT).annotate_df(docs)
    out = windowed_annotation_counts(annotated, window="1 hour", watermark="2 hours")
    rows = out.collect()
    assert rows
    assert all(r["n_matches"] > 0 for r in rows)
    assert len({r["window_start"] for r in rows}) >= 2


def test_dictionary_refresh(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    src = str(tmp_path / "stream_src")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    dicts = [
        [{"text": "table", "id": "v1", "case-sensitive?": False}],
        [{"text": "spark", "id": "v2", "case-sensitive?": False}],
    ]
    calls = {"n": 0}

    def load_dictionary():
        d = dicts[min(calls["n"], 1)]
        calls["n"] += 1
        return d

    seen = []

    def sink(df, batch_id):
        ids = (
            df.select(F.explode("annotations").alias("a"))
            .select(F.col("a.dict_entry_id").alias("id"))
            .distinct()
            .collect()
        )
        seen.append({r["id"] for r in ids})

    q = run_with_dictionary_refresh(
        stream, load_dictionary, sink, refresh_every_n_batches=1,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert seen and seen[0] == {"v1"}


def test_dictionary_refresh_keyed_on_batch_id(spark, tmp_path):
    """Refreshes fall on batch ids, not on a count of the batches this
    run has seen: after a restart from the checkpoint, batch 2 of
    `refresh_every_n_batches=2` still reloads the dictionary."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    calls = {"n": 0}

    def load_dictionary():
        d = [{"text": "alpha", "id": f"v{calls['n']}"}]
        calls["n"] += 1
        return d

    seen = {}

    def sink(df, batch_id):
        seen[batch_id] = sorted(
            {r["a"]["dict_entry_id"] for r in df.select(F.explode("annotations").alias("a")).collect()}
        )

    def run():
        stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = run_with_dictionary_refresh(stream, load_dictionary, sink,
                                        refresh_every_n_batches=2, checkpoint_dir=ckpt)
        q.processAllAvailable()
        q.stop()

    docs.coalesce(1).write.parquet(src)  # file A: batch 0
    run()
    for _ in range(2):  # files B and C: batches 1 and 2 after the restart
        docs.coalesce(1).write.mode("append").parquet(src)
    run()
    # the restart loads v1; batch 2 refreshes to the third load
    assert seen == {0: ["v0"], 1: ["v1"], 2: ["v2"]}


def test_stream_exact_dedup(spark, tmp_path):
    from pyspark.sql import Row
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        Row(doc_id=1, text="hello world", ts=base),
        Row(doc_id=2, text="HELLO   world", ts=base + datetime.timedelta(minutes=1)),
        Row(doc_id=3, text="different", ts=base + datetime.timedelta(minutes=2)),
    ]
    src = str(tmp_path / "dedup_src")
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    from beagle_spark.streaming import stream_exact_dedup

    q = (
        stream_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    out = spark.sql("SELECT doc_id FROM dedup_stream").collect()
    q.stop()
    ids = sorted(r["doc_id"] for r in out)
    # doc 2 normalizes to the same text as doc 1 -> dropped
    assert 3 in ids and len(ids) == 2


def test_stateful_match_totals(spark, sf_dir, tmp_path):
    from beagle_spark.streaming import annotate_stream, stateful_match_totals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    src = str(tmp_path / "state_src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    exploded = annotate_stream(stream, DICT, explode=True)
    totals = stateful_match_totals(exploded)
    q = (
        totals.writeStream.format("memory")
        .queryName("totals_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .start()
    )
    q.processAllAvailable()
    rows = spark.sql(
        "SELECT dict_entry_id, max(total_matches) AS n FROM totals_stream GROUP BY 1"
    ).collect()
    q.stop()

    # running totals must converge to the batch ground truth
    from beagle_spark import Annotator

    batch = (
        Annotator(DICT)
        .explode(docs, keep_cols=["doc_id"])
        .groupBy("dict_entry_id")
        .count()
        .collect()
    )
    expected = {r["dict_entry_id"]: r["count"] for r in batch}
    got = {r["dict_entry_id"]: r["n"] for r in rows}
    assert got == expected


def test_batch_streaming_annotation_equivalence(spark, sf_dir, tmp_path):
    """SURVEY §5 item 4: the annotate operator yields the identical
    annotation set whether the corpus is read as a batch DataFrame or
    consumed through readStream + foreachBatch (the operator is a
    stateless row map, so the plans must agree row-for-row)."""
    from beagle_spark import Annotator

    dictionary = [
        {"text": "table scan", "id": "p1", "case-sensitive?": False},
        {"text": "data", "id": "p2", "stem?": True, "stemmer": "english"},
    ]
    src = str(tmp_path / "src")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
    )
    docs.write.parquet(src)
    ann = Annotator(dictionary)

    def explode_sorted(df):
        return {
            (r["doc_id"], r["match_text"], r["dict_entry_id"],
             r["begin_offset"], r["end_offset"])
            for r in ann.explode(df, text_col="text",
                                 keep_cols=["doc_id"]).collect()
        }

    batch_set = explode_sorted(spark.read.parquet(src))

    collected = []
    stream = spark.readStream.schema(docs.schema).parquet(src)

    def sink(bdf, _bid):
        collected.extend(
            ann.explode(bdf, text_col="text", keep_cols=["doc_id"]).collect()
        )

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    stream_set = {
        (r["doc_id"], r["match_text"], r["dict_entry_id"],
         r["begin_offset"], r["end_offset"])
        for r in collected
    }
    assert batch_set, "expected non-empty annotation set"
    assert stream_set == batch_set
