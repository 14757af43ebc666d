"""Structured Streaming surface.

The annotate operator is a stateless row map, so `Annotator.annotate_df`
works unchanged on streaming DataFrames (tested batch==streaming in
tests/test_spark_annotate.py). This module adds the stream-specific
pieces the reference never had (its "in-stream" usage is a library call
per document, README.md:11):

- annotate_stream: readStream -> annotate -> (optional) explode
- windowed_annotation_counts: event-time tumbling windows + watermark
  over the annotation stream (late data handled by Spark state GC)
- stateful_match_totals: running match totals per dictionary entry, a
  declarative streaming aggregation (state is one counter per entry)
- stream_exact_dedup: watermarked dropDuplicates on the text fingerprint
- run_with_dictionary_refresh: foreachBatch driver that recompiles +
  re-broadcasts the dictionary when its source changes — the Spark
  equivalent of updating Lucene Monitor's query index in place.

Scale notes: annotation adds no shuffle to a stream; the stateful
operators shuffle by their key (window x entry, entry, text hash).
Windowed and dedup state is bounded by the watermark horizon, the
running totals by the dictionary size; choose shuffle partitions to
match key cardinality, not input volume.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .annotator import Annotator
from .ops.textstats import fingerprint


def annotate_stream(
    stream_df: DataFrame,
    dictionary,
    text_col: str = "text",
    opts: dict | None = None,
    explode: bool = False,
) -> DataFrame:
    ann = Annotator(dictionary, opts)
    if explode:
        return ann.explode(stream_df, text_col=text_col)
    return ann.annotate_df(stream_df, text_col=text_col)


def windowed_annotation_counts(
    annotated: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts of annotations per dictionary entry with a
    watermark for late data (SURVEY.md Q5 streaming form)."""
    return (
        annotated.withWatermark(ts_col, watermark)
        .select(ts_col, F.explode("annotations").alias("a"))
        .groupBy(
            F.window(ts_col, window).alias("w"),
            F.col("a.dict_entry_id").alias("dict_entry_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .select(
            F.col("w.start").alias("window_start"),
            "dict_entry_id",
            "n_matches",
        )
    )


def stateful_match_totals(exploded_annotations: DataFrame) -> DataFrame:
    """Running total of matches per dictionary entry across
    micro-batches (what the reference's users script around the library
    by hand), as Spark's built-in streaming aggregation: in update mode
    each micro-batch emits the new (dict_entry_id, total_matches) of
    every entry it touched. The state store keeps one counter per entry,
    O(#dictionary) state independent of stream length. Input: the
    exploded annotation stream (``explode=True``), with a
    ``dict_entry_id`` column."""
    return exploded_annotations.groupBy("dict_entry_id").agg(
        F.count(F.lit(1)).alias("total_matches")
    )


def stream_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop documents whose normalized-text hash
    was already seen within the watermark horizon. Uses Spark's stateful
    dropDuplicates — state is GC'd past the watermark, so memory is
    bounded by (arrival rate x horizon), not stream length."""
    hashed = stream_df.withColumn("_text_hash", fingerprint(F.col(text_col)))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicates(["_text_hash"])
        .drop("_text_hash")
    )


def run_with_dictionary_refresh(
    stream_df: DataFrame,
    load_dictionary: Callable[[], list[dict]],
    sink: Callable[[DataFrame, int], None],
    text_col: str = "text",
    opts: dict | None = None,
    checkpoint_dir: Optional[str] = None,
    refresh_every_n_batches: int = 10,
):
    """foreachBatch loop that re-reads the dictionary source at every
    N-th micro-batch id (`batch_id % N == 0`, batch 0 excepted) and
    recompiles/re-broadcasts it (the old broadcast is unpersisted).
    Dictionary updates take effect at a batch boundary — the same
    consistency unit as the reference's thread-safe Monitor updates
    (CHANGELOG:36-39). Keyed on `batch_id`, refreshes fall on the same
    batches after a restart from the checkpoint; the restart itself
    loads the dictionary again."""
    state = {"annotator": Annotator(load_dictionary(), opts)}

    def process(batch_df: DataFrame, batch_id: int):
        if batch_id and batch_id % refresh_every_n_batches == 0:
            old = state["annotator"]
            state["annotator"] = Annotator(load_dictionary(), opts)
            if old._bc is not None:
                old._bc.unpersist()
        sink(state["annotator"].annotate_df(batch_df, text_col=text_col), batch_id)

    writer = stream_df.writeStream.foreachBatch(process)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
