"""Public annotate API.

Two surfaces:

1. `highlighter(dictionary, opts)` — driver/local callable with the
   reference's calling convention (reference:
   src/beagle/phrases.clj:236-273): compile once, then
   `fn(text) -> [annotation dict]`, the one-row case of the Spark
   operator's batch function. Used to port the reference's test suite
   verbatim.

2. `Annotator` / `annotate_df(df, text_col, ...)` — the Spark-native
   operator (no reference equivalent; the whole point of this engine).
   The compiled dictionary is broadcast once; matching runs as an
   iterator `arrow_udf` whose batch function is `matcher.match_batch`:
   each `pa.Array` batch of texts is scanned, probed and emitted as
   arrays, and the `array<struct>` annotations column is built from
   buffers (`highlighter` runs the same path on one row). Stateless per
   row => identical on batch and streaming DataFrames, embarrassingly
   parallel, no shuffle (SURVEY.md section 3.4).

Scale notes (100 TB design):
- dictionary compile is driver-only; executors receive the compiled,
  prefilter-indexed program via SparkContext.broadcast (one copy per
  executor, not per task).
- per-doc cost does not grow with the number of exact phrases: they
  are one trie walk over the batch's tokens (`FieldProgram.walk`,
  O(tokens x trie depth x log keys)); sloppy and ordered phrases go
  through the presearcher-style counter prefilter
  (`FieldProgram.candidates`, O(distinct doc tokens x postings hit)),
  which verifies only candidate queries, mirroring Lucene Monitor's
  scaling trick (README.md:183-184 floor behavior).
- the UDF is stateless => Catalyst can pipeline it after pushed-down
  filters; no shuffle is introduced by annotation itself.
- partition sizing: keep >= ~500 docs per task (the Python-UDF analog
  of maxPartitionBytes). Over-splitting a small input across many
  Python workers trades trivial per-task work for per-batch Arrow +
  worker overhead and cache contention — measured 2.6x slower at 32
  partitions vs 8 on a 5k-doc corpus (bench.py sizes its input
  accordingly; at 100 TB the scan produces full splits naturally).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dictionary.optimizer import optimize
from .dictionary.validator import validate_dictionary
from .kernel import arrow_kernel
from .matcher import CompiledDictionary, compile_dictionary, match_batch, match_text
from .schema import ANNOTATIONS_TYPE, norm_keys

__all__ = ["highlighter", "Annotator", "annotate_df"]

def _compile(dictionary, opts: dict | None) -> CompiledDictionary:
    """Compile-phase of the reference highlighter (phrases.clj:265-273):
    optional validation of the entries as given, optional optimization,
    default type name; `compile_dictionary` converts the entries."""
    opts = norm_keys(opts)
    dictionary = list(dictionary)
    if opts.pop("validate_dictionary", False):
        validate_dictionary(dictionary, raise_on_error=True)
    if opts.pop("optimize_dictionary", False):
        dictionary = optimize(dictionary)
    type_name = opts.pop("type_name", None) or "PHRASE"
    merge = bool(opts.pop("merge_annotations", False))
    return compile_dictionary(
        dictionary, default_conf=opts, type_name=type_name, merge_annotations=merge
    )


def highlighter(dictionary, opts: dict | None = None):
    """Reference-parity local API: returns fn(text) -> [annotation]."""
    cd = _compile(dictionary, opts)

    def annotate(text: str, per_call_opts: dict | None = None) -> list[dict]:
        merge = None
        if per_call_opts:
            merge = norm_keys(per_call_opts).get("merge_annotations")
        return match_text(text, cd, merge=merge)

    annotate.compiled = cd  # type: ignore[attr-defined]
    return annotate


# deprecated variant kept for API parity (phrases.clj:275-284)
annotator = highlighter


class Annotator:
    """Spark-facing annotator: compile on the driver, broadcast, annotate
    whole DataFrames (batch or streaming)."""

    def __init__(self, dictionary, opts: dict | None = None):
        self.compiled = _compile(dictionary, opts)
        self._bc = None

    # -- local (driver-side) ------------------------------------------------
    def annotate(self, text: str) -> list[dict]:
        return match_text(text, self.compiled)

    # -- distributed ----------------------------------------------------------
    def _broadcast(self, spark: SparkSession):
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.compiled)
        return self._bc

    def udf(self, spark: SparkSession):
        """Arrow UDF: string column -> array<struct> of annotations, a
        `kernel.arrow_kernel` that calls `match_batch` once per Arrow
        batch and passes its column through. The broadcast is read once
        per partition, not once per batch. Null and blank text give
        `[]`, never null."""
        bc = self._broadcast(spark)
        return arrow_kernel(lambda: lambda texts: match_batch(texts, bc.value), ANNOTATIONS_TYPE)

    def annotate_df(
        self,
        df: DataFrame,
        text_col: str = "text",
        output_col: str = "annotations",
    ) -> DataFrame:
        """Append an `annotations: array<struct>` column. Works on batch
        and streaming DataFrames alike (stateless row map)."""
        spark = df.sparkSession
        fn = self.udf(spark)
        return df.withColumn(output_col, fn(F.col(text_col)))

    def explode(
        self,
        df: DataFrame,
        text_col: str = "text",
        keep_cols: Optional[list[str]] = None,
    ) -> DataFrame:
        """Annotate then explode to one row per annotation (documents with
        no matches drop out), with the annotation struct flattened."""
        ann = self.annotate_df(df, text_col=text_col, output_col="_ann")
        keep = keep_cols if keep_cols is not None else df.columns
        exploded = ann.select(*keep, F.explode("_ann").alias("a"))
        return exploded.select(
            *keep,
            F.col("a.text").alias("match_text"),
            F.col("a.type").alias("match_type"),
            F.col("a.dict_entry_id").alias("dict_entry_id"),
            F.col("a.meta").alias("match_meta"),
            F.col("a.begin_offset").alias("begin_offset"),
            F.col("a.end_offset").alias("end_offset"),
        )


def annotate_df(
    df: DataFrame,
    dictionary,
    text_col: str = "text",
    opts: dict | None = None,
    output_col: str = "annotations",
) -> DataFrame:
    """One-shot convenience: annotate `df[text_col]` with `dictionary`."""
    return Annotator(dictionary, opts).annotate_df(df, text_col, output_col)


def register_sql_function(
    spark: SparkSession,
    dictionary,
    name: str = "beagle_annotate",
    opts: dict | None = None,
) -> Annotator:
    """Expose the annotator to Spark SQL:
    ``SELECT beagle_annotate(text) FROM docs`` (SURVEY.md section 2
    Part B: the matcher as a UDF surface). The dictionary is bound at
    registration; returns the Annotator for re-registration on refresh."""
    ann = Annotator(dictionary, opts)
    spark.udf.register(name, ann.udf(spark))
    return ann
