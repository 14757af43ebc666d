"""beagle_spark — a PySpark-native stream-search / percolation engine.

Capabilities of tokenmill/beagle (register a dictionary of phrase
queries, annotate document streams with offsets), re-designed for
Spark: broadcast compiled dictionaries, Arrow-batched vectorized
matching, batch + Structured Streaming, plus the relational and
training-data-pipeline surface (dedup, similarity, text stats) a
100 TB corpus needs.
"""

from . import io, ops, streaming  # noqa: F401
from .annotator import (Annotator, annotate_df, annotator, highlighter,
                        register_sql_function)
from .matcher import compile_dictionary, match_text
from .schema import ANNOTATION_STRUCT, ANNOTATIONS_TYPE, DictionaryEntry

__version__ = "0.1.0"

__all__ = [
    "Annotator",
    "annotate_df",
    "annotator",
    "highlighter",
    "register_sql_function",
    "io",
    "ops",
    "streaming",
    "compile_dictionary",
    "match_text",
    "DictionaryEntry",
    "ANNOTATION_STRUCT",
    "ANNOTATIONS_TYPE",
]
