"""Data model for the PySpark beagle engine, and the one home of the
dictionary-entry format.

Mirrors the reference's two record types (reference:
src/beagle/schema.clj:25-44):

- DictionaryEntry    <- defrecord DictionaryEntry (schema.clj:31-32), a
  plain-Python dataclass read on the driver during dictionary
  compilation;
- ANNOTATION_STRUCT  <- defrecord Highlight       (schema.clj:44), the
  Spark struct of one match (`highlighter` returns the same fields as
  a dict); `QUERY_MATCHES_TYPE` is the query-string annotator's
  array of the same record without its offsets.

The entry format, which the readers, writers, validator, optimizer and
both compilers read from here:

- keys: every key is read by `entry_key`, the option rule `norm_key`
  (`:case-sensitive?` -> `case_sensitive`) plus the one alias
  `dict-entry-id` -> `id`;
- fields: the `DictionaryEntry` fields, in CSV column order;
- types: `BOOL_FIELDS` (the five flags) and `INT_FIELDS` (`slop`,
  `fuzziness`), read off the field annotations;
- file spelling: `FILE_KEYS`, the reference's spelling of each field
  in CSV/JSON/EDN files (`case_sensitive` -> `case-sensitive?`; every
  field but the flags is spelled as its name).
"""

from __future__ import annotations

from dataclasses import dataclass, fields
from typing import Optional, get_type_hints

from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Annotation output schema: one array element per match, per document row.
# Char offsets into the ORIGINAL text; annotation `text` is exactly
# original[begin:end] (reference: phrases.clj:77,94-95).
# ---------------------------------------------------------------------------
ANNOTATION_STRUCT = StructType(
    [
        StructField("text", StringType(), False),
        StructField("type", StringType(), True),
        StructField("dict_entry_id", StringType(), True),
        StructField("meta", MapType(StringType(), StringType()), True),
        StructField("begin_offset", IntegerType(), False),
        StructField("end_offset", IntegerType(), False),
    ]
)
ANNOTATIONS_TYPE = ArrayType(ANNOTATION_STRUCT, containsNull=False)
# its Arrow type, exactly as the Python worker expects the kernel's output
ANNOTATION_ARROW_TYPE = to_arrow_type(ANNOTATIONS_TYPE)
# A query-string match is the same record without offsets
# (lucene_alpha.clj:18-28).
QUERY_MATCHES_TYPE = ArrayType(StructType(ANNOTATION_STRUCT.fields[:4]), containsNull=False)
QUERY_MATCHES_ARROW_TYPE = to_arrow_type(QUERY_MATCHES_TYPE)

def norm_key(k) -> str:
    """The one spelling rule for option and entry keys: the reference's
    keywords map to snake_case (`:case-sensitive?` -> `case_sensitive`,
    `type-name` -> `type_name`)."""
    return str(k).lstrip(":").replace("-", "_").rstrip("?")


def norm_keys(d: dict | None) -> dict:
    """`d` with every key spelled by `norm_key`."""
    return {norm_key(k): v for k, v in (d or {}).items()}


def norm_meta(meta: dict | None) -> dict:
    """Entry metadata as a str -> str map, keyword keys without their
    leading colon (phrases.clj:166)."""
    return {str(k).lstrip(":"): str(v) for k, v in (meta or {}).items()}


# the one entry spelling `norm_key` cannot derive
_ALIASES = {"dict_entry_id": "id"}


def entry_key(k) -> str:
    """The `DictionaryEntry` field an entry key names (unknown keys come
    back normalized and name no field)."""
    k = norm_key(k)
    return _ALIASES.get(k, k)


@dataclass
class DictionaryEntry:
    """Python-side dictionary entry (reference: schema.clj:31-32).

    `from_dict` reads every key through `entry_key`, so dictionaries
    written for the reference load unchanged. Nothing is checked here
    (that is the opt-in validator's job): an entry without `text`
    compiles to no tokens and is discarded like any other such entry.
    `meta` is always a str -> str map.
    """

    text: Optional[str] = None
    type: Optional[str] = None
    id: Optional[str] = None
    synonyms: Optional[list[str]] = None
    case_sensitive: Optional[bool] = None
    ascii_fold: Optional[bool] = None
    stem: Optional[bool] = None
    stemmer: Optional[str] = None
    slop: Optional[int] = None
    in_order: Optional[bool] = None
    tokenizer: Optional[str] = None
    fuzzy: Optional[bool] = None
    fuzziness: Optional[int] = None
    meta: Optional[dict] = None

    def __post_init__(self):
        if self.meta is not None:
            self.meta = norm_meta(self.meta)

    @classmethod
    def from_dict(cls, d: dict) -> "DictionaryEntry":
        kw = {}
        for k, v in d.items():
            k = entry_key(k)
            if k in FIELD_TYPES:
                kw[k] = v
        return cls(**kw)

    def to_dict(self) -> dict:
        return {k: getattr(self, k) for k in FIELD_TYPES if getattr(self, k) is not None}


FIELD_TYPES = {f.name: get_type_hints(DictionaryEntry)[f.name] for f in fields(DictionaryEntry)}
BOOL_FIELDS = tuple(k for k, t in FIELD_TYPES.items() if t == Optional[bool])
INT_FIELDS = tuple(k for k, t in FIELD_TYPES.items() if t == Optional[int])
FILE_KEYS = {k: f"{k.replace('_', '-')}?" if k in BOOL_FIELDS else k for k in FIELD_TYPES}

