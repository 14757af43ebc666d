"""Data model for the PySpark beagle engine.

Mirrors the reference's two record types (reference:
src/beagle/schema.clj:25-44) as Spark StructTypes plus plain-Python
dataclasses used on the driver during dictionary compilation.

- DictionaryEntry  <- defrecord DictionaryEntry (schema.clj:31-32)
- Annotation       <- defrecord Highlight       (schema.clj:44)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

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


@dataclass
class DictionaryEntry:
    """Python-side dictionary entry (reference: schema.clj:31-32).

    Field spellings follow the reference's keywords with `?`/`-` mapped to
    snake_case (`case-sensitive?` -> `case_sensitive`). `from_dict` accepts
    both spellings so CSV/JSON dictionaries written for the reference load
    unchanged.
    """

    text: str
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

    # the one spelling `norm_key` cannot derive
    _ALIASES = {"dict-entry-id": "id"}

    @classmethod
    def from_dict(cls, d: dict) -> "DictionaryEntry":
        kw = {}
        for k, v in d.items():
            k = cls._ALIASES.get(str(k).lstrip(":")) or norm_key(k)
            if k in cls.__dataclass_fields__:
                kw[k] = v
        if kw.get("meta") is not None:
            kw["meta"] = norm_meta(kw["meta"])
        return cls(**kw)

    def to_dict(self) -> dict:
        return {
            k: getattr(self, k)
            for k in self.__dataclass_fields__
            if not k.startswith("_") and getattr(self, k) is not None
        }


@dataclass
class Annotation:
    """Match result (reference: schema.clj:44)."""

    text: str
    type: Optional[str]
    dict_entry_id: Optional[str]
    meta: dict
    begin_offset: int
    end_offset: int

    def as_row(self) -> dict:
        return {
            "text": self.text,
            "type": self.type,
            "dict_entry_id": self.dict_entry_id,
            "meta": self.meta,
            "begin_offset": self.begin_offset,
            "end_offset": self.end_offset,
        }
