"""Dictionary persistence (reference A10: queries are serialized as
(id, query-string, metadata) JSON and recompiled from source text on
load — monitor.clj:12-25; we persist the dictionary itself and always
recompile, never the compiled form). Keys are written in the
reference's file spelling, `schema.FILE_KEYS`."""

from __future__ import annotations

import csv
import json
from typing import IO, Union

from ..schema import FILE_KEYS, entry_key

Sink = Union[str, IO]


def _writer(sink: Sink):
    if hasattr(sink, "write"):
        return sink, False
    return open(sink, "w", encoding="utf-8"), True


def write_json(dictionary: list[dict], sink: Sink) -> None:
    f, close = _writer(sink)
    try:
        json.dump([_clean(e) for e in dictionary], f, ensure_ascii=False, indent=1)
    finally:
        if close:
            f.close()


CSV_COLUMNS = list(FILE_KEYS.values())


def write_csv(dictionary: list[dict], sink: Sink) -> None:
    """Inverse of readers.read_csv: synonyms joined with ';', meta
    flattened to alternating k;v."""
    f, close = _writer(sink)
    try:
        w = csv.writer(f)
        w.writerow(CSV_COLUMNS)
        for e in dictionary:
            e = _clean(e)
            row = []
            for col in CSV_COLUMNS:
                v = e.get(col)
                if v is None:
                    row.append("")
                elif col == "synonyms":
                    row.append(";".join(v))
                elif col == "meta":
                    row.append(";".join(x for kv in v.items() for x in kv))
                elif isinstance(v, bool):
                    row.append("true" if v else "false")
                else:
                    row.append(str(v))
            w.writerow(row)
    finally:
        if close:
            f.close()


def _clean(entry) -> dict:
    """`entry` with every field key in its file spelling; a key that
    names no field keeps its own."""
    if hasattr(entry, "to_dict"):
        entry = entry.to_dict()
    return {FILE_KEYS.get(entry_key(k), str(k).lstrip(":")): v for k, v in entry.items()}
