"""Dictionary persistence (reference A10: queries are serialized as
(id, query-string, metadata) JSON and recompiled from source text on
load — monitor.clj:12-25; we persist the dictionary itself and always
recompile, never the compiled form). Keys are written in the
reference's file spelling, `schema.FILE_KEYS`."""

from __future__ import annotations

import csv
import json
from typing import IO, Union

from ..schema import FILE_KEYS, entry_key, norm_meta

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
    flattened to alternating k;v with values as strings
    (`schema.norm_meta`). The format has no escape for ';', and the
    reader trims every cell and item and drops blank ones, so a ';'
    inside a synonym or a meta key or value, and an empty or padded
    string (a field value, a synonym, a meta key or value), raises
    ValueError naming the entry's index before anything is written."""
    rows = [_csv_row(_clean(e), i) for i, e in enumerate(dictionary)]
    f, close = _writer(sink)
    try:
        w = csv.writer(f)
        w.writerow(CSV_COLUMNS)
        w.writerows(rows)
    finally:
        if close:
            f.close()


def _csv_row(e: dict, i: int) -> list[str]:
    row = []
    for col in CSV_COLUMNS:
        v = e.get(col)
        if v is None:
            row.append("")
        elif col == "synonyms":
            row.append(_joined(v, i))
        elif col == "meta":
            row.append(_joined([x for kv in norm_meta(v).items() for x in kv], i))
        elif isinstance(v, bool):
            row.append("true" if v else "false")
        else:
            row.append(_cell(str(v), i))
    return row


def _joined(items: list[str], i: int) -> str:
    if any(";" in x for x in items):
        raise ValueError(f"dictionary entry {i}: ';' in a synonym or meta item has no CSV form")
    return ";".join(_cell(x, i) for x in items)


def _cell(s: str, i: int) -> str:
    if not s or s != s.strip():
        raise ValueError(f"dictionary entry {i}: {s!r} would not read back (cells are trimmed, blanks dropped)")
    return s


def _clean(entry) -> dict:
    """`entry` with every field key in its file spelling; a key that
    names no field keeps its own."""
    if hasattr(entry, "to_dict"):
        entry = entry.to_dict()
    return {FILE_KEYS.get(entry_key(k), str(k).lstrip(":")): v for k, v in entry.items()}
