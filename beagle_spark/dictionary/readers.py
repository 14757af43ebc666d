"""Dictionary readers: CSV / JSON / EDN (reference:
src/beagle/readers.clj:11-51).

CSV semantics carried over exactly (readers.clj:18-47):
- header-driven: header tokens become keys, in the header's own
  spelling; each column is parsed by the field its key names
  (`schema.entry_key`);
- all cells trimmed; blank cells dropped;
- `synonyms` split on `;`, items trimmed;
- flags parsed Java-`Boolean/valueOf`-style: any string other than
  case-insensitive "true" is False;
- `meta` split on `;` into consecutive k/v pairs; an odd trailing key
  is dropped (README.md:232).

Dictionaries are small, slowly-changing data: reading is driver-side
plain Python (no Spark job), the compiled form is broadcast. A
DataFrame loader is provided for dictionaries that live in a lake.
"""

from __future__ import annotations

import csv
import io
import json
from typing import IO, Union

from ..schema import BOOL_FIELDS, INT_FIELDS, entry_key

Source = Union[str, IO]


def _reader(source: Source, mode="r"):
    if hasattr(source, "read"):
        return io.StringIO(source.read()) if mode == "r" else source
    return open(source, mode, encoding="utf-8")


def _java_boolean(s: str) -> bool:
    """Boolean/valueOf: true iff equalsIgnoreCase('true')."""
    return s.lower() == "true"


def _meta(s: str) -> dict:
    parts = [p.strip() for p in s.split(";")]
    # an odd trailing key is dropped
    return {parts[i]: parts[i + 1] for i in range(0, len(parts) - 1, 2) if parts[i + 1]}


# field -> parser of its (trimmed, non-blank) CSV cell; other fields stay strings
_PARSE = {
    "synonyms": lambda s: [x.strip() for x in s.split(";")],
    "meta": _meta,
    **dict.fromkeys(BOOL_FIELDS, _java_boolean),
    **dict.fromkeys(INT_FIELDS, int),
}


def _parse_cells(cells: dict) -> dict:
    """A CSV row's string cells as an entry: trimmed, blanks dropped,
    each cell parsed by the field its key names."""
    out = {}
    for k, v in cells.items():
        v = v.strip() if v is not None else ""
        if v:
            out[k] = _PARSE.get(entry_key(k), str)(v)
    return out


def read_csv(source: Source) -> list[dict]:
    with _reader(source) as f:
        rows = list(csv.reader(f, delimiter=",", quotechar='"'))
    if not rows:
        return []
    header, *lines = rows
    header = [h.strip() for h in header]
    return [_parse_cells(dict(zip(header, line))) for line in lines if line]


def read_json(source: Source) -> list[dict]:
    with _reader(source) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Minimal EDN reader — enough for dictionary files: vectors/lists, maps,
# sets, strings, numbers, booleans, nil, keywords (readers.clj:11-16).
# Driver-only, dictionaries are tiny.
# ---------------------------------------------------------------------------
class _EdnParser:
    def __init__(self, text: str):
        self.t = text
        self.i = 0

    def _ws(self):
        while self.i < len(self.t):
            c = self.t[self.i]
            if c in " \t\n\r,":
                self.i += 1
            elif c == ";":  # comment to EOL
                while self.i < len(self.t) and self.t[self.i] != "\n":
                    self.i += 1
            else:
                break

    def parse(self):
        self._ws()
        c = self.t[self.i]
        if c == "[" or c == "(":
            return self._seq("]" if c == "[" else ")")
        if c == "{":
            return self._map()
        if c == "#" and self.t[self.i : self.i + 2] == "#{":
            self.i += 1
            return set(self._seq("}"))
        if c == '"':
            return self._string()
        if c == ":":
            return self._keyword()
        return self._atom()

    def _seq(self, close):
        self.i += 1
        out = []
        while True:
            self._ws()
            if self.t[self.i] == close:
                self.i += 1
                return out
            out.append(self.parse())

    def _map(self):
        self.i += 1
        out = {}
        while True:
            self._ws()
            if self.t[self.i] == "}":
                self.i += 1
                return out
            k = self.parse()
            v = self.parse()
            if isinstance(k, (list, set, dict)):
                k = str(k)
            out[k] = v

    def _string(self):
        self.i += 1
        buf = []
        while self.t[self.i] != '"':
            c = self.t[self.i]
            if c == "\\":
                self.i += 1
                esc = self.t[self.i]
                buf.append({"n": "\n", "t": "\t", "r": "\r"}.get(esc, esc))
            else:
                buf.append(c)
            self.i += 1
        self.i += 1
        return "".join(buf)

    def _keyword(self):
        j = self.i + 1
        while j < len(self.t) and self.t[j] not in ' \t\n\r,]})("':
            j += 1
        kw = self.t[self.i + 1 : j]
        self.i = j
        return kw  # keywords surface as plain strings

    def _atom(self):
        j = self.i
        while j < len(self.t) and self.t[j] not in ' \t\n\r,]})("':
            j += 1
        tok = self.t[self.i : j]
        self.i = j
        if tok == "true":
            return True
        if tok == "false":
            return False
        if tok == "nil":
            return None
        try:
            return int(tok)
        except ValueError:
            pass
        try:
            return float(tok)
        except ValueError:
            pass
        return tok


def read_edn(source: Source):
    with _reader(source) as f:
        return _EdnParser(f.read()).parse()


def read_dictionary_df(spark, path: str, fmt: str = "csv") -> list[dict]:
    """Load a dictionary stored in the lake via Spark, collect to the
    driver (dictionaries are small by design — they get broadcast)."""
    if fmt == "csv":
        df = spark.read.option("header", True).csv(path)
    elif fmt == "json":
        df = spark.read.json(path)
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        raise ValueError(f"File type not supported: `{fmt}`")
    rows = [r.asDict(recursive=True) for r in df.collect()]
    if fmt == "csv":  # every cell is a string, as in read_csv
        return [_parse_cells(r) for r in rows]
    return [{k: v for k, v in r.items() if v is not None} for r in rows]
