"""Offset-preserving tokenizers.

Mirrors the reference's 7 tokenizers (reference:
src/beagle/text_analysis.clj:51-63) as compiled regexes (the `regex`
module, for proper Unicode classes). `standard`/`classic` approximate
Lucene's UAX#29 StandardTokenizer: word = letter run (with internal
apostrophes kept by `classic` style possessive handling downstream),
number = digit run with internal ./, separators. Validated against the
HTML corner-case corpus (see tests/test_corner_cases.py).

A whole column is tokenized at once (`scan` over a `TextBatch`):

- the ASCII rows of `standard`, `letter`, `whitespace`,
  `unicode-whitespace` and `strict` are scanned as bytes over the
  column's one data buffer: a 256-entry class table, derived by testing
  the tokenizer's full pattern on every ASCII character
  (`_byte_classes`), marks the token bytes (`bytes.translate`);
  `standard`'s `'`/`.`/`,` joiners become token bytes by their
  neighbours' classes; token runs and joiners stop at row ends;
- every other row (non-ASCII text, and the `keyword` and `classic`
  tokenizers) takes one regex `split` of the full pattern with a
  capturing group (gaps and tokens alternate) plus a running sum of the
  piece lengths, and its tokens join the batch's in row order;
- the batch's token strings are dictionary-encoded once, so the
  filters (`Scan.map`) run once per distinct token.

The result is a `Scan`: per token its row, its char offsets in that row
(annotations carry char spans, schema.clj:36-37) and its code into the
batch vocabulary. `get_tokenizer(name)(text)` is the one-row case and
returns one flat `Tokens(texts, begins, ends)`.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache
from itertools import accumulate, repeat
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import regex as re


class Token(NamedTuple):
    text: str
    begin: int
    end: int


@dataclass(slots=True)
class Tokens:
    """An analyzed token stream as three parallel lists. ``len`` is the
    token count; ``tokens[i]`` and iteration give `Token`s for callers
    that want one record per token."""

    texts: list[str]
    begins: list[int]
    ends: list[int]

    def __len__(self) -> int:
        return len(self.texts)

    def __getitem__(self, i: int) -> Token:
        return Token(self.texts[i], self.begins[i], self.ends[i])

    def __iter__(self):
        return map(Token, self.texts, self.begins, self.ends)


# UAX#29 word with the MidLetter/MidNumLet join rules Lucene's
# StandardTokenizer applies (WB6/WB7, WB11/WB12): an alnum run extends
# across a single joiner when the joiner sits between the right kinds of
# neighbors — apostrophe/'/’ or '.' between LETTERS ("John's", "U.S.A",
# "example.com" each one token), '.' or ',' between DIGITS ("3.14",
# "1,000"). A joiner with the wrong neighbors splits ("a,b", "R2D2.com").
# CJK per UAX#29/Lucene: each Han ideograph / hiragana char is its own
# token (<IDEOGRAPHIC>/<HIRAGANA>); katakana forms runs (<KATAKANA>);
# hangul forms runs (<HANGUL>). The general alnum run excludes those
# scripts (regex-module V1 set subtraction).
_ALNUM = r"[[\p{L}\p{M}\p{Nd}]--[\p{Han}\p{Hiragana}\p{Katakana}]]"
# UAX#29 WB15/16: regional indicators bind in PAIRS (a flag = one
# token; an odd trailing RI stands alone). WB3c: no break inside
# emoji ZWJ sequences; Extended_Pictographic with variation selectors
# (FE0F), skin-tone modifiers (1F3FB-1F3FF) and combining marks stays
# one token — Lucene 8.x StandardTokenizer emits these as <EMOJI>.
# Text-default pictographs (\u00A9/\u00AE/\u2122/\u3030/\u303D: Emoji_Presentation=No symbols
# that double as ordinary text) are emoji ONLY with an explicit FE0F
# presentation selector \u2014 Lucene 8.x drops the bare forms as
# punctuation, so the standalone branch must not emit them (ADVICE r8).
_TEXT_DEFAULT_PICTO = "\u00A9\u00AE\u2122\u3030\u303D"
_EMOJI_UNIT = (
    rf"(?:[{_TEXT_DEFAULT_PICTO}]\uFE0F"
    rf"|[\p{{Extended_Pictographic}}--[{_TEXT_DEFAULT_PICTO}]])"
    r"[\uFE0F\U0001F3FB-\U0001F3FF\p{Mn}]*"
)
# Emoji keycap sequence (UTS#51 ED-20): [0-9#*] + optional FE0F +
# U+20E3 combining enclosing keycap is ONE token ("1\uFE0F\u20E3") \u2014
# checked before the alnum branch so the digit isn't split off.
_KEYCAP = r"[0-9#*]\uFE0F?\u20E3"
_STANDARD = re.compile(
    rf"{_KEYCAP}"
    r"|\p{Regional_Indicator}{2}"
    r"|\p{Regional_Indicator}"
    rf"|{_EMOJI_UNIT}(?:\u200D{_EMOJI_UNIT})*"
    r"|\p{Katakana}+"
    r"|[\p{Han}\p{Hiragana}]"
    rf"|{_ALNUM}+"
    rf"(?:(?:(?<=\p{{L}})['’.](?=\p{{L}})|(?<=\p{{Nd}})[.,](?=\p{{Nd}})){_ALNUM}+)*",
    re.UNICODE | re.V1,
)
# ClassicTokenizer (pre-UAX#29 Lucene grammar) emits TYPED tokens; the
# types drive ClassicFilter (possessive/acronym stripping) downstream.
# ACRONYM = letter-dot pairs INCLUDING the trailing dot ("U.S.A.");
# APOSTROPHE = letters with internal ASCII apostrophes ("John's");
# EMAIL / HOST / COMPANY per the classic jflex grammar ("foo@bar.com",
# "example.com", "AT&T" are each ONE typed token). jflex resolves
# ACRONYM-vs-HOST by longest match, so "U.S.A." is an ACRONYM but
# dotless "U.S.A" is a HOST — the (?!\p{L}) lookahead reproduces that;
# NUM before HOST keeps "3.14" a NUM.
_CLASSIC_TYPED = re.compile(
    r"(?P<EMAIL>[\p{L}\p{Nd}]+(?:[._-][\p{L}\p{Nd}]+)*"
    r"@[\p{L}\p{Nd}]+(?:[.-][\p{L}\p{Nd}]+)+)"
    r"|(?P<ACRONYM>\p{L}\.(?:\p{L}\.)+(?!\p{L}))"
    r"|(?P<COMPANY>\p{L}+[&@]\p{L}+)"
    r"|(?P<APOSTROPHE>\p{L}+(?:'\p{L}+)+)"
    r"|(?P<NUM>\p{Nd}+(?:[.,]\p{Nd}+)*)"
    r"|(?P<HOST>[\p{L}\p{Nd}]+(?:\.[\p{L}\p{Nd}]+)+)"
    r"|(?P<ALPHANUM>[\p{L}\p{M}\p{Nd}]+)",
    re.UNICODE,
)
# the untyped classic grammar: the same alternatives without the named
# groups, so it splits like the other patterns
_CLASSIC = re.compile(re.sub(r"\(\?P<\w+>", "(?:", _CLASSIC_TYPED.pattern), re.UNICODE)
_LETTER = re.compile(r"[\p{L}\p{M}]+", re.UNICODE)
# Lucene WhitespaceTokenizer splits on java Character.isWhitespace —
# which EXCLUDES no-break spaces (U+00A0, U+2007, U+202F);
# UnicodeWhitespaceTokenizer splits on the Unicode whitespace property
# (includes them). Mirror the distinction.
_JAVA_WS = "".join(
    chr(c)
    for c in (
        [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20, 0x1680]
        + list(range(0x2000, 0x2007))      # 2000-2006 (2007 is no-break)
        + list(range(0x2008, 0x200B))      # 2008-200A
        + [0x2028, 0x2029, 0x205F, 0x3000]
    )
)
_WHITESPACE = re.compile(f"[^{re.escape(_JAVA_WS)}]+", re.UNICODE)
_UNICODE_WHITESPACE = re.compile(r"\S+", re.UNICODE)
# reference `strict` tokenizer regex (text_analysis.clj:58-60): splits on
# anything NOT in [a-zA-Z0-9{}\[\]()<>#+=@&'] — i.e. tokens are runs of
# those chars.
_STRICT = re.compile(r"[a-zA-Z0-9{}\[\]()<>#+=@&']+")
# Lucene KeywordTokenizer: the entire (non-empty) input is one token.
_KEYWORD = re.compile(r".+", re.DOTALL)

_PATTERNS = {
    "standard": _STANDARD,
    "classic": _CLASSIC,
    "letter": _LETTER,
    "whitespace": _WHITESPACE,
    "unicode-whitespace": _UNICODE_WHITESPACE,
    "strict": _STRICT,
    "keyword": _KEYWORD,
}


# the tokenizers whose ASCII rows are scanned as bytes (`_byte_classes`);
# `keyword` and `classic` rows always take the per-row regex split
_BYTE_SCANNED = frozenset({"standard", "letter", "whitespace", "unicode-whitespace", "strict"})

# the bytes `str.isspace` accepts (what `text.strip()` removes)
_SPACE_BYTES = np.array([chr(c).isspace() for c in range(256)]) & (np.arange(256) < 128)


def _flat(pieces: list) -> Tokens:
    """`Tokens` from a capturing split: pieces alternate gap, token,
    gap, ..., gap, so token i spans [sum(len(pieces[:2i+1])),
    sum(len(pieces[:2i+2])))."""
    bounds = list(accumulate(map(len, pieces)))
    return Tokens(pieces[1::2], bounds[0:-1:2], bounds[1::2])


def _splitter(pattern):
    """`split` of ``pattern`` wrapped in one capturing group. Every
    pattern here matches only non-empty text, so the split finds
    exactly the matches `finditer` finds."""
    return re.compile(f"({pattern.pattern})", pattern.flags).split


def tokenize_classic_typed(text: str) -> list[tuple[Token, str]]:
    """Classic tokenization with Lucene token types (ACRONYM /
    APOSTROPHE / NUM / ALPHANUM) — ClassicFilter keys off the type
    (Lucene ClassicFilter.incrementToken)."""
    return [
        (Token(m.group(), m.start(), m.end()), m.lastgroup)
        for m in _CLASSIC_TYPED.finditer(text)
    ]


# The two code points whose `str.lower` is not their per-code-point
# lowercase: 'İ' lowers to two chars and 'Σ' to a final 'ς' by context.
_LOWER_FIXUPS = {0x130: "i", 0x3A3: "σ"}


def lower(s: str) -> str:
    """Lucene's LowerCaseFilter: each code point lowered on its own
    (`Character.toLowerCase(int)`), so 'İSTANBUL ΣΟΣ' gives
    'istanbul σοσ'. Never changes a string's length. (An ASCII string
    takes `str.lower` alone, ten times cheaper than the fixup table.)"""
    return s.lower() if s.isascii() else s.translate(_LOWER_FIXUPS).lower()


@lru_cache(maxsize=None)
def _byte_classes(name: str) -> tuple:
    """The byte scan of an ASCII row under tokenizer ``name``, derived
    by testing its full pattern on every ASCII character:

    - ``token``: byte b alone is a token (its runs are the tokens), as
      a `bytes.translate` table of 0/1;
    - ``joiner``: the same table of every joiner byte, None if none;
    - ``joins``: ``(side, joiner)`` pairs of 256-entry bool arrays. A
      joiner byte between two ``side`` bytes of the same row is a token
      byte: character x belongs to the side of the joiners j for which
      ``x j x`` is one token (standard's `'`/`.` between letters and
      `.`/`,` between digits; the other four have none)."""
    pattern = _PATTERNS[name]
    chars = [chr(c) for c in range(128)]
    token = np.zeros(256, dtype=bool)
    token[:128] = [pattern.fullmatch(c) is not None for c in chars]
    gaps = [j for j in range(128) if not token[j]]
    sides: dict[frozenset, list[int]] = {}
    for x in np.flatnonzero(token).tolist():
        js = frozenset(j for j in gaps if pattern.fullmatch(chars[x] + chars[j] + chars[x]))
        if js:
            sides.setdefault(js, []).append(x)
    joins = []
    for js, xs in sides.items():
        side = np.zeros(256, dtype=bool)
        side[xs] = True
        joiner = np.zeros(256, dtype=bool)
        joiner[list(js)] = True
        joins.append((side, joiner))
    if not joins:
        return token.tobytes(), None, ()
    return token.tobytes(), np.logical_or.reduce([j for _, j in joins]).tobytes(), tuple(joins)


class TextBatch:
    """A column of texts read once: the UTF-8 data as one `bytes` (and
    a ``uint8`` view of it), the row byte offsets into it, which rows
    are valid (not null), pure ASCII or blank; a row's `str` is decoded
    only when asked for. Built from an Arrow string array (`from_arrow`,
    one copy of the data buffer; the ASCII and blank flags are derived
    from the bytes when first asked for) or from Python strings
    (`from_strings`, which sets both flags from the strings; a one-row
    batch is ``from_strings([text])``)."""

    __slots__ = ("n", "raw", "data", "offsets", "valid", "_ascii", "_blank", "_strings")

    def __init__(self, raw: bytes, offsets: np.ndarray, valid: np.ndarray, strings,
                 ascii=None, blank=None):
        self.n = len(offsets) - 1
        self.raw = raw  # the data as `bytes`, for `bytes.translate`
        self.data = np.frombuffer(raw, dtype=np.uint8)
        self.offsets = offsets
        self.valid = valid
        self._ascii = ascii
        self._blank = blank
        self._strings = strings

    @classmethod
    def from_arrow(cls, arr) -> "TextBatch":
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        n = len(arr)
        validity, offs_buf, data_buf = arr.buffers()
        width = 8 if pa.types.is_large_string(arr.type) else 4
        offs = np.frombuffer(offs_buf, np.int64 if width == 8 else np.int32, n + 1,
                             arr.offset * width).astype(np.int64)
        lo, hi = int(offs[0]), int(offs[-1])
        raw = data_buf.slice(lo, hi - lo).to_pybytes() if hi > lo else b""
        if arr.null_count:
            bits = np.unpackbits(np.frombuffer(validity, np.uint8), bitorder="little")
            valid = bits[arr.offset : arr.offset + n].astype(bool)
        else:
            valid = np.ones(n, dtype=bool)
        return cls(raw, offs - lo, valid, arr)

    @classmethod
    def from_strings(cls, texts) -> "TextBatch":
        """A batch of Python strings (None for null). A lone surrogate,
        which no Arrow string holds but a Python `str` may, is kept
        (such a row is not ASCII, so it takes the per-row scan)."""
        texts = list(texts)
        enc = [b"" if t is None else t.encode("utf-8", "surrogatepass") for t in texts]
        offs = np.fromiter(accumulate(map(len, enc), initial=0), np.int64, len(enc) + 1)
        valid, ascii, blank = np.array(
            [(t is not None, t is None or t.isascii(), t is None or not t.strip()) for t in texts],
            dtype=bool).reshape(-1, 3).T
        return cls(b"".join(enc), offs, valid, texts, ascii, blank)

    @property
    def ascii(self) -> np.ndarray:
        """Per row: every byte is ASCII."""
        if self._ascii is None:
            self._ascii = np.ones(self.n, dtype=bool)
            if not self.raw.isascii():
                high = np.flatnonzero(self.data >= 0x80)
                self._ascii[np.searchsorted(self.offsets, high, "right") - 1] = False
        return self._ascii

    def strings(self) -> list:
        """Every row as a `str` (None for a null row)."""
        if not isinstance(self._strings, list):
            self._strings = self._strings.to_pylist()
        return self._strings

    @property
    def blank(self) -> np.ndarray:
        """Per row: null, or `text.strip()` is empty. Only rows that
        start with a space or a non-ASCII byte are decoded to check."""
        if self._blank is None:
            offs, data = self.offsets, self.data
            out = ~self.valid | (offs[1:] == offs[:-1])
            if len(data):
                first = data[np.minimum(offs[:-1], len(data) - 1)]
                check = ~out & (_SPACE_BYTES[first] | (first >= 0x80))
                if check.any():
                    strings = self.strings()
                    for r in np.flatnonzero(check).tolist():
                        out[r] = not strings[r].strip()
            self._blank = out
        return self._blank


@dataclass(slots=True)
class Scan:
    """A batch's tokens, row-major: per token its ``row``, its char
    offsets in that row (``begin``, ``end``) and its ``code`` into the
    batch vocabulary ``vocab`` (distinct token strings)."""

    row: np.ndarray
    begin: np.ndarray
    end: np.ndarray
    code: np.ndarray
    vocab: list

    def take(self, keep: np.ndarray) -> "Scan":
        return Scan(self.row[keep], self.begin[keep], self.end[keep], self.code[keep], self.vocab)

    def map(self, f) -> "Scan":
        """The scan with ``f`` applied once per vocabulary entry: entries
        that map alike merge, and the tokens mapped to "" are dropped,
        so the vocabulary stays distinct."""
        mapped = list(map(f, self.vocab))
        ids = dict.fromkeys(mapped)
        emptied = ids.pop("", False) is None
        if len(ids) == len(mapped):  # nothing merged or dropped
            return Scan(self.row, self.begin, self.end, self.code, mapped)
        index = dict(zip(ids, range(len(ids))))
        remap = np.fromiter(map(index.get, mapped, repeat(-1)), np.int64, len(mapped))
        out = Scan(self.row, self.begin, self.end, remap[self.code], list(ids))
        return out.take(out.code >= 0) if emptied else out

    def tokens(self, lo: int = 0, hi: int | None = None) -> Tokens:
        """Tokens ``lo:hi`` as one flat `Tokens`."""
        vocab = self.vocab
        return Tokens([vocab[c] for c in self.code[lo:hi].tolist()],
                      self.begin[lo:hi].tolist(), self.end[lo:hi].tolist())

    def per_row(self, n_rows: int) -> list[Tokens]:
        """One `Tokens` per row of an ``n_rows``-row batch."""
        texts = [self.vocab[c] for c in self.code.tolist()]
        begins, ends = self.begin.tolist(), self.end.tolist()
        cuts = np.searchsorted(self.row, np.arange(n_rows + 1)).tolist()
        return [Tokens(texts[a:b], begins[a:b], ends[a:b]) for a, b in zip(cuts, cuts[1:])]


def _byte_scan(batch: TextBatch, name: str, rows):
    """Token (row, begin, end) arrays and token strings (an Arrow
    large-string array) of the ``rows`` (None: all) of ``batch``, all ASCII, under
    ``name``'s byte classes. A token or joiner never reaches across two
    rows."""
    token, joiner, joins = _byte_classes(name)
    raw, data, offs, n = batch.raw, batch.data, batch.offsets, batch.n
    size = len(data)
    t = np.frombuffer(bytearray(raw).translate(token), dtype=bool)
    if joiner is not None:
        jp = np.frombuffer(raw.translate(joiner), dtype=bool).nonzero()[0]
        if len(jp):
            jp = jp[(jp > 0) & (jp < size - 1)]
            if n > 1:  # a joiner at a row's edge has no neighbour
                edge = np.zeros(size + 1, dtype=bool)
                edge[offs] = True
                jp = jp[~edge[jp] & ~edge[jp + 1]]
            left, right, here = data[jp - 1], data[jp + 1], data[jp]
            for side, joins_here in joins:
                t[jp[side[left] & side[right] & joins_here[here]]] = True
    if rows is not None:
        t &= np.repeat(rows, np.diff(offs))
    padded = np.zeros(size + 2, dtype=bool)
    padded[1:-1] = t
    bounds = (padded[1:] != padded[:-1]).nonzero()[0]
    begins, ends = bounds[::2], bounds[1::2]
    if n > 1:
        # split each run that goes on across a row start (empty rows
        # repeat an offset)
        inner = np.unique(offs[1:-1])
        inner = inner[(inner > 0) & (inner < size)]
        cut = inner[t[inner - 1] & t[inner]]
        if len(cut):
            begins = np.insert(begins, np.searchsorted(begins, cut), cut)
            ends = np.insert(ends, np.searchsorted(ends, cut), cut)
        row = np.repeat(np.arange(n), np.diff(np.searchsorted(begins, offs)))
        base = offs[row]
        begins_in_row, ends_in_row = begins - base, ends - base
    else:
        row = np.zeros(len(begins), dtype=np.int64)
        begins_in_row, ends_in_row = begins, ends
    body = data[t]
    toffs = np.zeros(len(begins) + 1, dtype=np.int64)
    np.cumsum(ends - begins, out=toffs[1:])
    strs = pa.LargeStringArray.from_buffers(len(begins), pa.py_buffer(toffs), pa.py_buffer(body))
    return row, begins_in_row, ends_in_row, strs


def _ascii_strings(arr) -> list[str]:
    """The values of an Arrow large-string array of ASCII text, sliced
    from its one decoded data buffer: 4x cheaper than `to_pylist` (a
    35,646-entry batch vocabulary in 3.8 instead of 16.6 ms, a 40-entry
    one-row vocabulary in 6.6 instead of 28 us)."""
    _, offs_buf, data_buf = arr.buffers()
    offs = np.frombuffer(offs_buf, np.int64, len(arr) + 1, arr.offset * 8).tolist()
    text = data_buf.to_pybytes().decode("ascii") if data_buf is not None else ""
    return [text[a:b] for a, b in zip(offs, offs[1:])]


@lru_cache(maxsize=64)
def _row_scanner(name: str):
    """fn(text) -> Tokens by one regex split of the full pattern: the
    per-row scan of non-ASCII rows and of the `keyword` and `classic`
    tokenizers."""
    split = _splitter(_PATTERNS[name])
    return lambda text: _flat(split(text))


@lru_cache(maxsize=64)
def _resolve(name: str) -> str:
    """Unknown name -> standard (reference: text_analysis.clj:62-63 logs
    at debug and defaults)."""
    name = (name or "standard").lstrip(":").lower()
    return name if name in _PATTERNS else "standard"


def scan(batch: TextBatch, name: str, rows=None) -> Scan:
    """Tokenize the ``rows`` of ``batch`` (a row mask; None: every valid
    row) under tokenizer ``name``. ASCII rows of the byte-scanned
    tokenizers are scanned as bytes in one pass; every other row takes
    the regex split (`_row_scanner`) and its tokens are merged in row
    order. The token strings are dictionary-encoded once per batch and
    keep their case: the filters are `Scan.map`s of the vocabulary."""
    name = _resolve(name)
    rest = batch.valid if rows is None else rows
    if name in _BYTE_SCANNED:
        by_bytes = rest & batch.ascii
        rest = rest ^ by_bytes
        every = np.count_nonzero(by_bytes) == batch.n
        row, begin, end, strs = _byte_scan(batch, name, None if every else by_bytes)
        enc = pc.dictionary_encode(strs)
        code = np.frombuffer(enc.indices.buffers()[1], np.int32, len(strs))
        vocab = _ascii_strings(enc.dictionary)
    else:
        row = begin = end = code = np.empty(0, dtype=np.int64)
        vocab = []
    if not np.count_nonzero(rest):
        return Scan(row, begin, end, code, vocab)
    row_fn = _row_scanner(name)
    strings = batch.strings()
    r_rows = rest.nonzero()[0]
    counts, r_begin, r_end, texts = [], [], [], []
    for r in r_rows.tolist():
        toks = row_fn(strings[r])
        counts.append(len(toks))
        r_begin += toks.begins
        r_end += toks.ends
        texts += toks.texts
    # codes per distinct token string: a dict lookup per distinct token,
    # then one NumPy gather per token
    seen = {s: i for i, s in enumerate(dict.fromkeys(texts))}
    ids = {s: i for i, s in enumerate(vocab)}
    remap = np.array([ids.setdefault(s, len(ids)) for s in seen], dtype=np.int64)
    extra = (np.repeat(r_rows, counts), r_begin, r_end,
             remap[np.fromiter(map(seen.__getitem__, texts), np.int64, len(texts))])
    cols = [np.concatenate([a, np.asarray(b, dtype=np.int64)]).astype(np.int64, copy=False)
            for a, b in zip((row, begin, end, code), extra)]
    order = np.argsort(cols[0], kind="stable")
    return Scan(*(c[order] for c in cols), list(ids))


@lru_cache(maxsize=64)
def get_tokenizer(name: str):
    """Return fn(text) -> Tokens, the one-row case of `scan` (no
    filter). Unknown name -> standard."""
    return lambda text: scan(TextBatch.from_strings([text]), name).tokens()
