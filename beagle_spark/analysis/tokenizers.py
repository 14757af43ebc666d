"""Offset-preserving tokenizers.

Mirrors the reference's 7 tokenizers (reference:
src/beagle/text_analysis.clj:51-63) as compiled regexes. A tokenizer
returns one flat `Tokens(texts, begins, ends)`: the token strings and
their char offsets into the original string as three parallel lists —
offsets are required because annotations carry char spans
(schema.clj:36-37), but the matcher reads them only for the positions
it emits. Each regex tokenizer builds the three lists from one
`split` with a capturing group (gaps and tokens alternate) plus a
running sum of the piece lengths; no per-token object is built.

Implemented with the `regex` module for proper Unicode classes, and a
stdlib-`re` twin for pure-ASCII input where the grammar allows it.
`standard`/`classic` approximate Lucene's UAX#29 StandardTokenizer:
word = letter run (with internal apostrophes kept by `classic` style
possessive handling downstream), number = digit run with internal
./, separators. Validated against the HTML corner-case corpus (see
tests/test_corner_cases.py).
"""

from __future__ import annotations

import re as sre
from dataclasses import dataclass
from functools import lru_cache
from itertools import accumulate
from typing import NamedTuple

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

# ASCII-restricted twin of _STANDARD, compiled with the stdlib `re`
# engine (~2.4x faster than the regex-module UAX#29 pattern on this
# corpus). For pure-ASCII input the keycap / regional-indicator /
# emoji / CJK branches of _STANDARD are unreachable (every char they
# can match is non-ASCII, incl. the '’' joiner), so the full grammar
# collapses to the alnum run + ASCII join rules below. Equivalence is
# pinned by tests/test_analysis.py::test_ascii_fastpath_equivalence.
_ASCII_STANDARD = sre.compile(
    r"[0-9A-Za-z]+"
    r"(?:(?:(?<=[A-Za-z])['.](?=[A-Za-z])|(?<=[0-9])[.,](?=[0-9]))[0-9A-Za-z]+)*"
)
# Same idea for the letter tokenizer: \p{L}\p{M} runs restricted to
# ASCII are exactly [A-Za-z] runs.
_ASCII_LETTER = sre.compile(r"[A-Za-z]+")
_ASCII_TWINS = {"standard": _ASCII_STANDARD, "letter": _ASCII_LETTER}


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
    engine = sre if isinstance(pattern, sre.Pattern) else re
    return engine.compile(f"({pattern.pattern})", pattern.flags).split


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
    'istanbul σοσ'. Never changes a string's length."""
    return s.translate(_LOWER_FIXUPS).lower()


def _make_scanner(pattern, ascii_twin, lowercase: bool):
    """Build fn(text) -> Tokens. Pure-ASCII input goes to the faster
    stdlib-re twin when there is one. ``lowercase`` fuses the
    LowerCaseFilter: ASCII text is lowered whole before the split
    (ASCII lowering keeps every character class); other text is split
    as is and each token lowered, because lowering before the split is
    not case-invariant there ('Ⓜ' is a pictograph the standard split
    keeps, 'ⓜ' is not; the strict split drops the Kelvin sign and 'İ'
    but keeps their lowercase forms)."""
    split = _splitter(pattern)
    ascii_split = _splitter(ascii_twin) if ascii_twin is not None else split

    def scan(text: str) -> Tokens:
        if text.isascii():
            return _flat(ascii_split(text.lower() if lowercase else text))
        toks = _flat(split(text))
        if lowercase:
            toks.texts = [lower(t) for t in toks.texts]
        return toks

    return scan


@lru_cache(maxsize=64)
def get_tokenizer(name: str, lower: bool = False):
    """Return fn(text) -> Tokens. Unknown name -> standard
    (reference: text_analysis.clj:62-63 logs at debug and defaults).

    ``lower=True`` fuses the LowerCaseFilter into the scan (identical
    output to lowering each token afterwards — per-char lowercase never
    empties a token, and offsets are taken from the original text)."""
    name = (name or "standard").lstrip(":").lower()
    pattern = _PATTERNS.get(name, _STANDARD)
    twin = _ASCII_TWINS.get(name if name in _PATTERNS else "standard")
    return _make_scanner(pattern, twin, lower)
