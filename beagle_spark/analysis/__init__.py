"""Text-analysis chain: tokenize -> lowercase -> ascii-fold -> stem.

Mirrors the reference's analyzer construction and config cascade
(reference: src/beagle/text_analysis.clj). Key semantics carried over:

- Library defaults: standard tokenizer, CASE-SENSITIVE, no fold, no stem,
  english stemmer (text_analysis.clj:101-106).
- Three-way merge per key: entry config > highlighter defaults > library
  defaults (text_analysis.clj:110-126).
- Canonical field name per distinct config (text_analysis.clj:84-96) —
  used as the derived token-column identity so each document is analyzed
  once per distinct config, not once per query (monitor.clj:48-59).
- Filter order: tokenize -> lowercase -> fold -> stem
  (text_analysis.clj:73-80); lowercase is :func:`lower`, per code
  point as Lucene's LowerCaseFilter.

`analyze_batch` analyzes a whole `TextBatch` under one config: one
`tokenizers.scan` of the batch per tokenizer, shared by every config of
that tokenizer, then each filter maps the batch vocabulary
(`Scan.map`): it runs once per distinct token, and a token it empties
is dropped. No cache outlives the batch. It returns a `Scan`: per token
its row, ORIGINAL char offsets and code into the filtered batch
vocabulary. `analyze` is its one-row case and returns one flat
`Tokens(texts, begins, ends)`.
"""

from __future__ import annotations

import unicodedata
from dataclasses import asdict, dataclass

from .stem import get_stemmer
from .tokenizers import _CLASSIC_TYPED, Scan, TextBatch, Token, Tokens, _resolve, lower, scan

__all__ = [
    "AnalysisConfig",
    "Token",
    "Tokens",
    "DEFAULT_CONF",
    "merge_config",
    "field_name",
    "analyze",
    "analyze_batch",
    "normalize",
    "Scan",
    "TextBatch",
    "text_to_token_strings",
    "ascii_fold",
    "lower",
]


@dataclass(frozen=True)
class AnalysisConfig:
    tokenizer: str = "standard"
    case_sensitive: bool = True
    ascii_fold: bool = False
    stem: bool = False
    stemmer: str = "english"


# the library defaults, keyed by option name
DEFAULT_CONF = asdict(AnalysisConfig())


def merge_config(entry: dict, defaults: dict | None = None) -> AnalysisConfig:
    """Three-way merge per key (reference: text_analysis.clj:110-126):
    entry value if set, else highlighter default, else library default;
    keyword values lose their leading colon."""
    defaults = defaults or {}
    kw = {}
    for k, lib in DEFAULT_CONF.items():
        v = next(v for v in (entry.get(k), defaults.get(k), lib) if v is not None)
        kw[k] = str(v).lstrip(":") if isinstance(lib, str) else bool(v)
    return AnalysisConfig(**kw)


def field_name(conf: AnalysisConfig) -> str:
    """Canonical analysis identity (reference: text_analysis.clj:84-96):
    `text.<tokenizer>-tokenizer[.<filters...>]` with filters in the fixed
    order the reference emits (folded, lowercased, stemmed-<lang>)."""
    parts = [f"text.{conf.tokenizer}-tokenizer"]
    filters = []
    if conf.ascii_fold:
        filters.append("ascii-folded")
    if not conf.case_sensitive:
        filters.append("lowercased")
    if conf.stem:
        filters.append(f"stemmed-{conf.stemmer}")
    if filters:
        parts.append("-".join(filters))
    return ".".join(parts)


def ascii_fold(s: str) -> str:
    """ASCIIFoldingFilter approximation: NFKD-decompose and drop combining
    marks; non-decomposable non-ASCII chars pass through."""
    if s.isascii():
        return s
    out = []
    for ch in unicodedata.normalize("NFKD", s):
        if unicodedata.combining(ch):
            continue
        out.append(ch)
    return "".join(out)


def _classic_filter(token: str) -> str:
    """Lucene's ClassicFilter on one classic token: an APOSTROPHE token
    loses a trailing 's / 'S, an ACRONYM token all its dots (the span
    stays the whole token, e.g. "John's"). The token's type is the
    alternative of the typed grammar that matches its whole text: the
    alternation is leftmost-first, so an earlier alternative that could
    match the whole text would have cut the token; the one lookahead,
    ACRONYM's, is moot, since only an ACRONYM ends in '.'."""
    typ = _CLASSIC_TYPED.fullmatch(token).lastgroup
    if typ == "APOSTROPHE" and token[-2:] in ("'s", "'S"):
        return token[:-2]
    return token.replace(".", "") if typ == "ACRONYM" else token


def analyze_batch(batch: TextBatch, conf: AnalysisConfig, rows=None, scans=None) -> Scan:
    """Tokenize + filter the ``rows`` of ``batch`` (a row mask; None:
    every valid row), preserving original char offsets. ``scans``, a
    dict the caller keeps for one batch and one row mask, holds one scan
    per tokenizer and each filter chain's prefixes over it, so configs
    share their tokenizer's scan and the filters they start with (every
    case-insensitive config of a tokenizer lowers once).

    The filters map the scan's vocabulary in the reference's order
    (text_analysis.clj:73-81): lowercase, then ClassicFilter, ascii-fold
    and stem. Lowercasing follows the scan, as in Lucene: lowering the
    text first would split it differently outside ASCII ('Ⓜ' is a
    pictograph the standard split keeps, 'ⓜ' is not; the strict split
    drops the Kelvin sign and 'İ' but keeps their lowercase forms).

    ClassicFilter parity: the reference wraps the chain in ClassicFilter
    only when stem? is false AND the chain is still the bare tokenizer
    (no LowerCaseFilter, no ASCIIFoldingFilter — i.e. case-sensitive and
    no fold). Lucene's ClassicFilter acts only on ACRONYM/APOSTROPHE
    token types, which only ClassicTokenizer emits — for the standard
    tokenizer it is a no-op (StandardTokenizer emits <ALPHANUM>/<NUM>),
    so "John's" stays one unstripped token under the DEFAULT config, and
    strips to "John" under tokenizer=classic."""
    chain = []
    if not conf.case_sensitive:
        chain.append(lower)
    elif conf.tokenizer == "classic" and not conf.ascii_fold and not conf.stem:
        chain.append(_classic_filter)
    if conf.ascii_fold:
        chain.append(ascii_fold)
    if conf.stem:
        chain.append(get_stemmer(conf.stemmer))
    scans = {} if scans is None else scans
    key = (_resolve(conf.tokenizer),)
    if key not in scans:
        scans[key] = scan(batch, key[0], rows)
    out = scans[key]
    for f in chain:
        key += (f,)
        if key not in scans:
            scans[key] = out.map(f)
        out = scans[key]
    return out


def analyze(text: str, conf: AnalysisConfig) -> Tokens:
    """Tokenize + filter one text: the one-row case of `analyze_batch`."""
    return analyze_batch(TextBatch.from_strings([text]), conf).tokens()


def normalize(term: str, conf: AnalysisConfig) -> str:
    """A multi-term query's term as Lucene's `Analyzer.normalize` gives
    it: lowercased (per code point, `lower`) unless case-sensitive and
    ascii-folded when folding; never split, never stemmed."""
    if not conf.case_sensitive:
        term = lower(term)
    return ascii_fold(term) if conf.ascii_fold else term


def text_to_token_strings(text: str, conf: AnalysisConfig) -> list[str]:
    """Reference `text->token-strings` (text_analysis.clj:136-148)."""
    return analyze(text, conf).texts
