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
`tokenizers.scan` of the batch, then each filter runs once per distinct
token of the batch (a token the filters empty is dropped), and no cache
outlives the batch. It returns a `Scan`: per token its row, ORIGINAL
char offsets and code into the filtered batch vocabulary. `analyze` is
its one-row case and returns one flat `Tokens(texts, begins, ends)`.
"""

from __future__ import annotations

import unicodedata
from dataclasses import asdict, dataclass

import numpy as np

from .stem import get_stemmer
from .tokenizers import Scan, TextBatch, Token, Tokens, lower, scan, tokenize_classic_typed

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


def _classic_filtered_tokenize(text: str) -> Tokens:
    """ClassicFilter over classic-typed tokens (Lucene ClassicFilter):
    APOSTROPHE tokens lose a trailing 's / 'S; ACRONYM tokens lose all
    dots. Offsets keep the ORIGINAL token span (the filter shrinks the
    term text only), so highlights cover e.g. the whole "John's"."""
    out = Tokens([], [], [])
    for t, typ in tokenize_classic_typed(text):
        s = t.text
        if typ == "APOSTROPHE" and len(s) >= 2 and s[-2] == "'" and s[-1] in "sS":
            s = s[:-2]
        elif typ == "ACRONYM":
            s = s.replace(".", "")
        out.texts.append(s)
        out.begins.append(t.begin)
        out.ends.append(t.end)
    return out


def analyze_batch(batch: TextBatch, conf: AnalysisConfig, rows=None, scans=None) -> Scan:
    """Tokenize + filter the ``rows`` of ``batch`` (a row mask; None:
    every valid row), preserving original char offsets. ``scans``, a
    dict the caller keeps for one batch, shares one scan among the
    configs that differ only in their fold and stem filters.

    ClassicFilter parity (text_analysis.clj:77-81): the reference wraps
    the chain in ClassicFilter only when stem? is false AND the chain is
    still the bare tokenizer (no LowerCaseFilter, no ASCIIFoldingFilter —
    i.e. case-sensitive and no fold). Lucene's ClassicFilter acts only on
    ACRONYM/APOSTROPHE token types, which only ClassicTokenizer emits —
    for the standard tokenizer it is a no-op (StandardTokenizer emits
    <ALPHANUM>/<NUM>), so "John's" stays one unstripped token under the
    DEFAULT config, and strips to "John" under tokenizer=classic. The
    LowerCaseFilter is fused into the scan."""
    if (
        conf.tokenizer == "classic"
        and not conf.stem
        and conf.case_sensitive
        and not conf.ascii_fold
    ):
        return scan(batch, "classic", rows=rows, row_fn=_classic_filtered_tokenize)
    key = (conf.tokenizer, conf.case_sensitive)
    out = scans.get(key) if scans is not None else None
    if out is None:
        out = scan(batch, conf.tokenizer, not conf.case_sensitive, rows)
        if scans is not None:
            scans[key] = out
    if not conf.ascii_fold and not conf.stem:
        return out
    vocab = out.vocab
    if conf.ascii_fold:
        vocab = [ascii_fold(t) for t in vocab]
    if conf.stem:
        vocab = list(map(get_stemmer(conf.stemmer), vocab))
    out = Scan(out.row, out.begin, out.end, out.code, vocab)
    emptied = [i for i, t in enumerate(vocab) if not t]
    return out.take(~np.isin(out.code, emptied)) if emptied else out


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
