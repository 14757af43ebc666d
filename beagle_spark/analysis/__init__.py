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

`analyze` returns one flat `Tokens(texts, begins, ends)`: the filtered
token strings and their ORIGINAL char offsets as parallel lists (a
filter rewrites `texts` and drops emptied tokens from all three).
"""

from __future__ import annotations

import unicodedata
from dataclasses import asdict, dataclass
from functools import lru_cache

from .stem import get_stemmer
from .tokenizers import Token, Tokens, get_tokenizer, lower, tokenize_classic_typed

__all__ = [
    "AnalysisConfig",
    "Token",
    "Tokens",
    "DEFAULT_CONF",
    "merge_config",
    "field_name",
    "analyze",
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


@lru_cache(maxsize=64)
def _chain(conf: AnalysisConfig):
    """Build the token-transform chain once per config (reference memoizes
    analyzers, text_analysis.clj:98-99).

    ClassicFilter parity (text_analysis.clj:77-81): the reference wraps
    the chain in ClassicFilter only when stem? is false AND the chain is
    still the bare tokenizer (no LowerCaseFilter, no ASCIIFoldingFilter —
    i.e. case-sensitive and no fold). Lucene's ClassicFilter acts only on
    ACRONYM/APOSTROPHE token types, which only ClassicTokenizer emits —
    for the standard tokenizer it is a no-op (StandardTokenizer emits
    <ALPHANUM>/<NUM>), so "John's" stays one unstripped token under the
    DEFAULT config, and strips to "John" under tokenizer=classic."""
    if (
        conf.tokenizer == "classic"
        and not conf.stem
        and conf.case_sensitive
        and not conf.ascii_fold
    ):
        return _classic_filtered_tokenize
    # the optional LowerCaseFilter is fused into the tokenizer (see
    # get_tokenizer); the common annotate configs need nothing more
    tokenize = get_tokenizer(conf.tokenizer, lower=not conf.case_sensitive)
    stem_fn = get_stemmer(conf.stemmer) if conf.stem else None
    fold = conf.ascii_fold
    if not fold and stem_fn is None:
        return tokenize

    def run(text: str) -> Tokens:
        toks = tokenize(text)
        out = Tokens([], [], [])
        for s, b, e in zip(toks.texts, toks.begins, toks.ends):
            if fold:
                s = ascii_fold(s)
            if stem_fn is not None:
                s = stem_fn(s)
            if s:
                out.texts.append(s)
                out.begins.append(b)
                out.ends.append(e)
        return out

    return run


def analyze(text: str, conf: AnalysisConfig) -> Tokens:
    """Tokenize + filter, preserving original char offsets."""
    return _chain(conf)(text)


def text_to_token_strings(text: str, conf: AnalysisConfig) -> list[str]:
    """Reference `text->token-strings` (text_analysis.clj:136-148)."""
    return analyze(text, conf).texts
