"""Lucene-style query-string annotator ("alpha" API surface).

Reference: src/beagle/lucene_alpha.clj — dictionary `text` is parsed as
a classic Lucene query string (booleans, phrases, regex, wildcards,
fuzzy); matching is boolean per document (QueryMatch.SIMPLE_MATCHER),
returning the query text + id + meta but NO offsets
(lucene_alpha.clj:18-28). Default type "QUERY" (lucene_alpha.clj:60).
Parse errors are logged and the entry dropped (lucene_alpha.clj:41-43).

Engine design: the annotator keeps only what is Lucene-specific, the
query language and the boolean layer; every leaf decision the phrase
matcher already makes is the phrase matcher's. A query string parses
to a small AST whose leaves are
  - `TermQ`, a key test on the document's token index;
  - `RegexpQ`, a full match over the distinct tokens (a wildcard is
    translated to its regexp once, at parse time);
  - `RangeQ`, a lexicographic test over the distinct tokens;
  - `matcher.core.CompiledQuery` for a phrase of two or more terms and
    for a fuzzy term, matched by `find_matches`, the phrase
    annotator's own rule (a one-term phrase is a `TermQ`).
`compile_lucene_dictionary` gives the distinct analysis configs and,
per stored query in dictionary order, `(config index, AST, match)`
with the match record resolved once. The matcher analyzes a document
once per config and returns a copy of `match` for each query whose AST
matches. The same AST compiles to a Spark SQL boolean Column over a
token-array column (`to_spark_predicate`) for queries without phrase
or fuzzy leaves: pure JVM, whole-stage-codegen'able, the Spark-first
fast path.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Optional

import regex as re

from .analysis import analyze
from .matcher.compile import _conf_for, _entries
from .matcher.core import CompiledQuery, build_token_index, find_matches
from .schema import DictionaryEntry, norm_keys

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class TermQ:
    term: str


@dataclass(frozen=True)
class RegexpQ:
    pattern: str


@dataclass(frozen=True)
class RangeQ:
    """Term range [a TO b] / {a TO b} (classic QueryParser
    TermRangeQuery): matches any analyzed token lexicographically
    within the bounds; '*' endpoint = open-ended."""
    lower: Optional[str]
    upper: Optional[str]
    incl_lower: bool = True
    incl_upper: bool = True


@dataclass(frozen=True)
class BoolQ:
    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()


# ---------------------------------------------------------------------------
# Tokenizer for the query language
# ---------------------------------------------------------------------------
_TOK = re.compile(
    r"""\s*(?:
        (?P<lparen>\()|(?P<rparen>\))|
        (?P<and>AND\b|&&)|(?P<or>OR\b|\|\|)|(?P<not>NOT\b|!)|
        (?P<plus>\+)|(?P<minus>-)|
        (?P<range>[\[\{][^\[\]{}]*?\sTO\s[^\[\]{}]*?[\]\}])|
        (?P<phrase>"(?:[^"\\]|\\.)*"(?:~(?P<pslop>\d+))?)|
        (?P<regex>/(?:[^/\\]|\\.)*/)|
        (?P<boost>\^\d+(?:\.\d+)?)|
        (?P<term>(?:\\.|[^\s()"/\\^\[\]{}])+)
    )""",
    re.VERBOSE,
)


def _unescape(s: str) -> str:
    """Remove QueryParser backslash escapes: '\\X' -> 'X'."""
    return re.sub(r"\\(.)", r"\1", s)


class ParseError(ValueError):
    pass


def _lex(s: str):
    out = []
    i = 0
    while i < len(s):
        m = _TOK.match(s, i)
        if not m or m.end() == i:
            if s[i:].strip():
                raise ParseError(f"cannot lex at {i}: {s[i:]!r}")
            break
        i = m.end()
        kind = m.lastgroup  # the outer group: "phrase" closes after "pslop"
        out.append((kind, m.group(kind), m.group("pslop")))
    return out


def _wildcard_to_regex(pattern: str) -> str:
    """The regexp of a wildcard term: `*` is `.*`, `?` is `.`, and every
    other character, escaped ones included, is literal."""
    parts = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):  # escaped char is literal
            parts.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            parts.append(re.escape(ch))
        i += 1
    return "".join(parts)


class _Parser:
    """Pratt-ish parser: OR < AND < NOT/unary; bare terms at the same
    level combine as SHOULD (classic QueryParser default OR)."""

    def __init__(self, toks, conf):
        self.toks = toks
        self.i = 0
        self.conf = conf

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def parse(self):
        node = self.parse_or()
        if self.i < len(self.toks):
            raise ParseError(f"trailing tokens: {self.toks[self.i:]}")
        return node

    def parse_or(self):
        parts = [self.parse_and()]
        while self.peek()[0] == "or":
            self.next()
            parts.append(self.parse_and())
        if len(parts) == 1:
            return parts[0]
        return BoolQ(should=tuple(parts))

    def parse_and(self):
        parts = [self.parse_clauses()]
        while self.peek()[0] == "and":
            self.next()
            parts.append(self.parse_clauses())
        if len(parts) == 1:
            return parts[0]
        return BoolQ(must=tuple(parts))

    def parse_clauses(self):
        """A run of +/-/bare atoms (implicit SHOULD combination)."""
        must, should, must_not = [], [], []
        while True:
            kind, _, _ = self.peek()
            if kind in (None, "rparen", "and", "or"):
                break
            if kind == "plus":
                self.next()
                must.append(self.parse_boosted_atom())
            elif kind in ("minus", "not"):
                self.next()
                must_not.append(self.parse_boosted_atom())
            else:
                should.append(self.parse_boosted_atom())
        if not (must or should or must_not):
            raise ParseError("empty clause")
        if len(should) == 1 and not must and not must_not:
            return should[0]
        return BoolQ(must=tuple(must), should=tuple(should), must_not=tuple(must_not))

    def parse_boosted_atom(self):
        """Atom plus any trailing boost tokens (`term^2`, `"a b"^3`,
        `(x y)^0.5`). Boosts are irrelevant to boolean matching (the
        reference's SIMPLE_MATCHER ignores scores), so they are parsed
        and dropped — NOT a parse error."""
        node = self.parse_atom()
        while self.peek()[0] == "boost":
            self.next()
        return node

    def parse_atom(self):
        kind, text, pslop = self.next()
        if (
            kind == "term"
            and self.peek()[0] in ("range", "lparen", "phrase", "regex")
            and re.fullmatch(r"(?:\\.|[^\\:])+:", text)
        ):
            # `field:` immediately before a range/group/phrase/regex binds
            # the field to that clause; single-field engine drops the
            # qualifier (same convention as field:term below) instead of
            # emitting a spurious TermQ("field").
            kind, text, pslop = self.next()
        if kind == "lparen":
            node = self.parse_or()
            if self.next()[0] != "rparen":
                raise ParseError("expected )")
            return node
        if kind == "phrase":
            body = text[1 : text.rindex('"')]
            terms = tuple(analyze(_unescape(body), self.conf).texts)
            if not terms:
                raise ParseError(f"phrase analyzes to no terms: {body!r}")
            if len(terms) == 1:
                return TermQ(term=terms[0])
            return CompiledQuery(query_id="", terms=terms, slop=int(pslop) if pslop else 0)
        if kind == "regex":
            return RegexpQ(pattern=text[1:-1])
        if kind == "range":
            m = re.fullmatch(
                r"([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])", text
            )
            if not m:
                raise ParseError(f"malformed range: {text!r}")
            lo_raw, hi_raw = _unescape(m.group(2)), _unescape(m.group(3))

            def endpoint(raw):
                if raw == "*":
                    return None
                analyzed = analyze(raw, self.conf).texts
                return analyzed[0] if analyzed else raw

            return RangeQ(
                lower=endpoint(lo_raw),
                upper=endpoint(hi_raw),
                incl_lower=m.group(1) == "[",
                incl_upper=m.group(4) == "]",
            )
        if kind == "term":
            # field:term -> ignore the field prefix (single-field
            # engine); the colon must not be escaped
            m = re.match(r"^(?:\\.|[^\\:])+:(?!$)", text)
            if m and not text.startswith(":"):
                text = text[m.end():]
            fuzzy = None
            m = re.fullmatch(r"(.+?)(?<!\\)~(\d*)", text)
            if m:
                text, n = m.group(1), m.group(2)
                fuzzy = int(n) if n else 2
            if re.search(r"(?<!\\)[*?]", text):
                return RegexpQ(pattern=_wildcard_to_regex(text))
            analyzed = analyze(_unescape(text), self.conf).texts
            term = analyzed[0] if analyzed else _unescape(text)
            if fuzzy is not None:
                return CompiledQuery(query_id="", terms=(term,), fuzzy=True, fuzziness=fuzzy)
            return TermQ(term=term)
        raise ParseError(f"unexpected token {kind}:{text}")


def parse_query(query_string: str, conf) -> BoolQ | TermQ | RegexpQ | RangeQ | CompiledQuery:
    toks = _lex(query_string)
    if not toks:
        raise ParseError("empty query")
    return _Parser(toks, conf).parse()


# ---------------------------------------------------------------------------
# Local evaluation over an analyzed token list
# ---------------------------------------------------------------------------
def _in_range(t: str, node: "RangeQ") -> bool:
    if node.lower is not None:
        if t < node.lower or (not node.incl_lower and t == node.lower):
            return False
    if node.upper is not None:
        if t > node.upper or (not node.incl_upper and t == node.upper):
            return False
    return True


def eval_query(node, tokens, index: dict) -> bool:
    """Boolean match of `node` against one document's analyzed `tokens`
    and their index (`matcher.core.build_token_index`: token -> sorted
    positions, the same per-document index the phrase matcher probes).
    Term-level nodes read its keys; a phrase or fuzzy leaf is the phrase
    matcher's own query and is matched by `find_matches`."""
    if isinstance(node, TermQ):
        return node.term in index
    if isinstance(node, CompiledQuery):
        return bool(find_matches(tokens, node, index))
    if isinstance(node, RegexpQ):
        rx = re.compile(node.pattern)
        return any(rx.fullmatch(t) for t in index)
    if isinstance(node, RangeQ):
        return any(_in_range(t, node) for t in index)
    if isinstance(node, BoolQ):
        for m in node.must_not:
            if eval_query(m, tokens, index):
                return False
        for m in node.must:
            if not eval_query(m, tokens, index):
                return False
        if node.should and not node.must:
            return any(eval_query(s, tokens, index) for s in node.should)
        return bool(node.must) or not node.should
    raise TypeError(f"unknown node {node!r}")


# ---------------------------------------------------------------------------
# Spark Column compilation (no phrase or fuzzy leaf): pure JVM predicate
# ---------------------------------------------------------------------------
def to_spark_predicate(node, tokens_col):
    """Compile an AST without `CompiledQuery` leaves (phrases, fuzzy
    terms) to a Column over an array<string> token column:
    array_contains / exists(rlike) / AND/OR/NOT. Stays inside
    whole-stage codegen — no Python in the hot path."""
    from pyspark.sql import functions as F

    if isinstance(node, TermQ):
        return F.array_contains(tokens_col, node.term)
    if isinstance(node, RegexpQ):
        return F.exists(tokens_col, lambda t: t.rlike(f"^(?:{node.pattern})$"))
    if isinstance(node, RangeQ):
        def in_range(t):
            cond = F.lit(True)
            if node.lower is not None:
                lo = F.lit(node.lower)
                cond = cond & ((t >= lo) if node.incl_lower else (t > lo))
            if node.upper is not None:
                hi = F.lit(node.upper)
                cond = cond & ((t <= hi) if node.incl_upper else (t < hi))
            return cond

        return F.exists(tokens_col, in_range)
    if isinstance(node, BoolQ):
        import functools

        cond = F.lit(True)
        if node.must:
            cond = functools.reduce(
                lambda a, b: a & b, (to_spark_predicate(m, tokens_col) for m in node.must)
            )
        if node.should and not node.must:
            cond = functools.reduce(
                lambda a, b: a | b, (to_spark_predicate(s, tokens_col) for s in node.should)
            )
        for m in node.must_not:
            cond = cond & ~to_spark_predicate(m, tokens_col)
        return cond
    raise ValueError(f"not SQL-expressible: {node!r}")


# ---------------------------------------------------------------------------
# Public API (parity with lucene_alpha/annotator)
# ---------------------------------------------------------------------------
def compile_lucene_dictionary(dictionary, opts: dict | None = None):
    """`(configs, queries)`: the distinct analysis configs in first-seen
    order, and per stored query in dictionary order `(config index,
    AST, match)`, where `match` is the `{text, type, dict_entry_id,
    meta}` record it emits, its type already resolved (the entry's,
    else the dictionary default). Entries are read by the phrase
    compiler's front end (`matcher.compile._entries`: ids, failure
    isolation) and analyzed under the same per-entry config; an entry
    whose query does not parse is logged and dropped
    (lucene_alpha.clj:41-43)."""
    opts = norm_keys(opts)
    type_name = opts.pop("type_name", None) or "QUERY"
    defaults = DictionaryEntry.from_dict(opts)
    conf_cache: dict = {}
    conf_index: dict = {}  # config -> its position in `configs`
    queries = []
    for query_id, entry in _entries(dictionary):
        try:
            conf = _conf_for(entry, defaults, conf_cache)
            ast = parse_query(entry.text or "", conf)
        except Exception as e:
            logger.error("Failed to parse query %r: %s", entry.text, e)
            continue
        match = {
            "text": entry.text,
            "type": entry.type if entry.type is not None else type_name,
            "dict_entry_id": query_id,
            "meta": entry.meta or {},
        }
        queries.append((conf_index.setdefault(conf, len(conf_index)), ast, match))
    return list(conf_index), queries


def _make_matcher(configs, queries):
    def annotate(text: str, _opts: dict | None = None) -> list[dict]:
        if text is None or not text.strip():
            return []
        docs = [(tokens, build_token_index(tokens))
                for tokens in (analyze(text, conf) for conf in configs)]
        return [dict(match) for i, ast, match in queries if eval_query(ast, *docs[i])]

    return annotate


def lucene_annotator(dictionary, opts: dict | None = None):
    """Local API parity (lucene_alpha.clj:57-66): fn(text) -> matches
    with {text: query-string, type, dict_entry_id, meta} — no offsets."""
    compiled = compile_lucene_dictionary(dictionary, opts)
    annotate = _make_matcher(*compiled)
    annotate.compiled = compiled  # type: ignore[attr-defined]
    return annotate


def lucene_annotate_df(df, dictionary, text_col: str = "text", opts: dict | None = None,
                       output_col: str = "query_matches"):
    """DataFrame operator: array<struct> of boolean query matches per row.
    Same broadcast + per-value `kernel.arrow_kernel` as the phrase
    annotator."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, MapType, StringType, StructField,
                                   StructType)

    from .kernel import arrow_kernel, per_value

    schema = ArrayType(
        StructType(
            [
                StructField("text", StringType()),
                StructField("type", StringType()),
                StructField("dict_entry_id", StringType()),
                StructField("meta", MapType(StringType(), StringType())),
            ]
        )
    )
    # broadcast the picklable (configs, queries) pair; rebuild the
    # evaluator per executor (closures over module functions don't pickle)
    bc = df.sparkSession.sparkContext.broadcast(compile_lucene_dictionary(dictionary, opts))
    udf = arrow_kernel(lambda: per_value(_make_matcher(*bc.value)), schema)
    return df.withColumn(output_col, udf(F.col(text_col)))
