"""Lucene-style query-string annotator ("alpha" API surface).

Reference: src/beagle/lucene_alpha.clj — dictionary `text` is parsed as
a classic Lucene query string (booleans, phrases, regex, wildcards,
fuzzy); matching is boolean per document (QueryMatch.SIMPLE_MATCHER),
returning the query text + id + meta but NO offsets
(lucene_alpha.clj:18-28). Default type "QUERY" (lucene_alpha.clj:60).
Parse errors are logged and the entry dropped (lucene_alpha.clj:41-43).

Grammar: the classic QueryParser's, default operator OR, one field.
A query or group is one level of clauses whose occur `addClause` sets:
`-`/`NOT`/`!` gives must_not, `+` or an `AND` before the clause gives
must, anything else should; `AND` also makes the clause before it must
unless it is must_not, and `OR` changes nothing. A term or phrase that
analyzes to no tokens is dropped, and a level with no must and no
should clause (a pure negative) matches nothing, as a Lucene
BooleanQuery does. A bare term of several tokens is their disjunction
(`foo-bar` is `foo OR bar`); a multi-term query's term (fuzzy term,
range endpoint, wildcard, regexp) is normalized as Lucene's
`Analyzer.normalize` does (`analysis.normalize`: lowercased unless
case-sensitive and folded when folding, never split or stemmed); a
`field:` prefix is read and dropped; boosts are dropped.

Engine design: the annotator keeps only what is Lucene-specific, the
query language and the boolean layer; every leaf is matched by the
phrase annotator's own program. A query string parses to a small AST
whose leaves are
  - `TermQ`, one analyzed term;
  - `RegexpQ`, a full match of a token (a wildcard is translated to
    its regexp once, at parse time);
  - `RangeQ`, a lexicographic bound test of a token;
  - `matcher.core.CompiledQuery` for a phrase of two or more terms and
    for a fuzzy term (a one-term phrase is a `TermQ`).
`compile_lucene_dictionary` compiles a dictionary to `CompiledQueries`:
a phrase-compiler `CompiledDictionary` of leaves, with each distinct
leaf stored once per analysis config (a `TermQ` is a one-term exact
phrase, a phrase or fuzzy term goes in as parsed, and a regexp or range
is a token test, `FieldProgram.tests`), and per stored query its tree,
the AST with each leaf replaced by the leaf's emission id, and its
match record. A batch of documents costs one `matcher.compile._hits`
call (each config analyzes the batch once and each leaf is matched
once, however many queries hold it), then a few int operations per
tree node: each leaf's rows are the bits of one int. The same AST
compiles to a Spark SQL boolean Column over a token-array column
(`to_spark_predicate`) for queries without phrase or fuzzy leaves:
pure JVM, whole-stage-codegen'able, the Spark-first fast path.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field, replace
from typing import Optional

import numpy as np
import pyarrow as pa
import regex as re

from .analysis import TextBatch, analyze, normalize
from .matcher.compile import (CompiledDictionary, FieldProgram, _conf_for, _emission_columns,
                              _entries, _hits, _int_array, _list_column, _string_array)
from .matcher.core import CompiledQuery
from .schema import QUERY_MATCHES_ARROW_TYPE, QUERY_MATCHES_TYPE, DictionaryEntry, norm_keys

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class TermQ:
    term: str


@dataclass(frozen=True)
class RegexpQ:
    """A full match over the distinct tokens. `rx` is compiled once, at
    parse time, and travels with the query when it is pickled."""
    pattern: str
    rx: object = field(init=False, repr=False, compare=False)

    def __post_init__(self):
        object.__setattr__(self, "rx", re.compile(self.pattern))

    def __call__(self, token: str) -> bool:
        return self.rx.fullmatch(token) is not None


@dataclass(frozen=True)
class RangeQ:
    """Term range [a TO b] / {a TO b} (classic QueryParser
    TermRangeQuery): matches any analyzed token lexicographically
    within the bounds; '*' endpoint = open-ended."""
    lower: Optional[str]
    upper: Optional[str]
    incl_lower: bool = True
    incl_upper: bool = True

    def __call__(self, token: str) -> bool:
        lo, hi = self.lower, self.upper
        return ((lo is None or token > lo or self.incl_lower and token == lo)
                and (hi is None or token < hi or self.incl_upper and token == hi))


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
        (?P<rparen>\))|
        (?P<and>AND\b|&&)|(?P<or>OR\b|\|\|)|(?P<not>NOT\b|!)|
        (?P<plus>\+)|(?P<minus>-)|
        (?P<boost>\^\d+(?:\.\d+)?)|
        (?:(?:\\.|[^\s()"/\\^\[\]{}:])+:\s*)?  # `field:`, dropped: one field
        (?:(?P<lparen>\()|
           (?P<range>[\[\{][^\[\]{}]*?\sTO\s[^\[\]{}]*?[\]\}])|
           (?P<phrase>"(?:[^"\\]|\\.)*"(?:~(?P<pslop>\d+))?)|
           (?P<regex>/(?:[^/\\]|\\.)*/)|
           (?P<term>(?:\\.|[^\s()"/\\^\[\]{}])+))
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


def _wildcard_to_regex(pattern: str, conf) -> str:
    """The regexp of a wildcard term: `*` is `.*`, `?` is `.`, and every
    other character, escaped ones included, is literal. Each run of
    unescaped literal characters is normalized (`analysis.normalize`);
    escaped characters and the wildcards are not (Lucene's
    `QueryParserBase.analyzeWildcard`)."""
    parts = []
    run = ""
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern) or ch in "*?":
            parts.append(re.escape(normalize(run, conf)))
            run = ""
        if ch == "\\" and i + 1 < len(pattern):  # escaped char is literal
            parts.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "*":
            parts.append(".*")
        elif ch == "?":
            parts.append(".")
        else:
            run += ch
        i += 1
    parts.append(re.escape(normalize(run, conf)))
    return "".join(parts)


class _Parser:
    """Classic QueryParser over the lexed tokens: a query is one level of
    clauses (`parse_query`), a group opens a nested level."""

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
        node = self.parse_query()
        if self.i < len(self.toks):
            raise ParseError(f"trailing tokens: {self.toks[self.i:]}")
        if node is None:
            raise ParseError("no clause left after analysis")
        return node

    def parse_query(self):
        """One level: `Query()` with `addClause` at default operator OR
        (the clause rule is in the module docstring). A dropped clause
        (None) is skipped; a level with none left is None."""
        clauses = []  # [occur, node] in clause order
        conj = None
        while True:
            mod = self.next()[0] if self.peek()[0] in ("plus", "minus", "not") else None
            node = self.parse_clause()
            if conj == "and" and clauses and clauses[-1][0] != "must_not":
                clauses[-1][0] = "must"
            if node is not None:
                occur = ("must_not" if mod in ("minus", "not")
                         else "must" if mod or conj == "and" else "should")
                clauses.append([occur, node])
            conj = self.peek()[0]
            if conj in (None, "rparen"):
                break
            if conj in ("and", "or"):
                self.next()
        if not clauses:
            return None
        if len(clauses) == 1 and clauses[0][0] != "must_not":
            return clauses[0][1]
        return BoolQ(**{occur: tuple(n for o, n in clauses if o == occur)
                        for occur in ("must", "should", "must_not")})

    def parse_clause(self):
        """One atom and any trailing boosts (`term^2`, `"a b"^3`,
        `(x y)^0.5`), which are dropped: boolean matching ignores scores
        (the reference's SIMPLE_MATCHER)."""
        node = self.parse_atom()
        while self.peek()[0] == "boost":
            self.next()
        return node

    def parse_atom(self):
        """One atom, or None when it analyzes to no tokens (Lucene's
        null query, which `addClause` skips)."""
        kind, text, pslop = self.next()
        if kind == "lparen":
            node = self.parse_query()
            if self.next()[0] != "rparen":
                raise ParseError("expected )")
            return node
        if kind == "phrase":
            terms = tuple(analyze(_unescape(text[1 : text.rindex('"')]), self.conf).texts)
            if len(terms) > 1:
                return CompiledQuery(query_id="", terms=terms, slop=int(pslop) if pslop else 0)
            return TermQ(term=terms[0]) if terms else None
        if kind == "regex":
            return RegexpQ(pattern=normalize(text[1:-1], self.conf))
        if kind == "range":
            m = re.fullmatch(
                r"([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])", text
            )
            if not m:
                raise ParseError(f"malformed range: {text!r}")
            lo_raw, hi_raw = _unescape(m.group(2)), _unescape(m.group(3))
            return RangeQ(
                lower=None if lo_raw == "*" else normalize(lo_raw, self.conf),
                upper=None if hi_raw == "*" else normalize(hi_raw, self.conf),
                incl_lower=m.group(1) == "[",
                incl_upper=m.group(4) == "]",
            )
        if kind == "term":
            fuzzy = None
            m = re.fullmatch(r"(.+?)(?<!\\)~(\d*)", text)
            if m:
                text, n = m.group(1), m.group(2)
                fuzzy = int(n) if n else 2
            if re.search(r"(?<!\\)[*?]", text):
                return RegexpQ(pattern=_wildcard_to_regex(text, self.conf))
            if fuzzy is not None:
                term = normalize(_unescape(text), self.conf)
                return CompiledQuery(query_id="", terms=(term,), fuzzy=True, fuzziness=fuzzy)
            # createFieldQuery at default OR: several tokens are a disjunction
            terms = tuple(TermQ(term=t) for t in analyze(_unescape(text), self.conf).texts)
            return BoolQ(should=terms) if len(terms) > 1 else terms[0] if terms else None
        raise ParseError(f"unexpected token {kind}:{text}")


def parse_query(query_string: str, conf) -> BoolQ | TermQ | RegexpQ | RangeQ | CompiledQuery:
    toks = _lex(query_string)
    if not toks:
        raise ParseError("empty query")
    return _Parser(toks, conf).parse()


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

        cond = F.lit(False)
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
# The stored-query back end: trees over the leaves of a phrase program
# ---------------------------------------------------------------------------
def _map_leaves(node, fn):
    """``node`` with each leaf replaced by ``fn(leaf)``."""
    if isinstance(node, BoolQ):
        return BoolQ(*(tuple(_map_leaves(c, fn) for c in clauses)
                       for clauses in (node.must, node.should, node.must_not)))
    return fn(node)


def _eval(tree, bits: list) -> int:
    """The rows that ``tree`` matches, as the bits of an int, where
    ``bits[leaf]`` holds the rows of each leaf: a level's must_not
    clauses exclude, its must clauses are all required, its should
    clauses count only when it has no must clause, and a level with
    neither (a pure negative) matches nothing."""
    if not isinstance(tree, BoolQ):
        return bits[tree]
    out = -1 if tree.must else 0  # -1 has every bit set
    for m in tree.must:
        out &= _eval(m, bits)
    for m in () if tree.must else tree.should:
        out |= _eval(m, bits)
    for m in tree.must_not if out else ():
        out &= ~_eval(m, bits)
    return out


@dataclass
class CompiledQueries:
    """A compiled query-string dictionary (see the module docstring):
    ``leaves``, per stored query in dictionary order its tree in
    ``trees`` and its ``{text, type, dict_entry_id, meta}`` record in
    ``matches``, and the records as the Arrow `text`, `type`,
    `dict_entry_id` and `meta` columns that the batch function takes
    rows from."""

    leaves: CompiledDictionary
    trees: list
    matches: list
    columns: tuple = field(init=False, repr=False, compare=False)

    def __post_init__(self):
        self.columns = (_string_array([m["text"] for m in self.matches]), *_emission_columns(
            [(m["dict_entry_id"], m["type"], m["meta"]) for m in self.matches]))


def _query_hits(batch: TextBatch, cq: CompiledQueries) -> tuple:
    """(row, query index) arrays of every stored query that matches a
    row of ``batch``, by row, then in dictionary order: one `_hits` call
    gives every leaf's hits, the rows x leaves hit mask packs each
    leaf's rows into the bits of an int, and each tree is evaluated
    once over those ints."""
    row, eid, _, _ = _hits(batch, cq.leaves, False)
    mask = np.zeros((len(cq.leaves.emissions), batch.n), dtype=bool)
    mask[eid, row] = True
    bits = [int.from_bytes(b, "little") for b in np.packbits(mask, axis=1, bitorder="little")]
    size = (batch.n + 7) // 8
    found = b"".join(_eval(t, bits).to_bytes(size, "little") for t in cq.trees)
    matched = np.unpackbits(np.frombuffer(found, np.uint8).reshape(len(cq.trees), size),
                            axis=1, count=batch.n, bitorder="little")
    return np.nonzero(matched.T)


def match_queries(texts, cq: CompiledQueries) -> pa.Array:
    """The query-string annotator's batch function: the `array<struct>`
    query-match column of an Arrow batch of texts, one row per text
    (null and blank text give `[]`), of exactly
    ``QUERY_MATCHES_ARROW_TYPE``, taken by query index from
    ``cq.columns``."""
    batch = TextBatch.from_arrow(texts)
    row, query = _query_hits(batch, cq)
    take = _int_array(query)
    return _list_column([c.take(take) for c in cq.columns], row, batch.n,
                        QUERY_MATCHES_ARROW_TYPE)


# ---------------------------------------------------------------------------
# Public API (parity with lucene_alpha/annotator)
# ---------------------------------------------------------------------------
def compile_lucene_dictionary(dictionary, opts: dict | None = None) -> CompiledQueries:
    """The `CompiledQueries` of ``dictionary``: its leaves per config,
    and per stored query in dictionary order its tree and its `{text,
    type, dict_entry_id, meta}` match record, the type already resolved
    (the entry's, else the dictionary default). Entries are read by the
    phrase compiler's front end (`matcher.compile._entries`: ids,
    failure isolation) and analyzed under the same per-entry config; an
    entry whose query does not parse is logged and dropped
    (lucene_alpha.clj:41-43)."""
    opts = norm_keys(opts)
    type_name = opts.pop("type_name", None) or "QUERY"
    defaults = DictionaryEntry.from_dict(opts)
    conf_cache: dict = {}
    programs: dict = {}  # config -> its FieldProgram of leaves
    leaf_ids: dict = {}  # (config, leaf) -> leaf number

    def leaf_id(conf, leaf) -> int:
        if isinstance(leaf, TermQ):
            leaf = CompiledQuery(query_id="", terms=(leaf.term,))
        if (conf, leaf) not in leaf_ids:
            n = leaf_ids[conf, leaf] = len(leaf_ids)
            prog = programs.get(conf) or programs.setdefault(conf, FieldProgram(conf=conf))
            if isinstance(leaf, CompiledQuery):
                prog.queries.append(replace(leaf, query_id=str(n)))
            else:
                prog.tests.append((leaf, (str(n), None, {})))
        return leaf_ids[conf, leaf]

    trees, matches = [], []
    for query_id, entry in _entries(dictionary):
        try:
            conf = _conf_for(entry, defaults, conf_cache)
            ast = parse_query(entry.text or "", conf)
        except Exception as e:
            logger.error("Failed to parse query %r: %s", entry.text, e)
            continue
        trees.append(_map_leaves(ast, lambda leaf: leaf_id(conf, leaf)))
        matches.append({"text": entry.text, "type": type_name if entry.type is None else entry.type,
                        "dict_entry_id": query_id, "meta": entry.meta or {}})
    for prog in programs.values():
        prog.finalize()
    leaves = CompiledDictionary(list(programs.values()))
    # a leaf's emission carries its leaf number as its entry id
    eids = {int(e[0]): i for i, e in enumerate(leaves.emissions)}
    return CompiledQueries(leaves, [_map_leaves(t, eids.__getitem__) for t in trees], matches)


def lucene_annotator(dictionary, opts: dict | None = None):
    """Local API parity (lucene_alpha.clj:57-66): fn(text) -> matches
    with {text: query-string, type, dict_entry_id, meta} — no offsets;
    the one-row case of `match_queries`."""
    cq = compile_lucene_dictionary(dictionary, opts)

    def annotate(text: str, _opts: dict | None = None) -> list[dict]:
        if text is None or not text.strip():
            return []
        _, query = _query_hits(TextBatch.from_strings([text]), cq)
        return [dict(cq.matches[q]) for q in query.tolist()]

    annotate.compiled = cq  # type: ignore[attr-defined]
    return annotate


def lucene_annotate_df(df, dictionary, text_col: str = "text", opts: dict | None = None,
                       output_col: str = "query_matches"):
    """DataFrame operator: array<struct> of boolean query matches per row.
    Same broadcast + `kernel.arrow_kernel` as the phrase annotator; the
    batch function is `match_queries`."""
    from pyspark.sql import functions as F

    from .kernel import arrow_kernel

    bc = df.sparkSession.sparkContext.broadcast(compile_lucene_dictionary(dictionary, opts))
    udf = arrow_kernel(lambda: lambda texts: match_queries(texts, bc.value), QUERY_MATCHES_TYPE)
    return df.withColumn(output_col, udf(F.col(text_col)))
