"""The query-string annotator's back end (`compile_lucene_dictionary` ->
`CompiledQueries` -> `match_queries` / `lucene_annotator`) against the
per-query evaluator it replaced, kept here as the oracle: random query
strings over random multi-config dictionaries and one Arrow batch of
documents with null, blank and non-ASCII rows."""

import logging

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from beagle_spark.analysis import TextBatch, analyze_batch
from beagle_spark.lucene_query import (
    BoolQ,
    RangeQ,
    RegexpQ,
    TermQ,
    compile_lucene_dictionary,
    lucene_annotator,
    match_queries,
    parse_query,
)
from beagle_spark.matcher import compile as compile_mod
from beagle_spark.matcher.compile import _conf_for, _entries
from beagle_spark.matcher.core import CompiledQuery, build_token_index, find_matches
from beagle_spark.schema import QUERY_MATCHES_ARROW_TYPE, DictionaryEntry, norm_keys

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# Oracle: the per-row, per-query evaluator the stored-query back end
# replaced (its compile step, `eval_query` and `_matches`), unchanged.
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
        return any(node.rx.fullmatch(t) for t in index)
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
        return bool(node.must)
    raise TypeError(f"unknown node {node!r}")


def _oracle_compile(dictionary, opts: dict | None = None):
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


def _matches(batch: TextBatch, configs, queries) -> list[list[dict]]:
    """Per row of ``batch``, a copy of `match` for each query whose AST
    matches; each config analyzes the batch once (`analyze_batch`), and
    null and blank rows match nothing."""
    live = ~batch.blank
    docs = [analyze_batch(batch, conf, live).per_row(batch.n) for conf in configs]
    out = []
    for r in range(batch.n):
        views = [(d[r], build_token_index(d[r])) for d in docs] if live[r] else None
        out.append([dict(match) for i, ast, match in queries if eval_query(ast, *views[i])]
                   if views is not None else [])
    return out


# ---------------------------------------------------------------------------
# Random queries, dictionaries and documents
# ---------------------------------------------------------------------------
WORDS = ["run", "running", "Runs", "table", "Tables", "scan", "café", "Café", "naïve",
         "straße", "a", "ab", "ba", "x", "Join", "joined"]
words = st.sampled_from(WORDS)

phrase = st.builds(
    lambda ws, slop: '"' + " ".join(ws) + '"' + (f"~{slop}" if slop is not None else ""),
    st.lists(words, min_size=2, max_size=4), st.one_of(st.none(), st.integers(0, 3)))
fuzzy = st.builds(lambda w, k: f"{w}~{k}", words, st.sampled_from(["0", "1", "2", ""]))
wildcard = st.builds(lambda w, n, tail: w[:n] + tail, words, st.integers(1, 3),
                     st.sampled_from(["*", "?", "?*", "*n"]))
# `/a*/` and `/x*/` also match the empty string
regexp = st.sampled_from(
    ["/ru.*/", "/a*/", "/x*/", "/[a-c]+/", "/.*e/", "/caf./", "/(ta|jo).*/"])
range_ = st.builds(lambda lo, hi, left, right: f"{left}{lo} TO {hi}{right}",
                   st.sampled_from(["*", "a", "b", "m", "ru"]),
                   st.sampled_from(["*", "c", "n", "s", "z"]),
                   st.sampled_from("[{"), st.sampled_from("]}"))
atom = st.one_of(words, phrase, fuzzy, wildcard, regexp, range_)
leaf = st.one_of(atom, atom.map(lambda q: "title:" + q), atom.map(lambda q: q + "^2"))


def _level(clauses):
    out = []
    for i, (conj, mod, paren, q) in enumerate(clauses):
        if paren or " " in q or q[0] in "+-!(":
            q = f"({q})"
        out += ([conj] if i and conj else []) + [mod + q]
    return " ".join(out)


queries = st.recursive(leaf, lambda sub: st.lists(
    st.tuples(st.sampled_from(["", "", "AND", "OR", "&&"]),
              st.sampled_from(["", "", "+", "-", "NOT "]), st.booleans(), sub),
    min_size=1, max_size=4).map(_level), max_leaves=10)

CONFS = [{}, {"case-sensitive?": False}, {"case-sensitive?": False, "ascii-fold?": True},
         {"case-sensitive?": False, "stem?": True}, {"ascii-fold?": True},
         {"case-sensitive?": False, "ascii-fold?": True, "stem?": True}]
entry = st.builds(lambda q, conf, meta, typ: {"text": q, **conf, **meta, **typ}, queries,
                  st.sampled_from(CONFS), st.sampled_from([{}, {"meta": {"k": "v"}}]),
                  st.sampled_from([{}, {"type": "T"}]))
dictionaries = st.lists(entry, min_size=1, max_size=8)

doc = st.one_of(
    st.sampled_from([None, "", "   ", "!!! ?", "ñ"]),
    st.lists(st.tuples(st.sampled_from(WORDS + ["ta", "jo", "bus"]),
                       st.sampled_from([" ", ", ", "-", " — "])),
             min_size=1, max_size=12).map(lambda ws: "".join(w + sep for w, sep in ws)))
# every batch also holds a null, an empty, a blank and a non-ASCII row
batches = st.lists(doc, min_size=1, max_size=8).map(lambda ds: ds + [None, "", "  ", "naïve Café"])


def _arrow_rows(rows):
    """Oracle rows as `to_pylist` gives them: a map is a list of pairs."""
    return [[{**m, "meta": list(m["meta"].items())} for m in row] for row in rows]


@settings(max_examples=200, deadline=None, database=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(dictionaries, batches)
def test_back_end_matches_per_query_oracle(dictionary, docs):
    expected = _matches(TextBatch.from_strings(docs), *_oracle_compile(dictionary))
    ann = lucene_annotator(dictionary)
    assert [ann(t) for t in docs] == expected
    col = match_queries(pa.array(docs, pa.string()), compile_lucene_dictionary(dictionary))
    assert col.type == QUERY_MATCHES_ARROW_TYPE
    assert col.to_pylist() == _arrow_rows(expected)


def test_shared_leaf_matched_once_per_candidate_row(monkeypatch):
    """50 stored queries hold the same sloppy phrase leaf, each with its
    own extra term: the leaf is stored once, so a batch matches it once
    per row that holds both of its terms, not once per query."""
    dictionary = [{"text": f'"big scan"~2 AND extra{i}', "id": str(i)} for i in range(50)]
    docs = ["big table scan extra3", "scan big extra7 extra9", "big only extra1",
            "nothing here", "big x y scan", None, "  "]
    cq = compile_lucene_dictionary(dictionary)
    calls = []
    real = compile_mod.find_matches

    def counted(tokens, q, index=None):
        calls.append(q.terms)
        return real(tokens, q, index)

    monkeypatch.setattr(compile_mod, "find_matches", counted)
    out = match_queries(pa.array(docs, pa.string()), cq).to_pylist()
    assert calls == [("big", "scan")] * 3  # rows 0, 1 and 4
    ids = [[m["dict_entry_id"] for m in row] for row in out]
    assert ids == [["3"], ["7", "9"], [], [], [], [], []]
