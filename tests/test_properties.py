"""Property-based tests (SURVEY.md section 5 item 3): invariants that
must hold for arbitrary dictionaries/documents."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from beagle_spark import highlighter
from beagle_spark.lucene_query import lucene_annotator
from beagle_spark.matcher import merge_same_type_annotations

WORD = st.text(alphabet="abcdefgXYZ0123456789", min_size=1, max_size=8)
PHRASE = st.lists(WORD, min_size=1, max_size=4).map(" ".join)
TEXT = st.lists(WORD, min_size=0, max_size=30).map(" ".join)


@st.composite
def dictionaries(draw):
    n = draw(st.integers(1, 6))
    out = []
    for i in range(n):
        entry = {"text": draw(PHRASE), "id": f"e{i}"}
        if draw(st.booleans()):
            entry["case-sensitive?"] = draw(st.booleans())
        if draw(st.booleans()):
            entry["slop"] = draw(st.integers(0, 4))
        if draw(st.booleans()):
            entry["synonyms"] = [draw(PHRASE)]
        out.append(entry)
    return out


@settings(max_examples=120, deadline=None)
@given(dictionaries(), TEXT)
def test_annotation_schema_and_span_invariants(dictionary, text):
    anns = highlighter(dictionary)(text)
    for a in anns:
        # schema conformance
        assert isinstance(a["text"], str) and a["text"]
        assert isinstance(a["begin_offset"], int)
        assert isinstance(a["end_offset"], int)
        assert 0 <= a["begin_offset"] < a["end_offset"] <= len(text)
        # surface text is exactly the span (schema.clj:36-37)
        assert a["text"] == text[a["begin_offset"] : a["end_offset"]]
        assert a["dict_entry_id"] in {e["id"] for e in dictionary}


@settings(max_examples=60, deadline=None)
@given(dictionaries(), TEXT)
def test_case_insensitive_superset(dictionary, text):
    """Case-insensitive matching finds at least the case-sensitive spans."""
    cs = [dict(e, **{"case-sensitive?": True}) for e in dictionary]
    ci = [dict(e, **{"case-sensitive?": False}) for e in dictionary]
    spans_cs = {
        (a["begin_offset"], a["end_offset"], a["dict_entry_id"])
        for a in highlighter(cs)(text)
    }
    spans_ci = {
        (a["begin_offset"], a["end_offset"], a["dict_entry_id"])
        for a in highlighter(ci)(text)
    }
    assert spans_cs <= spans_ci


@settings(max_examples=60, deadline=None)
@given(dictionaries(), TEXT)
def test_slop_monotonicity(dictionary, text):
    """Increasing slop never loses a match (match count per entry is
    monotone in slop for unordered phrases)."""
    lo = [dict(e, slop=0) for e in dictionary]
    hi = [dict(e, slop=5) for e in dictionary]
    n_lo = len(highlighter(lo)(text))
    n_hi = len(highlighter(hi)(text))
    assert n_lo <= n_hi


@settings(max_examples=60, deadline=None)
@given(dictionaries(), TEXT)
def test_merge_output_subset(dictionary, text):
    hl = highlighter(dictionary)
    plain = hl(text)
    merged = hl(text, {"merge-annotations?": True})
    plain_spans = {(a["begin_offset"], a["end_offset"], a["type"]) for a in plain}
    assert len(merged) <= len(plain)
    for m in merged:
        assert (m["begin_offset"], m["end_offset"], m["type"]) in plain_spans


@settings(max_examples=40, deadline=None)
@given(TEXT)
def test_blank_or_any_text_never_raises(text):
    hl = highlighter([{"text": "a b", "slop": 2}, {"text": "x", "fuzzy?": True}])
    assert isinstance(hl(text), list)


# near neighbours of each other, so fuzzy and sloppy leaves both hit and miss
LEAF_WORD = st.sampled_from(["ab", "abc", "ba", "bca", "cab", "ac", "cc"])
LEAF_DOC = st.lists(LEAF_WORD, max_size=12).map(" ".join)


@settings(max_examples=150, deadline=None)
@given(LEAF_DOC, st.lists(LEAF_WORD, min_size=1, max_size=3).map(" ".join),
       st.integers(0, 3), LEAF_WORD, st.integers(0, 2))
def test_query_string_leaves_match_as_the_phrase_matcher(doc, phrase, slop, term, k):
    """A query string's phrase and fuzzy leaves are the phrase matcher's
    queries: `"p"~s` matches iff the entry `p` at slop `s` does, and
    `t~k` iff the fuzzy entry `t` at fuzziness `k` does."""
    lucene = bool(lucene_annotator([{"text": f'"{phrase}"~{slop}'}])(doc))
    assert lucene == bool(highlighter([{"text": phrase, "slop": slop}])(doc))
    lucene = bool(lucene_annotator([{"text": f"{term}~{k}"}])(doc))
    assert lucene == bool(highlighter([{"text": term, "fuzzy": True, "fuzziness": k}])(doc))


def test_merge_idempotent():
    anns = [
        {"text": "ab", "type": "T", "dict_entry_id": "1", "meta": {},
         "begin_offset": 0, "end_offset": 2},
        {"text": "b", "type": "T", "dict_entry_id": "2", "meta": {},
         "begin_offset": 1, "end_offset": 2},
    ]
    once = merge_same_type_annotations(anns)
    twice = merge_same_type_annotations(once)
    assert once == twice
