"""Brute-force differential fuzzing of the positional matchers — the
one deep-logic component (SURVEY.md: 'what's hard, ranked' #1).

The oracle enumerates ALL injective slot->position assignments with
itertools and applies the semantic definitions directly:

- sloppy (MultiPhraseQuery): exists assignment with
  max(p_i - i) - min(p_i - i) <= slop anchored at min position s
  (`_match_unordered` with spread = slop)
- unordered near (SpanNearQuery): exists assignment with
  max(p) - min(p) <= slop + k - 1 anchored at s
  (`_match_unordered` with spread = slop + 2(k - 1))
- ordered: increasing positions with total gap <= slop, minimal end,
  same-end collapse to earliest start

For both unordered shapes every returned (s, e) must be a witness: e is
the end of some satisfying assignment anchored at s.
"""

import itertools

from hypothesis import given, settings
from hypothesis import strategies as st

from beagle_spark.analysis import Tokens
from beagle_spark.matcher.core import (
    CompiledQuery,
    _match_ordered,
    _match_unordered,
    find_matches,
)

WORDS = ["a", "b", "c", "d"]
DOC = st.lists(st.sampled_from(WORDS), min_size=0, max_size=10)
PHRASE = st.lists(st.sampled_from(WORDS), min_size=2, max_size=3)
SLOP = st.integers(0, 4)


def positions_of(doc, terms):
    out = []
    for t in terms:
        ps = [i for i, w in enumerate(doc) if w == t]
        if not ps:
            return None
        out.append(ps)
    return out


def brute_anchors(positions, pred):
    """All start positions s where some injective assignment with
    min==s satisfies pred(assignment)."""
    spans = {}
    for combo in itertools.product(*positions):
        if len(set(combo)) != len(combo):
            continue
        if pred(combo):
            s = min(combo)
            e = max(combo)
            # per anchor keep any witness (existence semantics)
            spans.setdefault(s, set()).add(e)
    return spans


@settings(max_examples=400, deadline=None)
@given(DOC, PHRASE, SLOP)
def test_sloppy_matches_brute_force(doc, terms, slop):
    positions = positions_of(doc, terms)
    if positions is None:
        return
    got = _match_unordered(positions, slop, slop)
    expected = brute_anchors(
        positions,
        lambda c: max(p - i for i, p in enumerate(c))
        - min(p - i for i, p in enumerate(c))
        <= slop,
    )
    assert {s for s, _e in got} == set(expected), (doc, terms, slop)
    for s, e in got:
        assert e in expected[s], (doc, terms, slop, s, e)


@settings(max_examples=400, deadline=None)
@given(DOC, PHRASE, SLOP)
def test_unordered_near_matches_brute_force(doc, terms, slop):
    positions = positions_of(doc, terms)
    if positions is None:
        return
    k = len(terms)
    got = _match_unordered(positions, slop, slop + 2 * (k - 1))
    expected = brute_anchors(positions, lambda c: max(c) - min(c) <= slop + k - 1)
    assert {s for s, _e in got} == set(expected), (doc, terms, slop)
    for s, e in got:
        assert e in expected[s], (doc, terms, slop, s, e)


@settings(max_examples=400, deadline=None)
@given(DOC, PHRASE, SLOP)
def test_ordered_matches_brute_force(doc, terms, slop):
    positions = positions_of(doc, terms)
    if positions is None:
        return
    k = len(terms)
    got = dict()
    for s, e in _match_ordered(positions, slop):
        got[e] = s
    # brute force: per start, minimal strictly-increasing completion
    expected = {}
    for combo in itertools.product(*positions):
        if not all(combo[i] < combo[i + 1] for i in range(k - 1)):
            continue
        if combo[-1] - combo[0] - (k - 1) > slop:
            continue
        s, e = combo[0], combo[-1]
        # greedy picks minimal end per start; replicate: keep min end per start
        if s not in expected or e < expected[s]:
            expected[s] = e
    # same-end collapse to earliest start
    collapsed = {}
    for s, e in sorted(expected.items()):
        if e not in collapsed:
            collapsed[e] = s
    assert got == collapsed, (doc, terms, slop)


@settings(max_examples=200, deadline=None)
@given(DOC, PHRASE, SLOP, st.booleans())
def test_find_matches_offsets_are_token_aligned(doc, terms, slop, ordered):
    text = " ".join(doc)
    tokens = Tokens(list(doc), [], [])
    pos = 0
    for w in doc:
        tokens.begins.append(pos)
        tokens.ends.append(pos + len(w))
        pos += len(w) + 1
    q = CompiledQuery(
        query_id="q", terms=tuple(terms), slop=slop, ordered=ordered
    )
    for begin, end in find_matches(tokens, q):
        assert 0 <= begin < end <= len(text)
        assert text[begin] != " " and text[end - 1] != " "
