"""Phrase-matching core: exact / sloppy / ordered / fuzzy span matching
over analyzed token streams, returning whole-span char offsets.

This replaces Lucene's MultiPhraseQuery + sloppy scorer and ordered
SpanNearQuery (reference: src/beagle/phrases.clj:160-204) with a pure
algorithmic implementation that runs inside the annotate Arrow UDF.
Semantics pinned by the reference's tests (SURVEY.md section 2
fine-print):

- Unordered sloppy phrase (MultiPhraseQuery.setSlop): a match is an
  assignment of phrase slot i -> distinct doc position p_i with
  token(p_i) == term_i, such that max_i(p_i - i) - min_i(p_i - i) <=
  slop (Lucene's moves measure: a swapped adjacent pair costs 2 —
  phrases_test.clj:263-274; a single interleaved term costs 1).
- Ordered span-near (SpanNearQuery ordered): p_0 < p_1 < ... and total
  gap (p_last - p_0 - (k-1)) <= slop.
- Fuzzy terms match by Damerau-Levenshtein distance <= fuzziness
  (Lucene FuzzyQuery default: transpositions count as 1 edit).
- Overlapping occurrences are each reported (phrases_test.clj:192-196):
  matches are enumerated per distinct start position.
- Spans are whole-match extents (we deliberately emit whole spans
  instead of replaying the reference's per-term highlight
  reconstruction, phrases.clj:17-82 — same observable result for the
  non-buggy cases; see SURVEY.md A13).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from dataclasses import dataclass, field
from typing import Optional

from ..analysis import Tokens

MAX_SLOP = 2**31 - 1


@dataclass(frozen=True)
class CompiledQuery:
    """Driver-compiled, broadcast-able query (replaces MonitorQuery,
    reference: phrases.clj:160-204)."""

    query_id: str
    terms: tuple[str, ...]
    slop: int = 0
    ordered: bool = False  # SpanNearQuery path incl. "_in-order" flag
    fuzzy: bool = False
    fuzziness: int = 1
    type: Optional[str] = None
    meta: dict = field(default_factory=dict, hash=False)


def normalize_slop(slop) -> int:
    """Clamp to [0, Int/MAX] (reference: phrases.clj:167)."""
    if slop is None:
        return 0
    return max(0, min(int(slop), MAX_SLOP))


# ---------------------------------------------------------------------------
# Fuzzy term matching: Damerau-Levenshtein with cutoff.
# ---------------------------------------------------------------------------
def dl_distance_leq(a: str, b: str, max_edits: int) -> bool:
    """True if optimal-string-alignment distance(a, b) <= max_edits.
    Banded DP; early exit when the band minimum exceeds the cutoff."""
    la, lb = len(a), len(b)
    if abs(la - lb) > max_edits:
        return False
    if a == b:
        return True
    if max_edits == 0:
        return False
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        row_min = i
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ca == b[j - 1] else 1
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                prev2 is not None
                and i > 1
                and j > 1
                and ca == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                v = min(v, prev2[j - 2] + 1)
            cur[j] = v
            if v < row_min:
                row_min = v
        if row_min > max_edits:
            return False
        prev2, prev = prev, cur
    return prev[lb] <= max_edits


# ---------------------------------------------------------------------------
# Position-list construction.
# ---------------------------------------------------------------------------
def build_token_index(tokens: Tokens) -> dict:
    """token text -> sorted positions; built ONCE per (doc, analysis
    config) and shared across all candidate queries (the per-doc
    equivalent of Lucene's single transient in-memory doc index,
    phrases.clj:110-114)."""
    index: dict[str, list[int]] = {}
    for pos, t in enumerate(tokens.texts):
        index.setdefault(t, []).append(pos)
    return index


def _positions_exact(index: dict, terms: tuple[str, ...]):
    """For each phrase slot, the sorted doc positions whose token equals
    the term. Returns None if any slot has no occurrence."""
    out = []
    for term in terms:
        plist = index.get(term)
        if not plist:
            return None
        out.append(plist)
    return out


# worker-local memo for fuzzy term<->token decisions: dictionary terms
# are fixed and corpus vocabulary repeats heavily across documents, so
# the same (term, token) pair is re-tested constantly. Bounded: cleared
# wholesale when it grows past the cap (simple, GC-friendly).
_FUZZY_MEMO: dict = {}
_FUZZY_MEMO_CAP = 1_000_000


def _positions_fuzzy(index: dict, terms: tuple[str, ...], max_edits: int):
    """Fuzzy slot positions: token within DL distance <= max_edits of the
    term. Distance computed once per DISTINCT doc token per term, memoized
    across documents."""
    memo = _FUZZY_MEMO
    if len(memo) > _FUZZY_MEMO_CAP:
        memo.clear()
    out = []
    for term in terms:
        plist: list[int] = []
        for tok_text, positions in index.items():
            key = (term, tok_text, max_edits)
            hit = memo.get(key)
            if hit is None:
                hit = memo[key] = dl_distance_leq(term, tok_text, max_edits)
            if hit:
                plist.extend(positions)
        if not plist:
            return None
        plist.sort()
        out.append(plist)
    return out


# ---------------------------------------------------------------------------
# Matching algorithms. All return a list of (min_pos, max_pos) doc-position
# spans, one per distinct start position that begins a match.
#
# Every unordered shape is one search: per anchor s, an injective
# assignment slot i -> position p_i in [s, s + slop + k - 1] with
# min(p) == s and adjusted spread max(p_i - i) - min(p_i - i) <= spread.
#   - sloppy phrase (Lucene's moves measure): spread = slop; slop 0 is
#     the exact in-order phrase.
#   - unordered span-near, the fuzzy in_order=false path
#     (phrases.clj:173-176; NearSpansUnordered: (max_end - min_start) -
#     totalLength <= slop): spread = slop + 2(k - 1), which the window
#     already implies, so only the raw width binds. Weaker than the
#     moves measure: "mill tokne" matches "token mill" at slop 0
#     (phrases_test.clj:512-517).
# ---------------------------------------------------------------------------
def _match_unordered(
    positions: list[list[int]], slop: int, spread: int
) -> list[tuple[int, int]]:
    """Unordered phrase search (see the section comment). Each slot's
    window is a bisect slice of its sorted position list, so an anchor
    costs O(k log n + window), not O(n)."""
    k = len(positions)
    window = slop + k - 1
    spans = []
    for s in sorted({p for plist in positions for p in plist}):
        hi = s + window
        cand = []
        for plist in positions:
            cs = plist[bisect_left(plist, s) : bisect_right(plist, hi)]
            if not cs:
                break
            cand.append(cs)
        else:
            span = _assign(cand, s, spread, k)
            if span is not None:
                spans.append(span)
    return spans


# Backtracking node budget per anchor: the window bound (slop + k)
# keeps realistic cases tiny, but adversarial documents full of one
# repeated token could explode the search; bail out (miss) past this.
_MAX_ASSIGN_NODES = 200_000


def _assign(cand: list[list[int]], s: int, spread: int, k: int):
    """First injective assignment p_i in cand[i] (depth-first, slots in
    order, positions ascending) that uses s and has adjusted spread
    <= spread; returns its (min_pos, max_pos), or None."""
    used: set[int] = set()
    best: list[Optional[tuple[int, int]]] = [None]
    budget = [_MAX_ASSIGN_NODES]

    def rec(i: int, lo_adj: int, hi_adj: int, saw_s: bool):
        if budget[0] <= 0:
            return
        budget[0] -= 1
        if i == k:
            if saw_s:
                best[0] = (min(used), max(used))
            return
        for p in cand[i]:
            if p in used:
                continue
            adj = p - i
            nlo = adj if adj < lo_adj else lo_adj
            nhi = adj if adj > hi_adj else hi_adj
            if nhi - nlo > spread:
                continue
            used.add(p)
            rec(i + 1, nlo, nhi, saw_s or p == s)
            used.discard(p)
            if best[0] is not None:
                return

    rec(0, 2**62, -(2**62), False)
    return best[0]


def _match_ordered(positions: list[list[int]], slop: int) -> list[tuple[int, int]]:
    """Ordered span-near: strictly increasing positions, total gap <= slop.
    Greedy minimal continuation per start (optimal: total gap depends only
    on the last position, which greedy minimizes). Matches sharing the
    same END collapse to the earliest start — this reproduces the
    reference's begin/end highlight pairing for ordered spans
    (phrases.clj:43-53; pinned by phrases_test.clj:404-412 where
    "phrase end end" over "phrase phrase end end" yields ONE highlight
    spanning from the first "phrase")."""
    k = len(positions)
    by_end: dict[int, int] = {}
    for p0 in positions[0]:
        prev = p0
        ok = True
        for i in range(1, k):
            plist = positions[i]
            j = bisect_right(plist, prev)
            if j >= len(plist):
                ok = False
                break
            prev = plist[j]
        if ok and (prev - p0 - (k - 1)) <= slop:
            if prev not in by_end:  # positions[0] scanned in order
                by_end[prev] = p0
    return [(s, e) for e, s in by_end.items()]


def find_matches(
    tokens: Tokens, q: CompiledQuery, index: dict | None = None
) -> list[tuple[int, int]]:
    """All match spans of `q` in `tokens`, as char-offset (begin, end)
    pairs into the original text, one per distinct start position. An
    ordered query runs `_match_ordered`; every other multi-term shape
    runs the one unordered search, `_match_unordered`, with the spread
    of its shape: `slop` for a (sloppy or exact) phrase, `slop + 2(k-1)`
    for a fuzzy `in_order=false` span-near. Pass a prebuilt
    `build_token_index` to amortize it across queries (the hot path
    does)."""
    if not tokens or not q.terms:
        return []
    if index is None:
        index = build_token_index(tokens)
    if q.fuzzy:
        positions = _positions_fuzzy(index, q.terms, max(0, q.fuzziness))
    else:
        positions = _positions_exact(index, q.terms)
    if positions is None:
        return []
    k = len(q.terms)
    if k == 1:
        pos_spans = [(p, p) for p in positions[0]]
    elif q.ordered:
        pos_spans = _match_ordered(positions, q.slop)
    elif q.fuzzy:
        # fuzzy + explicit in_order=false -> unordered SpanNearQuery
        pos_spans = _match_unordered(positions, q.slop, q.slop + 2 * (k - 1))
    else:
        pos_spans = _match_unordered(positions, q.slop, q.slop)
    begins, ends = tokens.begins, tokens.ends
    return [(begins[a], ends[b]) for a, b in pos_spans]
