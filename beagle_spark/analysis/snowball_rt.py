"""Snowball runtime shared by every stemmer.

Every Snowball program (snowballstem.org/compiler/snowman.html) is
built from two ideas, and this module is their one implementation:

- region marks: R1/R2 (`gopast v gopast non-v`, optionally floored at
  3) and the RV rules more than one language shares (after the first
  vowel; the Spanish-family rule on the first two letters);
- the longest-match `among` over a compiled suffix table, in its two
  forms. `setlimit tomark X for ([substring] among ...)` restricts the
  match to the region up front, so a shorter entry wins over a longer
  one that crosses the mark (`limit=`). The gated form matches first
  and checks the region in the chosen branch, so a failed gate fails
  the step and no shorter entry is tried (`gate=`). An entry may carry
  a condition routine, checked during the search like Snowball's
  `among` routines. `among_prefix` is the same search in forward mode.

`BackwardWord` adds the backward-mode cursor for the programs that
chain several steps over one persistent cursor: a replacement is never
rescanned.

The per-language suffix tables in the sibling modules are transcribed
from the published Snowball programs and checked word by word against
the Snowball 2.x implementations compiled into PostgreSQL 15's
dict_snowball.so (the generated sources Lucene 8.x runs for the
reference) with tools/snowball_oracle.py; DEVIATIONS.md §3 says which
languages match and where the others differ.
"""

from __future__ import annotations


def gopast(w: str, vowels, i: int = 0) -> int:
    """`gopast v gopast non-v` from i: the position just after the first
    non-vowel that follows a vowel at or after i; len(w) if none."""
    n = len(w)
    while i < n and w[i] not in vowels:
        i += 1
    i += 1
    while i < n and w[i] in vowels:
        i += 1
    return i + 1 if i < n else n


def regions(w: str, vowels, floor: int = 0) -> tuple[int, int]:
    """(R1, R2), R2 marked from the unfloored R1; `floor` then raises R1
    to at least that position (3 in German, Dutch, Estonian and the
    Scandinavian programs). A program whose R1 starts elsewhere
    (Lithuanian, English's gener/commun/arsen) marks it with `gopast`."""
    r1 = gopast(w, vowels)
    return max(r1, floor), gopast(w, vowels, r1)


def after_vowel(w: str, vowels, i: int = 0) -> int:
    """`gopast v` from i: just after the first vowel at or after i;
    len(w) if none. RV of Russian, Armenian and Irish is
    after_vowel(w, vowels)."""
    n = len(w)
    while i < n and w[i] not in vowels:
        i += 1
    return i + 1 if i < n else n


def after_nonvowel(w: str, vowels, i: int = 0) -> int:
    """`gopast non-v` from i."""
    n = len(w)
    while i < n and w[i] in vowels:
        i += 1
    return i + 1 if i < n else n


def rv_spanish(w: str, vowels) -> int:
    """RV of the Spanish-family programs (Spanish, Italian, Portuguese,
    Romanian, Basque): if the second letter is a consonant, after the
    next vowel; if the first two letters are vowels, after the next
    consonant; otherwise (consonant, vowel) after the third letter."""
    if len(w) < 3:
        return len(w)
    if w[1] not in vowels:
        return after_vowel(w, vowels, 2)
    if w[0] in vowels:
        return after_nonvowel(w, vowels, 2)
    return 3


def compile_among(entries):
    """A suffix table for `among`. Entries are non-empty bare suffixes
    (result "" = delete), (suffix, result) pairs, or (suffix, result,
    test) triples: test(w, start) is the entry's condition routine,
    checked during the search; when it fails the search goes on to
    shorter entries, as Snowball does for an among entry with a
    routine."""
    by_len: dict[int, dict[str, object]] = {}
    tests = {}
    for e in entries:
        if isinstance(e, str):
            e = (e, "")
        by_len.setdefault(len(e[0]), {})[e[0]] = e[1]
        if len(e) > 2:
            tests[e[0]] = e[2]
    # the last letters of the entries: most words end in none of them
    lasts = frozenset(s[-1] for d in by_len.values() for s in d)
    return sorted(by_len, reverse=True), by_len, tests, lasts


def among(w: str, table, limit: int = 0, gate: int = 0):
    """Longest entry of `table` ending `w`: (start, result), or None.

    limit: setlimit form: an entry starting before `limit` cannot
    match, so a shorter one wins. gate: gated form: when the longest
    match starts before `gate`, the step fails (None); no shorter entry
    is tried."""
    lens, by_len, tests, lasts = table
    if not w or w[-1] not in lasts:
        return None
    n = len(w)
    for ln in lens:
        if ln <= n - limit:
            suf = w[n - ln:]
            res = by_len[ln].get(suf)
            if res is not None and (not tests or suf not in tests
                                    or tests[suf](w, n - ln)):
                return None if n - ln < gate else (n - ln, res)
    return None


def among_prefix(w: str, table, i: int = 0):
    """Forward-mode `among`: the longest entry of `table` that starts at
    i: (end, result), or None."""
    for ln in table[0]:
        res = table[1][ln].get(w[i:i + ln])
        if res is not None:
            return i + ln, res
    return None


def replace_among(w: str, table, limit: int = 0, gate: int = 0) -> str | None:
    """One `[substring] among (... <- result)` step: `w` with its longest
    match replaced by the entry's result string, or None if the step
    fails (see `among` for limit and gate)."""
    m = among(w, table, limit, gate)
    return None if m is None else w[:m[0]] + m[1]


class BackwardWord:
    """A word stemmed in backward mode: `head` is the text left of the
    cursor (still matchable), `tail` the text the steps have replaced
    (never rescanned). `marks` maps a region name to its position."""

    __slots__ = ("head", "tail", "marks")

    def __init__(self, s: str, pV: int = 0, p1: int = 0, p2: int = 0):
        self.head, self.tail = s, ""
        self.marks = {None: 0, "RV": pV, "R1": p1, "R2": p2}

    def step(self, table, actions, setlimit: str | None = None) -> bool:
        """One `[substring] among(...)` step. `actions` maps each result
        to (gate region, replacement); `setlimit` names the region the
        match is limited to."""
        m = among(self.head, table, self.marks[setlimit])
        if m is None:
            return False
        start, res = m
        gate, repl = actions[res]
        if start < self.marks[gate]:
            return False
        self.head, self.tail = self.head[:start], repl + self.tail
        return True

    def repeat(self, table, actions, setlimit: str | None = None) -> None:
        while self.step(table, actions, setlimit):
            pass

    def __str__(self) -> str:
        return self.head + self.tail
