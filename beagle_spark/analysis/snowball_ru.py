"""Snowball Russian stemmer, pure Python.

Implemented from the published algorithm specification
(snowballstem.org/algorithms/russian/stemmer.html) — the same program
Lucene runs for the reference's `:russian` stemmer
(reference: src/beagle/text_analysis.clj:43).

All steps operate inside RV (the region after the first vowel);
DERIVATIONAL additionally requires R2.
"""

from __future__ import annotations

from .snowball_rt import after_vowel, among, compile_among, regions

_VOWELS = frozenset("аеиоуыэюя")


def _table(group1, group2=()):
    """Group-1 endings (result "а") need а or я right before them, inside
    RV; the а/я itself is kept."""
    return compile_among([(s, "а") for s in group1] + list(group2))


_PERFECTIVE = _table(("вшись", "вши", "в"),
                     ("ившись", "ывшись", "ивши", "ывши", "ив", "ыв"))
_REFLEXIVE = _table((), ("ся", "сь"))
_ADJECTIVE = _table((), (
    "ими", "ыми", "его", "ого", "ему", "ому", "ее", "ие", "ые", "ое",
    "ей", "ий", "ый", "ой", "ем", "им", "ым", "ом", "их", "ых", "ую",
    "юю", "ая", "яя", "ою", "ею",
))
_PARTICIPLE = _table(("ем", "нн", "вш", "ющ", "щ"), ("ивш", "ывш", "ующ"))
_VERB = _table((
    "ете", "йте", "ешь", "нно", "ла", "на", "ли", "ем", "ло", "но",
    "ет", "ют", "ны", "ть", "й", "л", "н",
), (
    "ейте", "уйте", "ила", "ыла", "ена", "ите", "или", "ыли", "ило",
    "ыло", "ено", "ует", "уют", "ены", "ить", "ыть", "ишь", "ей", "уй",
    "ил", "ыл", "им", "ым", "ен", "ят", "ит", "ыт", "ую", "ю",
))
_NOUN = _table((), (
    "иями", "ями", "ами", "ией", "иям", "ием", "иях", "ию", "ья", "ия",
    "ей", "ой", "ий", "ям", "ем", "ам", "ом", "ах", "ях", "ью", "ие",
    "ье", "еи", "ии", "а", "ев", "ов", "е", "и", "й", "о", "у", "ы",
    "ь", "ю", "я",
))
_DERIVATIONAL = _table((), ("ость", "ост"))
_SUPERLATIVE = _table((), ("ейше", "ейш"))


def _strip(w: str, rv: int, table) -> str | None:
    """One RV-limited among step: the longest entry inside RV is
    deleted; a group-1 entry without а/я before it fails the step."""
    m = among(w, table, limit=rv)
    if m is None:
        return None
    start, res = m
    if res and not (start - 1 >= rv and w[start - 1] in "ая"):
        return None
    return w[:start]


def russian_stem(word: str) -> str:
    w = word.lower().replace("ё", "е")
    rv = after_vowel(w, _VOWELS)
    r2 = regions(w, _VOWELS)[1]

    # Step 1: perfective gerund, else reflexive + adjectival/verb/noun
    w2 = _strip(w, rv, _PERFECTIVE)
    if w2 is not None:
        w = w2
    else:
        w = _strip(w, rv, _REFLEXIVE) or w
        # adjectival = adjective, optionally preceded by participle
        w2 = _strip(w, rv, _ADJECTIVE)
        if w2 is not None:
            w = _strip(w2, rv, _PARTICIPLE) or w2
        else:
            w = _strip(w, rv, _VERB) or _strip(w, rv, _NOUN) or w

    # Step 2: final и
    if w.endswith("и") and len(w) - 1 >= rv:
        w = w[:-1]

    # Step 3: derivational (ость/ост) in R2
    m = among(w, _DERIVATIONAL, gate=r2)
    if m is not None:
        w = w[:m[0]]

    # Step 4: an or-chain — undouble нн, OR strip the superlative
    # (then undouble нн), OR strip a soft sign; only one branch runs
    if w.endswith("нн") and len(w) - 1 >= rv:
        w = w[:-1]
    elif (w2 := _strip(w, rv, _SUPERLATIVE)) is not None:
        w = w2
        if w.endswith("нн") and len(w) - 1 >= rv:
            w = w[:-1]
    elif w.endswith("ь") and len(w) - 1 >= rv:
        w = w[:-1]
    return w
