"""Snowball German stemmer, pure Python.

Implemented from the published algorithm specification
(snowballstem.org/algorithms/german/stemmer.html) — the same program
Lucene runs for the reference's `:german` stemmer
(reference: src/beagle/text_analysis.clj:25). `german2` differs only in
also treating `ae/oe/ue` as umlauts; both variants are provided.

Spec summary:
- ß -> ss; u/y between vowels marked as consonants (U/Y).
- R1/R2 standard regions, with R1 adjusted to start no earlier than
  position 3.
- Step 1: {em, ern, er} | {e, en, es} (+"niss" s-drop) | s after valid
  s-ending — delete in R1.
- Step 2: {est, en, er} | st after valid st-ending (stem >= 3 chars) —
  delete in R1.
- Step 3 (d-suffixes): end/ung, ig/ik/isch, lich/heit, keit with their
  chained deletions in R2.
- Unmark U/Y, strip umlauts a"/o"/u".
"""

from __future__ import annotations

from .snowball_rt import among, compile_among, regions

_VOWELS = frozenset("aeiouyäöü")
_S_ENDING = frozenset("bdfghklmnrt")
_ST_ENDING = frozenset("bdfghklmnt")


def _prelude(word: str, german2: bool) -> str:
    w = word.replace("ß", "ss")
    if german2:
        # german2: ae/oe/ue -> umlauts (except after q: "que" stays)
        out = []
        i = 0
        while i < len(w):
            two = w[i : i + 2]
            if two in ("ae", "oe") :
                out.append({"ae": "ä", "oe": "ö"}[two])
                i += 2
            elif two == "ue" and i > 0 and w[i - 1] not in "qQ" and w[i - 1] in "aeiouyäöü":
                # ue after a vowel stays (e.g. 'feuer'); spec: ue -> ü
                out.append("ue")
                i += 2
            elif two == "ue" and i > 0 and w[i - 1] not in "qQ":
                out.append("ü")
                i += 2
            else:
                out.append(w[i])
                i += 1
        w = "".join(out)
    chars = list(w)
    for i in range(1, len(chars) - 1):
        if chars[i] == "u" and chars[i - 1] in _VOWELS and chars[i + 1] in _VOWELS:
            chars[i] = "U"
        if chars[i] == "y" and chars[i - 1] in _VOWELS and chars[i + 1] in _VOWELS:
            chars[i] = "Y"
    return "".join(chars)


# Step 1: results "s" (valid s-ending before) and "e" (then niss -> nis)
_STEP1 = compile_among(["em", "ern", "er", ("e", "e"), ("en", "e"),
                        ("es", "e"), ("s", "s")])
# Step 2: "st" needs a valid st-ending with at least 3 letters before it
_STEP2 = compile_among(["en", "er", "est", ("st", "st")])
# Step 3 (d-suffixes): result selects the chained deletion
_STEP3 = compile_among([("end", 1), ("ung", 1), ("ig", 2), ("ik", 2),
                        ("isch", 2), ("lich", 3), ("heit", 3), ("keit", 4)])
_UMLAUTS = str.maketrans({"ä": "a", "ö": "o", "ü": "u"})


def _stem(word: str, german2: bool) -> str:
    w = _prelude(word.lower(), german2)
    # marked U/Y are consonants (uppercase, so not in _VOWELS)
    r1, r2 = regions(w, _VOWELS, floor=3)

    m = among(w, _STEP1, gate=r1)
    if m is not None:
        start, res = m
        if res != "s" or (start >= 1 and w[start - 1] in _S_ENDING):
            w = w[:start]
            if res == "e" and w.endswith("niss"):
                w = w[:-1]

    m = among(w, _STEP2, gate=r1)
    if m is not None:
        start, res = m
        if res != "st" or (start >= 4 and w[start - 1] in _ST_ENDING):
            w = w[:start]

    m = among(w, _STEP3, gate=r2)
    if m is not None:
        start, res = m
        if res == 1:
            w = w[:start]
            if (w.endswith("ig") and len(w) - 2 >= r2
                    and (len(w) < 3 or w[-3] != "e")):
                w = w[:-2]
        elif res == 2:
            if start < 1 or w[start - 1] != "e":
                w = w[:start]
        elif res == 3:
            w = w[:start]
            if w.endswith(("er", "en")) and len(w) - 2 >= r1:
                w = w[:-2]
        else:
            w = w[:start]
            if w.endswith("lich") and len(w) - 4 >= r2:
                w = w[:-4]
            elif w.endswith("ig") and len(w) - 2 >= r2:
                w = w[:-2]

    # Finally
    return w.replace("U", "u").replace("Y", "y").translate(_UMLAUTS)


def german_stem(word: str) -> str:
    return _stem(word, german2=False)


def german2_stem(word: str) -> str:
    return _stem(word, german2=True)
