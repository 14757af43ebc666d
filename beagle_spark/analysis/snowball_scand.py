"""Snowball Danish / Norwegian / Swedish stemmers, pure Python.

Implemented from the published algorithm specifications
(snowballstem.org/algorithms/{danish,norwegian,swedish}/stemmer.html) —
the same programs Lucene runs for the reference's `:danish`,
`:norwegian`, `:swedish` stemmers
(reference: src/beagle/text_analysis.clj:24,38).

All three share the Scandinavian shape: R1 (adjusted to start no
earlier than position 3), one big a-suffix deletion step with an
s-ending condition, a consonant-cluster trim, and a small d-suffix
step.
"""

from __future__ import annotations

from .snowball_rt import among, compile_among, regions, replace_among

_DA_VOWELS = frozenset("aeiouyæåø")
_NO_VOWELS = frozenset("aeiouyæåø")
_SV_VOWELS = frozenset("aeiouyäåö")

# Every step is a setlimit-R1 among. In step 1 the bare 's' (result
# "s") also needs a valid s-ending before it.
_DA_STEP1 = compile_among([
    "hed", "ethed", "ered", "e", "erede", "ende", "erende", "ene",
    "erne", "ere", "en", "heden", "eren", "er", "heder", "erer",
    "heds", "es", "endes", "erendes", "enes", "ernes", "eres",
    "ens", "hedens", "erens", "ers", "ets", "erets", "et", "eret",
    ("s", "s"),
])
_DA_S_ENDING = frozenset("abcdfghjklmnoprtvyzå")
_DA_STEP3 = compile_among(["ig", "lig", "elig", "els", ("løst", "løs")])


def _da_step2(w: str, r1: int) -> str:
    # the whole cluster must sit inside R1 (setlimit tomark p1)
    if w[-2:] in ("gd", "dt", "gt", "kt") and len(w) - 2 >= r1:
        return w[:-1]
    return w


def danish_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 2:
        return w
    r1 = regions(w, _DA_VOWELS, floor=3)[0]

    # step 1
    m = among(w, _DA_STEP1, limit=r1)
    if m is not None and (m[1] != "s" or w[-2] in _DA_S_ENDING):
        w = w[:m[0]]

    # step 2
    w = _da_step2(w, r1)

    # step 3: 'igst' -> 'ig', then løst -> løs or delete + step 2
    if w.endswith("igst"):
        w = w[:-2]
    m = among(w, _DA_STEP3, limit=r1)
    if m is not None:
        w = w[:m[0]] + m[1] if m[1] else _da_step2(w[:m[0]], r1)

    # step 4: undouble final consonants in R1
    if (
        len(w) >= 2
        and len(w) - 1 >= r1
        and w[-1] == w[-2]
        and w[-1] not in _DA_VOWELS
    ):
        w = w[:-1]
    return w


# step 1: 'erte'/'ert' -> 'er'; bare 's' needs a valid s-ending (or k
# after a non-vowel)
_NO_STEP1 = compile_among([
    "a", "e", "ede", "ande", "ende", "ane", "ene", "hetene", "en",
    "heten", "ar", "er", "heter", "as", "es", "edes", "endes",
    "enes", "hetenes", "ens", "hetens", "ers", "ets", "et", "het",
    "ast", ("erte", "er"), ("ert", "er"), ("s", "s"),
])
_NO_S_ENDING = frozenset("bcdfghjlmnoprtvyz")
_NO_STEP3 = compile_among([
    "leg", "eleg", "ig", "eig", "lig", "elig", "els", "lov", "elov",
    "slov", "hetslov",
])


def norwegian_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 2:
        return w
    r1 = regions(w, _NO_VOWELS, floor=3)[0]

    # step 1
    m = among(w, _NO_STEP1, limit=r1)
    if m is not None:
        start, res = m
        if res != "s":
            w = w[:start] + res
        else:
            prev = w[-2]
            if prev in _NO_S_ENDING or (
                prev == "k" and (len(w) < 3 or w[-3] not in _NO_VOWELS)
            ):
                w = w[:-1]

    # step 2: dt / vt -> drop t (whole pair inside R1)
    if w[-2:] in ("dt", "vt") and len(w) - 2 >= r1:
        w = w[:-1]

    # step 3
    return replace_among(w, _NO_STEP3, limit=r1) or w


_SV_STEP1 = compile_among([
    "a", "arna", "erna", "heterna", "orna", "ad", "e", "ade", "ande",
    "arne", "are", "aste", "en", "anden", "aren", "heten", "ern",
    "ar", "er", "heter", "or", "as", "arnas", "ernas", "ornas",
    "es", "ades", "andes", "ens", "arens", "hetens", "erns", "at",
    "andet", "het", "ast", ("s", "s"),
])
_SV_S_ENDING = frozenset("bcdfghjklmnoprtvy")
_SV_STEP2_CLUSTERS = ("dd", "gd", "nn", "dt", "gt", "kt", "tt")
# step 3: lig/ig/els delete, löst -> lös, fullt -> full
_SV_STEP3 = compile_among(["lig", "els", "ig", ("löst", "lös"), ("fullt", "full")])


def swedish_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 2:
        return w
    r1 = regions(w, _SV_VOWELS, floor=3)[0]

    # step 1
    m = among(w, _SV_STEP1, limit=r1)
    if m is not None and (m[1] != "s" or w[-2] in _SV_S_ENDING):
        w = w[:m[0]]

    # step 2: drop the final letter of a double cluster inside R1
    if w[-2:] in _SV_STEP2_CLUSTERS and len(w) - 2 >= r1:
        w = w[:-1]

    # step 3
    return replace_among(w, _SV_STEP3, limit=r1) or w
