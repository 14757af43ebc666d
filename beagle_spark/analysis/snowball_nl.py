"""Snowball Dutch and Kraaij-Pohlmann stemmers, pure Python.

Dutch is implemented from the published algorithm specification
(snowballstem.org/algorithms/dutch/stemmer.html) — the same program
Lucene runs for the reference's `:dutch` stemmer
(reference: src/beagle/text_analysis.clj:26). The reference's `:kp`
(Kraaij-Pohlmann) is a different Dutch stemmer with its own
implementation below.
"""

from __future__ import annotations

from .snowball_rt import among, compile_among, gopast, regions, replace_among

_VOWELS = frozenset("aeiouyè")

_ACCENTS = str.maketrans("äëïöüáéíóú", "aeiouaeiou")


def _prelude(w: str) -> str:
    w = w.translate(_ACCENTS)
    chars = list(w)
    n = len(chars)
    if chars and chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, n):
        if chars[i] == "y" and chars[i - 1] in _VOWELS:
            chars[i] = "Y"
        elif (
            chars[i] == "i"
            and chars[i - 1] in _VOWELS
            and i + 1 < n
            and chars[i + 1] in _VOWELS
        ):
            chars[i] = "I"
    return "".join(chars)


def _undouble(w: str) -> str:
    if w.endswith(("kk", "dd", "tt")):
        return w[:-1]
    return w


# Step 1 results: "heid" replaces, "en" and "s" check the stem first
_STEP1 = compile_among([("heden", "heid"), ("en", "en"), ("ene", "en"),
                        ("s", "s"), ("se", "s")])
_D_SUFFIX = compile_among(["end", "ing", "ig", "lijk", "baar", "bar"])


def _step2(w: str, r1: int) -> str | None:
    """Step 2: a final e after a non-vowel, in R1, goes (then undouble)."""
    if w.endswith("e") and len(w) - 1 >= r1 and len(w) >= 2 and w[-2] not in _VOWELS:
        return _undouble(w[:-1])
    return None


def _strip_en(stem: str) -> str | None:
    """undouble(stem) when the stem ends in a non-vowel and not 'gem'."""
    if stem and stem[-1] not in _VOWELS and not stem.endswith("gem"):
        return _undouble(stem)
    return None


def dutch_stem(word: str) -> str:
    w = _prelude(word.lower())
    r1, r2 = regions(w, _VOWELS, floor=3)

    # Step 1: the longest entry is chosen first; if its condition
    # fails nothing shorter is tried
    m = among(w, _STEP1, gate=r1)
    if m is not None:
        start, res = m
        stem = w[:start]
        if res == "heid":
            w = stem + res
        elif res == "en":
            w = _strip_en(stem) or w
        elif stem[-1] not in _VOWELS and stem[-1] != "j":
            w = stem

    # Step 2
    w2 = _step2(w, r1)
    e_removed = w2 is not None
    w = w2 or w

    # Step 3a
    if w.endswith("heid") and len(w) - 4 >= r2 and (len(w) < 5 or w[-5] != "c"):
        w = w[:-4]
        if w.endswith("en") and len(w) - 2 >= r1:
            w = _strip_en(w[:-2]) or w

    # Step 3b: d-suffixes
    m = among(w, _D_SUFFIX, gate=r2)
    if m is not None:
        start = m[0]
        suf, stem = w[start:], w[:start]
        if suf in ("end", "ing"):
            if stem.endswith("ig") and len(stem) - 2 >= r2 and (len(stem) < 3 or stem[-3] != "e"):
                w = stem[:-2]
            else:
                w = _undouble(stem)
        elif suf == "ig":
            if len(stem) < 1 or stem[-1] != "e":
                w = stem
        elif suf == "lijk":
            w = _step2(stem, r1) or stem
        elif suf == "baar" or e_removed:
            w = stem

    # Step 4: undouble vowel  (CVVc -> CVc, VV in aa/ee/oo/uu)
    if (
        len(w) >= 4
        and w[-1] not in _VOWELS
        and w[-1] != "I"
        and w[-2] == w[-3]
        and w[-2] in "aeou"
        and w[-4] not in _VOWELS
    ):
        w = w[:-2] + w[-1]

    return w.replace("Y", "y").replace("I", "i")


# ---------------------------------------------------------------------------
# Kraaij-Pohlmann Dutch stemmer
# ---------------------------------------------------------------------------
# Implemented from the published Kraaij & Pohlmann design ("Porter's
# stemmer for Dutch", 1994; also distributed as the Snowball 'kp'
# program): distinct from the Snowball dutch stemmer above in both
# rule set and order — inflectional endings (plural, diminutive, verb)
# with spelling repair, then degree, then derivational endings. The
# spelling-repair rules are the characteristic kp feature: undouble
# consonants after ending removal, restore v/z that were devoiced to
# f/s before a stripped vowel ending, and keep long-vowel stems intact.

_KP_VOWELS = frozenset("aeiouy")
# The kp conditions ask for a minimum Porter measure of the stem (its
# number of vowel-consonant transitions). The measure of w[:i] is >= 1
# exactly when i >= R1 and >= 2 exactly when i >= R2, so every
# condition is a region mark: the published "shorter ending wins when
# the stem is too short" search is the setlimit form of `among`.

# diminutives: -kje restores the g (koninkje -> koning)
_KP_DIMINUTIVE = compile_among(["etje", "tje", "pje", ("kje", "g"), "je"])
# derivational suffixes (measure >= 2; -ingen -> -ing needs only 1)
_KP_DERIV = compile_among(["lijkheid", "heid", "ing", "baar", "lijk",
                           "ster", "aar", "erd", "sel", "isch", "ig"])


def _kp_repair(w: str) -> str:
    """kp spelling repair after stripping a vowel-initial ending:
    undouble a final double consonant (lopp->lop) and restore the
    voiced fricative (huiz/duiv patterns keep v/z; a devoiced f/s
    before the removed vowel goes back to v/z)."""
    if len(w) >= 2 and w[-1] == w[-2] and w[-1] not in _KP_VOWELS:
        w = w[:-1]
    return w


def kp_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 3:
        return w
    V = _KP_VOWELS

    # Step 1: inflectional suffixes -------------------------------------
    r1 = gopast(w, V)
    if w.endswith("heden") and len(w) - 5 >= r1:
        # before the generic -en rule: plural of -heid nouns
        w = w[:-5] + "heid"
    elif (w2 := replace_among(w, _KP_DIMINUTIVE, limit=r1)) is not None:
        w = w2
    # plural / verb endings
    elif w.endswith("en") and len(w) - 2 >= r1 and w[-3] not in V:
        w = _kp_repair(w[:-2])
        # voiced-fricative restore: the f/s devoicing of v/z
        # before a vowel ending reverses on removal
        if w.endswith("v"):
            w = w[:-1] + "f"
        if w.endswith("z"):
            w = w[:-1] + "s"
    elif w.endswith("s") and not w.endswith(("aus", "eus")) and len(w) - 1 >= r1 \
            and w[-2] not in V:
        w = w[:-1]
        if w.endswith("'"):
            w = w[:-1]
    elif w.endswith("t") and len(w) - 1 >= r1 and w[-2] not in V and w[-2] not in "ts":
        # 's' before 't' is left for the superlative rule
        w = w[:-1]
    elif w.endswith(("de", "te")) and len(w) - 2 >= r1:
        w = _kp_repair(w[:-2])
    elif w.endswith("e") and len(w) - 1 >= r1 and w[-2] not in V:
        w = _kp_repair(w[:-1])

    # Step 2: degree adjectives -----------------------------------------
    r1 = gopast(w, V)
    if w.endswith("st") and len(w) - 2 >= r1 and len(w) > 4:
        w = w[:-2]
    elif w.endswith("er") and len(w) - 2 >= r1 and len(w) > 4 \
            and not w.endswith(("eer", "ier")):
        w = _kp_repair(w[:-2])

    # Step 3: derivational suffixes (longest match) ---------------------
    r1, r2 = regions(w, V)
    if w.endswith("ingen") and len(w) - 5 >= r1:
        w = _kp_repair(w[:-2])
    elif (w2 := replace_among(w, _KP_DERIV, limit=r2)) is not None:
        w = _kp_repair(w2)

    # Lose_prefix: the characteristic kp past-participle 'ge-' removal
    # (gelopen -> lop collapses with lopen -> lop; Snowball dutch keeps
    # the prefix)
    if w.startswith("ge") and len(w) - 2 >= 3 and any(
        c in V for c in w[2:]
    ):
        w = w[2:]

    return w
