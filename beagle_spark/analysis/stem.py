"""Snowball-compatible stemming.

The reference uses Lucene's Snowball programs for 26 languages
(reference: src/beagle/text_analysis.clj:15-49). Every language runs an
in-repo pure-Python implementation (the `_STEMMERS` table below), the
same code on the driver, which compiles the dictionary, and on the
executors, which stem the documents. The snowball_* sibling modules
implement the published snowballstem.org programs on the shared
runtime in snowball_rt.py (region marks and the `among` suffix
search); see DEVIATIONS.md §3 for which languages are checked word by
word against the Snowball 2.x programs.

Stemmers are resolved per *analysis config* once per Arrow batch, never
per row.
"""

from __future__ import annotations

import logging
from functools import lru_cache

from .snowball_rt import among, compile_among, gopast

logger = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# Porter stemmer (pure Python, classic 1980 algorithm).
# ---------------------------------------------------------------------------
_VOWELS = frozenset("aeiou")


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences in the stem (Porter's m)."""
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if cons and prev_vowel:
            m += 1
        prev_vowel = not cons
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    if not (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
    ):
        return False
    return word[-1] not in "wxy"


_STEP2 = compile_among([
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
])
_STEP3 = compile_among([
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
])
_STEP4 = compile_among([
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
])


def porter_stem(word: str) -> str:
    """Classic Porter stemmer; ASCII lowercase input assumed for the
    algorithm core (other chars pass through untouched)."""
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, flag = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, flag = w[:-3], True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w += "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Steps 2 and 3: replace when the stem has m > 0
    for table in (_STEP2, _STEP3):
        m = among(w, table)
        if m is not None and _measure(w[:m[0]]) > 0:
            w = w[:m[0]] + m[1]

    # Step 4: delete when m > 1; 'ion' only after s or t
    m = among(w, _STEP4)
    if m is not None:
        stem = w[:m[0]]
        if (not w.endswith("ion") or stem.endswith(("s", "t"))) and _measure(stem) > 1:
            w = stem

    # Step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem

    # Step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w


# ---------------------------------------------------------------------------
# Porter2 / Snowball English stemmer (pure Python). This is what Lucene's
# SnowballProgram "English" runs — the reference's default `:english`
# stemmer (text_analysis.clj:22). Algorithm: snowballstem.org/algorithms/
# english/stemmer.html (public specification).
# ---------------------------------------------------------------------------
_P2_VOWELS = frozenset("aeiouy")
_P2_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_P2_LI_ENDING = frozenset("cdeghkmnrt")
_P2_EXCEPTIONS = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_P2_EXCEPTIONS2 = frozenset(
    ["inning", "outing", "canning", "herring", "earring",
     "proceed", "exceed", "succeed"]
)
_P2_STEP0 = compile_among(["'s'", "'s", "'"])
# eed/eedly -> ee in R1; the others delete when the stem has a vowel
_P2_STEP1B = compile_among([("eedly", "ee"), ("eed", "ee"),
                            "ingly", "edly", "ing", "ed"])
# results: replacement in R1; 'ogi' needs a preceding 'l' (-> og),
# 'li' a valid li-ending (-> delete)
_P2_STEP2 = compile_among([
    ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
    ("ousness", "ous"), ("iveness", "ive"), ("tional", "tion"),
    ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
    ("ation", "ate"), ("alism", "al"), ("aliti", "al"),
    ("ousli", "ous"), ("iviti", "ive"), ("fulli", "ful"),
    ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
    ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
    ("bli", "ble"), ("ogi", "og"), ("li", "li"),
])
# results: replacement in R1; 'ative' deletes in R2
_P2_STEP3 = compile_among([
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ical", "ic"),
    "ness", "ful", "ative",
])
# delete in R2; 'ion' only after s or t
_P2_STEP4 = compile_among([
    "ement", "ance", "ence", "able", "ible", "ment",
    "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
    "al", "er", "ic", "ion",
])


def _p2_short_syllable(w: str, i: int) -> bool:
    """Short syllable ending at index i (inclusive of the consonant)."""
    v = _P2_VOWELS
    # (a) vowel followed by non-vowel (not w/x/Y), preceded by non-vowel
    if i >= 2:
        return (
            w[i - 1] in v
            and w[i] not in v
            and w[i] not in "wxY"
            and w[i - 2] not in v
        )
    # (b) vowel at beginning followed by non-vowel
    return i == 1 and w[0] in v and w[1] not in v


def _p2_is_short(w: str, r1: int) -> bool:
    return r1 >= len(w) and len(w) >= 2 and _p2_short_syllable(w, len(w) - 1)


def porter2_stem(word: str) -> str:
    w = word
    if len(w) <= 2:
        return w
    if not w.isascii() or not w.isalpha():
        # pass through tokens the Snowball program wouldn't change
        if w not in _P2_EXCEPTIONS and "'" not in w:
            return w
    if w.startswith("'"):
        w = w[1:]
    if w in _P2_EXCEPTIONS:
        return _P2_EXCEPTIONS[w]
    v = _P2_VOWELS
    # mark consonant-y as Y
    if "y" in w:
        chars = list(w)
        if chars[0] == "y":
            chars[0] = "Y"
        for i in range(1, len(chars)):
            if chars[i] == "y" and chars[i - 1] in v:
                chars[i] = "Y"
        w = "".join(chars)
    # R1 exceptions: gener/arsen/commun mark R1 after the prefix
    r1 = (5 if w.startswith(("gener", "arsen"))
          else 6 if w.startswith("commun") else gopast(w, v))
    r2 = gopast(w, v, r1)

    # Step 0
    m = among(w, _P2_STEP0)
    if m is not None:
        w = w[:m[0]]

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-2] if len(w) > 4 else w[:-1]
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s"):
        if any(c in v for c in w[:-2]):
            w = w[:-1]

    if w in _P2_EXCEPTIONS2:
        return w

    # Step 1b
    m = among(w, _P2_STEP1B)
    if m is not None:
        start, ee = m
        if ee:
            if start >= r1:
                w = w[:start] + ee
        elif any(c in v for c in w[:start]):
            w = w[:start]
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif w.endswith(_P2_DOUBLES):
                w = w[:-1]
            elif _p2_is_short(w, r1):
                w += "e"

    # Step 1c
    if len(w) > 2 and w[-1] in "yY" and w[-2] not in v:
        w = w[:-1] + "i"

    # Step 2 (longest suffix, in R1)
    m = among(w, _P2_STEP2, gate=r1)
    if m is not None:
        start, rep = m
        if rep == "og":
            if start >= 1 and w[start - 1] == "l":
                w = w[:start] + rep
        elif rep == "li":
            if start >= 1 and w[start - 1] in _P2_LI_ENDING:
                w = w[:start]
        else:
            w = w[:start] + rep

    # Step 3 (in R1; 'ative' in R2)
    m = among(w, _P2_STEP3, gate=r1)
    if m is not None and (m[0] >= r2 or not w.endswith("ative")):
        w = w[:m[0]] + m[1]

    # Step 4 (in R2)
    m = among(w, _P2_STEP4, gate=r2)
    if m is not None and (not w.endswith("ion") or w[m[0] - 1] in "st"):
        w = w[:m[0]]

    # Step 5
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (
            len(w) - 1 >= r1 and not _p2_short_syllable(w, len(w) - 2)
        ):
            w = w[:-1]
    elif w.endswith("l"):
        if len(w) - 1 >= r2 and len(w) >= 2 and w[-2] == "l":
            w = w[:-1]

    return w.replace("Y", "y")


@lru_cache(maxsize=64)
def get_stemmer(lang: str):
    """Return a str->str stem function for `lang`.

    Unknown language falls back to english (reference:
    text_analysis.clj:47-49 logs+defaults to English).
    """
    lang = (lang or "english").lstrip(":").lower()
    if lang not in _STEMMERS:
        logger.debug("Unknown stemmer %r; defaulting to english", lang)
        lang = "english"
    return _STEMMERS[lang]()


def _lazy(module: str, name: str):
    def load():
        import importlib

        return getattr(importlib.import_module(module, __package__), name)

    return load


# The one implementation per reference stemmer name (reference:
# src/beagle/text_analysis.clj:15-49); no name falls back to identity.
_STEMMERS = {
    "english": lambda: porter2_stem,
    "porter": lambda: porter_stem,
    "german": _lazy(".snowball_de", "german_stem"),
    "german2": _lazy(".snowball_de", "german2_stem"),
    "spanish": _lazy(".snowball_es", "spanish_stem"),
    "danish": _lazy(".snowball_scand", "danish_stem"),
    "norwegian": _lazy(".snowball_scand", "norwegian_stem"),
    "swedish": _lazy(".snowball_scand", "swedish_stem"),
    "dutch": _lazy(".snowball_nl", "dutch_stem"),
    "kp": _lazy(".snowball_nl", "kp_stem"),
    "russian": _lazy(".snowball_ru", "russian_stem"),
    "french": _lazy(".snowball_fr", "french_stem"),
    "italian": _lazy(".snowball_romance", "italian_stem"),
    "portuguese": _lazy(".snowball_romance", "portuguese_stem"),
    "catalan": _lazy(".snowball_romance", "catalan_stem"),
    "romanian": _lazy(".snowball_romance", "romanian_stem"),
    "lithuanian": _lazy(".snowball_balt", "lithuanian_stem"),
    "estonian": _lazy(".snowball_balt", "estonian_stem"),
    "finnish": _lazy(".snowball_fi_hu", "finnish_stem"),
    "hungarian": _lazy(".snowball_fi_hu", "hungarian_stem"),
    "turkish": _lazy(".snowball_misc", "turkish_stem"),
    "arabic": _lazy(".snowball_misc", "arabic_stem"),
    "armenian": _lazy(".snowball_misc", "armenian_stem"),
    "basque": _lazy(".snowball_misc", "basque_stem"),
    "irish": _lazy(".snowball_misc", "irish_stem"),
    "lovins": _lazy(".snowball_misc", "lovins_stem"),
}
_SNOWBALL_LANGS = _STEMMERS.keys()
