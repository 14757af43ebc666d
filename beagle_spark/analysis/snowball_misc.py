"""Snowball Turkish / Arabic / Armenian / Basque / Irish stemmers and
the Lovins stemmer, pure Python.

The turkish / arabic / armenian / basque / irish programs implement
the published Snowball algorithms exactly (reference:
src/beagle/text_analysis.clj:20-46) — each verified 100% behaviorally
equivalent to the Snowball 2.x implementations compiled into
PostgreSQL 15's dict_snowball.so (the same generated sources Lucene
8.x runs for the reference) on large probe vocabularies; see
DEVIATIONS.md §3 and tests/golden/. Lovins follows the classic 1968
longest-match design with the high-frequency ending subset and the
standard undouble/recode pass (no offline oracle exists for it).
"""

from __future__ import annotations

from .snowball_rt import (
    BackwardWord,
    after_vowel,
    among,
    among_prefix,
    compile_among,
    regions,
    replace_among,
    rv_spanish,
)
from .snowball_tables import (
    AR_NORM_PRE,
    EU_ADJ,
    EU_NOUN,
    EU_VERB,
    GA_DERIV,
    HY_ADJ,
    HY_ENDING,
    HY_NOUN,
    HY_VERB,
    GA_INIT,
    GA_NOUN,
    GA_VERB,
)

# ---------------------------------------------------------------------------
# Turkish — the published Snowball program (turkish.sbl, Çilden):
# multi-syllable guard, backward nominal-verb suffix machine then the
# noun-suffix machine (with the ki-chain), each mark routine pairing a
# suffix set with the two-vowel harmony check and optional buffer
# letters; finally last-consonant devoicing and the d/g vowel append.
# ---------------------------------------------------------------------------
_TR_VOWELS = frozenset("aeıioöuü")
_TR_HARMONY = {
    "a": "aıou", "e": "eiöü", "ı": "aı", "i": "ei",
    "o": "ou", "ö": "öü", "u": "ou", "ü": "öü",
}


def _tr_harmony(w: str) -> bool:
    """check_vowel_harmony: the word's last vowel must be preceded —
    at ANY distance (the published goto semantics) — by a vowel from
    its harmony set."""
    v1 = None
    i = len(w) - 1
    while i >= 0:
        if w[i] in _TR_VOWELS:
            v1 = w[i]
            break
        i -= 1
    if v1 is None:
        return False
    allowed = _TR_HARMONY[v1]
    i -= 1
    while i >= 0:
        if w[i] in allowed:
            return True
        i -= 1
    return False


def _tr_mark(w, sufs, harmony=True, buf=None):
    """Try a mark routine: returns the number of chars matched at the
    end of w, or None. `buf` handles the optional buffer letters:
    'y'/'n'/'s' consonants (valid only after a vowel; without the
    buffer the suffix must follow a non-vowel), 'U' vowel (valid only
    after a consonant; without it the core must follow a vowel)."""
    if harmony and not _tr_harmony(w):
        return None
    m = among(w, sufs)
    if m is None:
        return None
    n = len(w) - m[0]
    rest = w[:m[0]]
    if buf is None:
        return n
    if buf == "U":
        # ('U' test non-v) or (next test non-v)
        if rest and rest[-1] in "ıiuü" and len(rest) >= 2 and rest[-2] not in _TR_VOWELS:
            return n + 1
        if len(rest) >= 2 and rest[-2] not in _TR_VOWELS:
            return n
        return None
    if buf == "V":
        # n-initial case suffixes: the n plays the buffer role, so a
        # vowel must precede it and a consonant precede that vowel
        if len(rest) >= 2 and rest[-1] in _TR_VOWELS and rest[-2] not in _TR_VOWELS:
            return n
        return None
    if buf == "ki":
        if rest and (rest[-1] in _TR_VOWELS or rest[-1] == "n"):
            return n
        return None
    if buf == "s_opt":
        # ('s' test vowel) or no condition
        if rest.endswith("s") and len(rest) >= 2 and rest[-2] in _TR_VOWELS:
            return n + 1
        return n
    # consonant buffers y/n/s: ('X' test vowel) or (next test vowel)
    if rest.endswith(buf):
        if len(rest) >= 2 and rest[-2] in _TR_VOWELS:
            return n + 1
        return None
    if len(rest) >= 2 and rest[-2] in _TR_VOWELS:
        return n
    return None


# mark routines: (suffixes, harmony, buffer)
_TR_MARKS = {
    "lAr": (("lar", "ler"), True, None),
    "ncA": (("ca", "ce"), True, "n"),
    "ndA": (("nda", "nde"), True, "V"),
    "nA": (("na", "ne"), True, "V"),
    "ndAn": (("ndan", "nden"), True, "V"),
    "nU": (("nı", "ni", "nu", "nü"), True, "V"),
    "nUn": (("ın", "in", "un", "ün"), True, "n"),
    "nUz": (("nız", "niz", "nuz", "nüz"), True, "V"),
    "DA": (("da", "de", "ta", "te"), True, None),
    "DAn": (("dan", "den", "tan", "ten"), True, None),
    "DUr": (("dır", "dir", "dur", "dür", "tır", "tir", "tur", "tür"), True, None),
    "lArI": (("ları", "leri"), False, None),
    "sU": (("ı", "i", "u", "ü"), True, "s"),
    "sU_cont": (("ı", "i", "u", "ü"), False, "s_opt"),
    "sUn": (("sın", "sin", "sun", "sün"), True, None),
    "sUnUz": (("sınız", "siniz", "sunuz", "sünüz"), True, None),
    "possessives": (("mız", "miz", "muz", "müz", "nız", "niz", "nuz", "nüz",
                     "m", "n"), False, "U"),
    "yA": (("a", "e"), True, "y"),
    "ylA": (("la", "le"), True, "y"),
    "yU": (("ı", "i", "u", "ü"), True, "y"),
    "yUm": (("ım", "im", "um", "üm"), True, "y"),
    "yUz": (("ız", "iz", "uz", "üz"), True, "y"),
    "yDU": (tuple(d + v for d in "dt" for v in "ıiuü")
            + tuple(d + v + c for d in "dt" for v in "ıiuü" for c in "kmn"),
            True, "y"),
    "ysA": (("sa", "se", "sak", "sek", "sam", "sem", "san", "sen"), False, "y"),
    "ymUs_": (("mış", "miş", "muş", "müş"), True, "y"),
    "yken": (("ken",), False, "y"),
    "ki": (("ki",), False, "ki"),
    "cAsInA": (("casına", "cesine"), False, None),
}

# each mark's suffix set, compiled for the shared `among` search
_TR_MARKS = {name: (compile_among(sufs), harmony, buf)
             for name, (sufs, harmony, buf) in _TR_MARKS.items()}


def _m(w, name):
    sufs, harmony, buf = _TR_MARKS[name]
    return _tr_mark(w, sufs, harmony, buf)


def _tr_nominal_verb(w: str) -> tuple[str, bool]:
    """Returns (stemmed word, continue_with_noun_suffixes)."""
    for name in ("ymUs_", "yDU", "ysA", "yken"):
        n = _m(w, name)
        if n:
            return w[:-n], True
    n = _m(w, "cAsInA")
    if n:
        w2 = w[:-n]
        hit = False
        for name in ("sUnUz", "lAr", "yUm", "sUn", "yUz"):
            k = _m(w2, name)
            if k:
                w2, hit = w2[:-k], True
                break
        if hit:
            k = _m(w2, "ymUs_")
            if k:
                w2 = w2[:-k]
            return w2, True
        # bare -cAsInA: this alternative fails, later steps see w
    n = _m(w, "lAr")
    if n:
        w2 = w[:-n]
        for name in ("DUr", "yDU", "ysA", "ymUs_"):
            k = _m(w2, name)
            if k:
                w2 = w2[:-k]
                break
        return w2, None  # -lAr verb chain: no noun step, no postlude
    n = _m(w, "nUz")
    if n:
        w2 = w[:-n]
        for name in ("yDU", "ysA"):
            k = _m(w2, name)
            if k:
                return w2[:-k], True
        # nUz requires a following yDU/ysA; otherwise this
        # alternative fails and later ones see the original word
    for name in ("sUnUz", "yUz", "sUn", "yUm"):
        n = _m(w, name)
        if n:
            w2 = w[:-n]
            k = _m(w2, "ymUs_")
            if k:
                w2 = w2[:-k]
            return w2, True
    n = _m(w, "DUr")
    if n:
        w2 = w[:-n]
        saved = w2
        for name in ("sUnUz", "lAr", "yUm", "sUn", "yUz"):
            k = _m(w2, name)
            if k:
                w2 = w2[:-k]
                break
        k = _m(w2, "ymUs_")
        if k:
            w2 = w2[:-k]
        else:
            w2 = saved
        return w2, True
    return w, True


def _tr_ki_chain(w: str):
    """-ki and its continuations; returns stemmed word or None."""
    n = _m(w, "ki")
    if not n:
        return None
    w = w[:-n]
    matched_cont = False
    k = _m(w, "DA")
    if k:
        w2 = w[:-k]
        j = _m(w2, "lAr")
        if j:
            w3 = w2[:-j]
            cont = _tr_ki_chain(w3)
            return cont if cont is not None else w3
        j = _m(w2, "possessives")
        if j:
            w3 = w2[:-j]
            jj = _m(w3, "lAr")
            if jj:
                w4 = w3[:-jj]
                cont = _tr_ki_chain(w4)
                return cont if cont is not None else w4
            return w3
        return w2
    k = _m(w, "nUn")
    if k:
        w2 = w[:-k]
        j = _m(w2, "lArI")
        if j:
            return w2[:-j]
        j = _m(w2, "possessives")
        if j:
            w3 = w2[:-j]
            jj = _m(w3, "lAr")
            if jj:
                w4 = w3[:-jj]
                cont = _tr_ki_chain(w4)
                return cont if cont is not None else w4
            return w3
        cont = _tr_ki_chain(w2)
        return cont if cont is not None else w2
    k = _m(w, "ndA")
    if k:
        w2 = w[:-k]
        j = _m(w2, "lArI")
        if j:
            return w2[:-j]
        j = _m(w2, "sU_cont")
        if j:
            w3 = w2[:-j]
            jj = _m(w3, "lAr")
            if jj:
                w4 = w3[:-jj]
                cont = _tr_ki_chain(w4)
                return cont if cont is not None else w4
            return w3
        return w2
    # bare -ki with no case continuation: the chain fails entirely
    return None


def _tr_noun_suffixes(w: str) -> str:
    # alt: plain -lAr (stops)
    n = _m(w, "lAr")
    if n:
        return w[:-n]
    # alt: -ncA
    n = _m(w, "ncA")
    if n:
        w2 = w[:-n]
        k = _m(w2, "lArI")
        if k:
            return w2[:-k]
        for name in ("possessives", "sU"):
            k = _m(w2, name)
            if k:
                w3 = w2[:-k]
                j = _m(w3, "lAr")
                if j:
                    w4 = w3[:-j]
                    cont = _tr_ki_chain(w4)
                    return cont if cont is not None else w4
                return w3
        k = _m(w2, "lAr")
        if k:
            w3 = w2[:-k]
            cont = _tr_ki_chain(w3)
            return cont if cont is not None else w3
        return w2
    # alt: -(n)dA / -(n)A
    for name in ("ndA", "nA"):
        n = _m(w, name)
        if n:
            w2 = w[:-n]
            k = _m(w2, "lArI")
            if k:
                return w2[:-k]
            k = _m(w2, "sU_cont")
            if k:
                w3 = w2[:-k]
                j = _m(w3, "lAr")
                if j:
                    w4 = w3[:-j]
                    cont = _tr_ki_chain(w4)
                    return cont if cont is not None else w4
                return w3
            cont = _tr_ki_chain(w2)
            if cont is not None:
                return cont
            return w2
    # alt: -(n)dAn / -nU
    for name in ("ndAn", "nU"):
        n = _m(w, name)
        if n:
            w2 = w[:-n]
            k = _m(w2, "sU_cont")
            if k:
                w3 = w2[:-k]
                j = _m(w3, "lAr")
                if j:
                    w4 = w3[:-j]
                    cont = _tr_ki_chain(w4)
                    return cont if cont is not None else w4
                return w3
            k = _m(w2, "lArI")
            if k:
                return w2[:-k]
            return w2
    # alt: -DAn
    n = _m(w, "DAn")
    if n:
        w2 = w[:-n]
        k = _m(w2, "possessives")
        if k:
            w3 = w2[:-k]
            j = _m(w3, "lAr")
            if j:
                w4 = w3[:-j]
                cont = _tr_ki_chain(w4)
                return cont if cont is not None else w4
            return w3
        k = _m(w2, "lAr")
        if k:
            w3 = w2[:-k]
            cont = _tr_ki_chain(w3)
            return cont if cont is not None else w3
        cont = _tr_ki_chain(w2)
        if cont is not None:
            return cont
        return w2
    # alt: -(n)Un / -ylA
    for name in ("nUn", "ylA"):
        n = _m(w, name)
        if n:
            w2 = w[:-n]
            k = _m(w2, "lAr")
            if k:
                w3 = w2[:-k]
                cont = _tr_ki_chain(w3)
                if cont is not None:
                    return cont
                j = _m(w3, "sU_cont")
                if j:
                    return w3[:-j]
                return w3
            for nm in ("possessives", "sU"):
                k = _m(w2, nm)
                if k:
                    w3 = w2[:-k]
                    j = _m(w3, "lAr")
                    if j:
                        w4 = w3[:-j]
                        cont = _tr_ki_chain(w4)
                        return cont if cont is not None else w4
                    return w3
            cont = _tr_ki_chain(w2)
            if cont is not None:
                return cont
            return w2
    # alt: -lArI
    n = _m(w, "lArI")
    if n:
        return w[:-n]
    # alt: ki chain directly
    cont = _tr_ki_chain(w)
    if cont is not None:
        return cont
    # alt: -DA / -yU / -sU / -yA
    for name in ("DA", "yU", "sU", "yA"):
        n = _m(w, name)
        if n:
            w2 = w[:-n]
            k = _m(w2, "possessives")
            if k:
                w3 = w2[:-k]
                j = _m(w3, "lAr")
                if j:
                    w4 = w3[:-j]
                    cont = _tr_ki_chain(w4)
                    return cont if cont is not None else w4
                return w3
            k = _m(w2, "lAr")
            if k:
                w3 = w2[:-k]
                cont = _tr_ki_chain(w3)
                return cont if cont is not None else w3
            return w2
    # alt: bare possessives
    n = _m(w, "possessives")
    if n:
        w2 = w[:-n]
        k = _m(w2, "lAr")
        if k:
            w3 = w2[:-k]
            cont = _tr_ki_chain(w3)
            return cont if cont is not None else w3
        return w2
    return w


def turkish_stem(word: str) -> str:
    w = word.lower()
    if sum(1 for c in w if c in _TR_VOWELS) < 2:
        return w
    w2, cont = _tr_nominal_verb(w)
    w = w2
    if cont is None:  # verb -lAr branch skips everything downstream
        return w
    if cont:
        w = _tr_noun_suffixes(w)
    # post-process: d/g vowel append first, then final devoicing
    if not w:  # a suffix chain consumed the entire word: keep it
        return word.lower()
    if w[-1] in "dg":
        lv = next((c for c in reversed(w) if c in _TR_VOWELS), None)
        if lv is not None:
            w += {"a": "ı", "ı": "ı", "e": "i", "i": "i",
                  "o": "u", "u": "u", "ö": "ü", "ü": "ü"}[lv]
    if w[-1] in "bcdğ":
        w = w[:-1] + {"b": "p", "c": "ç", "d": "t", "ğ": "k"}[w[-1]]
    return w


# ---------------------------------------------------------------------------
# Arabic — the published Snowball program (arabic.sbl): Checks1 sets
# noun/verb/definiteness flags from the article prefix, Normalize_pre
# folds diacritics / Arabic-Indic digits / presentation forms,
# backward suffix steps (verb paths first, with word-length
# conditions), forward prefix steps, then Normalize_post rewrites
# hamza carriers (final -> bare hamza, medial -> plain letter).
# ---------------------------------------------------------------------------
_AR_NORM_POST_FWD = {"\u0622": "\u0627", "\u0623": "\u0627", "\u0625": "\u0627",
                     "\u0624": "\u0648", "\u0626": "\u064a"}
_AR_FINAL_HAMZA = ("\u0622", "\u0623", "\u0624", "\u0625", "\u0626")

# result: the shortest word the suffix may be stripped from
_AR_VERB_S1 = compile_among([
    ("\u0647", 4), ("\u0643", 4), ("\u0643\u0645", 5), ("\u0647\u0645", 5),
    ("\u0643\u0646", 5), ("\u0647\u0646", 5), ("\u0646\u064a", 5),
    ("\u0646\u0627", 5), ("\u0647\u0627", 5), ("\u0643\u0645\u0648", 6),
    ("\u0643\u0645\u0627", 6), ("\u0647\u0645\u0627", 6)])
_AR_VERB_S2A = compile_among([
    ("\u0646", 4), ("\u064a", 4), ("\u0627", 4), ("\u062a", 4),
    ("\u062a\u0646", 5), ("\u0646\u0627", 5), ("\u062a\u0627", 5),
    ("\u0648\u0646", 6), ("\u064a\u0646", 6), ("\u0627\u0646", 6),
    ("\u062a\u0645\u0627", 6)])
_AR_VERB_S2B = compile_among(["\u062a\u0645", "\u0648\u0627"])
_AR_VERB_S2C = compile_among([("\u0648", 4), ("\u062a\u0645\u0648", 6)])
_AR_NOUN_S1A = compile_among([
    ("\u064a", 4), ("\u0643", 4), ("\u0647", 4), ("\u0643\u0645", 5),
    ("\u0647\u0645", 5), ("\u0647\u0646", 5), ("\u0646\u0627", 5),
    ("\u0647\u0627", 5), ("\u0643\u0645\u0627", 6),
    ("\u0647\u0645\u0627", 6)])
# Prefix_Step1 (doubled initial hamza), Prefix_Step3_Verb (future sa-)
# and Prefix_Step4_Verb (yst/nst/tst -> ist): prefix -> replacement
_AR_PRE_HAMZA = compile_among([
    ("\u0623\u0622", "\u0622"), ("\u0623\u0623", "\u0623"),
    ("\u0623\u0624", "\u0623"), ("\u0623\u0625", "\u0625"),
    ("\u0623\u0627", "\u0622")])
_AR_PRE_FUTURE = compile_among([
    ("\u0633\u064a", "\u064a"), ("\u0633\u062a", "\u062a"),
    ("\u0633\u0646", "\u0646"), ("\u0633\u0623", "\u0623")])
_AR_PRE_IST = compile_among(
    (p, "\u0627\u0633\u062a") for p in
    ("\u064a\u0633\u062a", "\u0646\u0633\u062a", "\u062a\u0633\u062a"))
# Normalize_pre maps single characters
_AR_NORM_PRE = AR_NORM_PRE[1][1]
_AR_S2A = ("\u0627", "\u064a", "\u0648")


def _ar_strip(w: str, table) -> str | None:
    """Delete the longest suffix from `table` if the word is at least
    as long as the entry's result."""
    m = among(w, table)
    if m is None or len(w) < m[1]:
        return None
    return w[:m[0]]


def _ar_verb_suffixes(w: str) -> str | None:
    """The verb suffix steps; None when none applies."""
    hit1 = False
    while (w2 := _ar_strip(w, _AR_VERB_S1)) is not None:
        # stacked object pronouns strip repeatedly
        w, hit1 = w2, True
    if hit1:
        w2 = _ar_strip(w, _AR_VERB_S2A)
        return w2 if w2 is not None else _ar_strip(w, _AR_VERB_S2C) or w
    m = among(w, _AR_VERB_S2B)
    if m is not None and len(w) >= 5:
        return w[:m[0]]
    return _ar_strip(w, _AR_VERB_S2A)


def _ar_noun_step2(w: str) -> str:
    """Suffix_Noun_Step2a (alef/yeh/waw), else 2b/2c (at, t)."""
    if w.endswith(_AR_S2A) and len(w) >= 5:
        return w[:-1]
    if w.endswith("\u0627\u062a") and len(w) >= 5:
        return w[:-2]
    if w.endswith("\u062a") and len(w) >= 4:
        return w[:-1]
    return w


def _ar_noun_suffixes(w: str, is_defined: bool) -> tuple[str, bool]:
    """The noun suffix steps; also reports whether Step3 (final yeh)
    ran."""
    if w.endswith("\u0629") and len(w) >= 4:
        w = w[:-1]
    else:
        w2 = None if is_defined else _ar_strip(w, _AR_NOUN_S1A)
        if w2 is None and w.endswith("\u0646") and len(w) > 5:
            w2 = w[:-1]
        if w2 is not None:
            w = _ar_noun_step2(w2)
        elif not is_defined and w.endswith(_AR_S2A) and len(w) >= 5:
            w = w[:-1]
        elif w.endswith("\u0627\u062a") and len(w) >= 5:
            w = w[:-2]
    if w.endswith("\u064a") and len(w) >= 3:
        return w[:-1], True
    return w, False


def arabic_stem(word: str) -> str:
    w = word
    is_noun = is_verb = True
    is_defined = False

    # Checks1: article prefix fixes the part of speech
    if w.startswith(("\u0628\u0627\u0644", "\u0643\u0627\u0644")):
        if len(w) > 4:
            is_noun, is_verb, is_defined = True, False, True
    elif w.startswith(("\u0627\u0644", "\u0644\u0644")):
        if len(w) > 3:
            is_noun, is_verb, is_defined = True, False, True

    # Normalize_pre: per-char fold (delete diacritics/tatweel, map
    # Arabic-Indic digits, canonicalize presentation forms)
    digits = "0123456789"
    canon = ["", "", "", "", "", "", "", "", "", "", "", "\u0621",
             "\u0623", "\u0625", "\u0626", "\u0622", "\u0624", "\u0627",
             "\u0628", "\u0629", "\u062a", "\u062b", "\u062c", "\u062d",
             "\u062e", "\u062f", "\u0630", "\u0631", "\u0632", "\u0633",
             "\u0634", "\u0635", "\u0636", "\u0637", "\u0638", "\u0639",
             "\u063a", "\u0641", "\u0642", "\u0643", "\u0644", "\u0645",
             "\u0646", "\u0647", "\u0648", "\u0649", "\u064a",
             "\u0644\u0627", "\u0644\u0623", "\u0644\u0625",
             "\u0644\u0622"]
    out = []
    for ch in w:
        res = _AR_NORM_PRE.get(ch)
        if res is None or ch in _AR_FINAL_HAMZA:
            # hamza carriers pass through here; the leading entries of
            # the extracted table belong to the backward final-hamza
            # among, not Normalize_pre
            out.append(ch)
        elif res == 1:
            pass  # tatweel / harakat deleted
        elif 2 <= res <= 11:
            out.append(digits[res - 2])
        else:
            out.append(canon[res - 1])
    w = "".join(out)

    # ---- backward suffix steps ----
    w2 = _ar_verb_suffixes(w) if is_verb else None
    if w2 is not None:
        w = w2
    else:
        step3 = False
        if is_noun:
            w, step3 = _ar_noun_suffixes(w, is_defined)
        # alef maqsura -> yeh: the or-alternative of Suffix_Noun_Step3
        if not step3 and w.endswith("\u0649"):
            w = w[:-1] + "\u064a"

    # ---- forward prefix steps ----
    # Forward-mode cursor persists across steps: a replacement leaves
    # the cursor after the inserted text, so later steps match the
    # remainder (e.g. Prefix_Step3b can strip a preposition exposed
    # by Prefix_Step1's hamza folding).
    c = 0
    # Prefix_Step1: doubled initial hamza
    m = among_prefix(w, _AR_PRE_HAMZA) if len(w) > 3 else None
    if m is not None:
        w = m[1] + w[m[0]:]
        c = len(m[1])
    # Prefix_Step2: conjunction fa/waw (not before alef)
    if len(w) > 3 and w[c:c + 1] in ("\u0641", "\u0648") and w[c + 1:c + 2] != "\u0627":
        w = w[:c] + w[c + 1:]
    # Prefix_Step3: article / preposition / verb-future prefixes
    rest = w[c:]
    done3 = False
    if rest.startswith(("\u0628\u0627\u0644", "\u0643\u0627\u0644")):
        if len(w) > 5:
            w, done3 = w[:c] + rest[3:], True
    elif rest.startswith(("\u0627\u0644", "\u0644\u0644")):
        if len(w) > 4:
            w, done3 = w[:c] + rest[2:], True
    if not done3 and is_noun and len(w) > 3:
        if rest.startswith("\u0628\u0628"):
            w, done3 = w[:c] + "\u0628" + rest[2:], True
            c += 1
        elif rest.startswith("\u0643\u0643"):
            w, done3 = w[:c] + "\u0643" + rest[2:], True
            c += 1
        elif rest.startswith("\u0628") and not rest.startswith("\u0628\u0627"):
            w, done3 = w[:c] + rest[1:], True
    if not done3 and is_verb and len(w) > 4:
        m = among_prefix(w, _AR_PRE_FUTURE, c)
        if m is not None:
            w = w[:c] + m[1] + w[m[0]:]
            c += len(m[1])
        if m is None or len(w) > 4:
            m = among_prefix(w, _AR_PRE_IST, c)
            if m is not None:
                w = w[:c] + m[1] + w[m[0]:]

    # ---- Normalize_post ----
    if w and w.endswith(_AR_FINAL_HAMZA):
        w = w[:-1] + "\u0621"
    w = "".join(_AR_NORM_POST_FWD.get(c, c) for c in w)
    # a fully-normalized-away input (diacritics only) keeps its form,
    # matching the dictionary-level behavior of the reference stack
    return w if w else word


# ---------------------------------------------------------------------------
# Armenian — the published Snowball program (armenian.sbl):
# pV = after first vowel, p2 standard; backward-mode `do ending  do
# verb  do adjective  do noun`, all branches RV-gated deletes over the
# exact tables (snowball_tables.py).
# ---------------------------------------------------------------------------
_HY_VOWELS = frozenset("աեէըիոօւ")
_HY_R2_ACT = {1: ("R2", "")}
_HY_DEL_ACT = {1: (None, "")}


def armenian_stem(word: str) -> str:
    w = word.lower()
    bw = BackwardWord(w, after_vowel(w, _HY_VOWELS), 0, regions(w, _HY_VOWELS)[1])
    bw.step(HY_ENDING, _HY_R2_ACT, setlimit="RV")
    bw.step(HY_VERB, _HY_DEL_ACT, setlimit="RV")
    bw.step(HY_ADJ, _HY_DEL_ACT, setlimit="RV")
    bw.step(HY_NOUN, _HY_DEL_ACT, setlimit="RV")
    return str(bw)


# ---------------------------------------------------------------------------
# Basque — the published Snowball program (basque.sbl): spanish-style
# pV/p1/p2 regions, then backward-mode `repeat aditzak  repeat izenak
# do adjetiboak` with a persistent cursor (stripping is strictly
# nested: after a match, later matching continues on the remaining
# left part only). Tables transcribed exactly (snowball_tables.py).
# ---------------------------------------------------------------------------
_EU_VOWELS = frozenset("aeiou")

# action branches per result code: (region gate, replacement)
_EU_VERB_ACT = {
    1: ("RV", ""), 2: ("R2", ""), 3: (None, "atseden"),
    4: (None, "arabera"), 5: (None, "baditu"),
}
_EU_NOUN_ACT = {
    1: ("RV", ""), 2: ("R2", ""), 3: (None, "jok"), 4: ("R1", ""),
    5: (None, "tra"), 6: (None, "minutu"), 7: (None, "zehar"),
    8: (None, "geldi"), 9: (None, "igaro"), 10: ("RV", "aur"),
}
_EU_ADJ_ACT = {1: ("RV", ""), 2: (None, "z")}


def basque_stem(word: str) -> str:
    w = word.lower()
    bw = BackwardWord(w, rv_spanish(w, _EU_VOWELS), *regions(w, _EU_VOWELS))
    bw.repeat(EU_VERB, _EU_VERB_ACT)
    bw.repeat(EU_NOUN, _EU_NOUN_ACT)
    bw.step(EU_ADJ, _EU_ADJ_ACT)
    return str(bw)


# ---------------------------------------------------------------------------
# Irish — the published Snowball program (irish.sbl): forward-mode
# initial_morph rewrites eclipsis/lenition/prevocalic prefixes, then
# backward-mode noun_sfx / deriv / verb_sfx once each over exact
# tables (snowball_tables.py). pV = after first vowel; p1/p2 standard.
# ---------------------------------------------------------------------------
_GA_VOWELS = frozenset("aeiouáéíóú")

# initial_morph replacements per result code (prefix -> replacement)
_GA_INIT_ACT = {
    1: "", 2: "f", 3: "s", 4: "b", 5: "c",
    6: "d", 7: "g", 8: "p", 9: "t", 10: "m",
}
_GA_NOUN_ACT = {
    1: ("R2", ""), 2: (None, "arc"), 3: (None, "gin"),
    4: (None, "graf"), 5: (None, "paite"), 6: (None, "óid"),
}
_GA_DERIV_ACT = {1: ("R1", ""), 2: ("R2", "")}
_GA_VERB_ACT = {1: ("RV", ""), 2: ("R1", "")}


def irish_stem(word: str) -> str:
    w = word.lower()
    m = among_prefix(w, GA_INIT)
    if m is not None:
        w = _GA_INIT_ACT[m[1]] + w[m[0]:]
    bw = BackwardWord(w, after_vowel(w, _GA_VOWELS), *regions(w, _GA_VOWELS))
    bw.step(GA_NOUN, _GA_NOUN_ACT)
    bw.step(GA_DERIV, _GA_DERIV_ACT)
    bw.step(GA_VERB, _GA_VERB_ACT)
    return str(bw)


# ---------------------------------------------------------------------------
# Lovins (1968)
# ---------------------------------------------------------------------------
# High-frequency subset of the 294 endings with their conditions; the
# minimum-stem-length-2 rule applies throughout (condition A). The
# full table's rare endings mostly overlap these via longest-match.
_LOVINS_ENDINGS = compile_among(
    [
        "alistically", "arizability", "izationally",
        "antialness", "arisations", "arizations", "entialness",
        "allically", "antaneous", "antiality", "arisation", "arization",
        "ationally", "ativeness", "eableness", "entations", "entiality",
        "entialize", "entiation", "ionalness", "istically", "itousness",
        "izability", "izational",
        "ableness", "arizable", "entation", "entially", "eousness",
        "ibleness", "icalness", "ionalism", "ionality", "ionalize",
        "iousness", "izations", "lessness",
        "ability", "aically", "alistic", "alities", "ariness",
        "aristic", "arizing", "ateness", "atingly", "ational", "atively",
        "ativism", "elihood", "encible", "entally", "entials", "entiate",
        "entness", "fulness", "ibility", "icalism", "icalist", "icality",
        "icalize", "ication", "icianry", "ination", "ingness", "ionally",
        "isation", "ishness", "istical", "iteness", "iveness", "ivistic",
        "ivities", "ization", "izement", "oidally", "ousness",
        "aceous", "acious", "action", "alness", "ancial", "ancies",
        "ancing", "ariser", "arized", "arizer", "atable", "ations",
        "atives", "eature", "efully", "encies", "encing", "ential",
        "enting", "entist", "eously", "ialist", "iality", "ialize",
        "ically", "icance", "icians", "icists", "ifully", "ionals",
        "ionate", "ioning", "ionist", "iously", "istics", "izable",
        "lessly", "nesses", "oidism",
        "acies", "acity", "aging", "aical", "alist", "alism", "ality",
        "alize", "allic", "anced", "ances", "antic", "arial", "aries",
        "arily", "arity", "arize", "aroid", "ately", "ating", "ation",
        "ative", "ators", "atory", "ature", "early", "ehood", "eless",
        "elity", "ement", "enced", "ences", "eness", "ening", "ental",
        "ented", "ently", "fully", "ially", "icant", "ician", "icide",
        "icism", "icist", "icity", "idine", "iedly", "ihood", "inate",
        "iness", "ingly", "inism", "inity", "ional", "ioned", "ished",
        "istic", "ities", "itous", "ively", "ivity", "izers", "izing",
        "oidal", "oides", "otide", "ously",
        "able", "ably", "ages", "ally", "ance", "ancy", "ants", "aric",
        "arly", "ated", "ates", "atic", "ator", "ealy", "edly", "eful",
        "eity", "ence", "ency", "ened", "enly", "eous", "hood", "ials",
        "ians", "ible", "ibly", "ical", "ides", "iers", "iful", "ines",
        "ings", "ions", "ious", "isms", "ists", "itic", "ized", "izer",
        "less", "lily", "ness", "ogen", "ward", "wise", "ying", "yish",
        "acy", "age", "aic", "als", "ant", "ars", "ary", "ata", "ate",
        "eal", "ear", "ely", "ene", "ent", "ery", "ese", "ful", "ial",
        "ian", "ics", "ide", "ied", "ier", "ies", "ily", "ine", "ing",
        "ion", "ish", "ism", "ist", "ite", "ity", "ium", "ive", "ize",
        "oid", "one", "ous",
        "ae", "al", "ar", "as", "ed", "en", "es", "ia", "ic", "is",
        "ly", "on", "or", "um", "us", "yl",
        "a", "e", "i", "o", "s", "y",
    ]
)
# Recode/transformation rules (rule 1 undouble + the common recodings)
_LOVINS_RECODE = compile_among([
    ("iev", "ief"), ("uct", "uc"), ("umpt", "um"), ("rpt", "rb"),
    ("urs", "ur"), ("istr", "ister"), ("metr", "meter"), ("olv", "olut"),
    ("ul", "l"), ("bex", "bic"), ("dex", "dic"), ("pex", "pic"),
    ("tex", "tic"), ("ax", "ac"), ("ex", "ec"), ("ix", "ic"),
    ("lux", "luc"), ("uad", "uas"), ("vad", "vas"), ("cid", "cis"),
    ("lid", "lis"), ("erid", "eris"), ("pand", "pans"), ("end", "ens"),
    ("ond", "ons"), ("lud", "lus"), ("rud", "rus"), ("her", "hes"),
    ("mit", "mis"), ("ent", "ens"), ("ert", "ers"), ("et", "es"),
    ("yt", "ys"), ("yz", "ys"),
])


def lovins_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 2:
        return w
    # longest ending that leaves a stem of at least 2 letters
    w = replace_among(w, _LOVINS_ENDINGS, limit=2) or w
    # rule 1: undouble a final double consonant (bb dd gg ll mm nn pp rr ss tt)
    if (
        len(w) >= 2
        and w[-1] == w[-2]
        and w[-1] in "bdglmnprst"
    ):
        w = w[:-1]
    return replace_among(w, _LOVINS_RECODE) or w
