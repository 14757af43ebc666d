"""Snowball Finnish and Hungarian stemmers, pure Python.

Finnish is implemented from the published algorithm specification
(snowballstem.org/algorithms/finnish/stemmer.html) — the program
Lucene runs for the reference's `:finnish` stemmer (reference:
src/beagle/text_analysis.clj:29). Hungarian follows the published
program's structure (R1 case/possessive/plural removal with
á->a / é->e normalization); suffix tables reconstructed from the spec
(documented deviation for rare forms).
"""

from __future__ import annotations

from .snowball_rt import after_vowel, among, compile_among, regions, replace_among

# ---------------------------------------------------------------------------
# Finnish
# ---------------------------------------------------------------------------
_FI_VOWELS = frozenset("aeiouyäö")
_FI_LV = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")

# Every step is a setlimit among (R1, or R2 for step 4 and the plural
# tail). Step 1: particles need n/t/vowel before them; 'sti' needs R2.
_FI_STEP1 = compile_among(["kin", "kaan", "kään", "ko", "kö", "han", "hän",
                           "pa", "pä", "sti"])
_FI_POSS = compile_among(["si", "ni", "nsa", "nsä", "mme", "nne", "an", "än", "en"])


def _fi_vi(w: str, i: int) -> bool:
    """Condition of siin/den/tten: preceded by a vowel then 'i'."""
    return i >= 2 and w[i - 1] == "i" and w[i - 2] in _FI_VOWELS


def _fi_lv(w: str, i: int) -> bool:
    """Condition of seen: preceded by a long vowel."""
    return i >= 2 and w[i - 2:i] in _FI_LV


# Step 3 results: illatives need their own vowel before them
_FI_ILLATIVE = {"han": "a", "hen": "e", "hin": "i", "hon": "o", "hän": "ä", "hön": "ö"}
_FI_CASES = compile_among(
    list(_FI_ILLATIVE.items())
    + [("siin", "", _fi_vi), ("den", "", _fi_vi), ("tten", "", _fi_vi),
       ("seen", "", _fi_lv)]
    + ["tta", "ttä", "a", "ä", "n"]
    + ["ssa", "ssä", "sta", "stä", "lla", "llä", "lta", "ltä", "lle",
       "na", "nä", "ksi", "ine", "ta", "tä"]
)
_FI_OTHER = compile_among(["impi", "impa", "impä", "immi", "imma", "immä",
                           "mpi", "mpa", "mpä", "mmi", "mma", "mmä", "eja", "ejä"])
_FI_PLURAL_MMA = compile_among(["imma", "mma"])


def finnish_stem(word: str) -> str:
    w = word.lower()
    r1, r2 = regions(w, _FI_VOWELS)

    # Step 1: particles (preceded by n/t/vowel) or -sti (R2)
    m = among(w, _FI_STEP1, limit=r1)
    if m is not None:
        i = m[0]
        if w.endswith("sti"):
            if i >= r2:
                w = w[:i]
        elif i >= 1 and w[i - 1] in "ntaeiouyäö":
            w = w[:i]

    # Step 2: possessives
    m = among(w, _FI_POSS, limit=r1)
    if m is not None:
        i = m[0]
        suf, stem = w[i:], w[:i]
        if suf == "si":
            if len(w) < 3 or w[-3] != "k":
                w = stem
        elif suf == "ni":
            w = stem
            if w.endswith("kse"):
                w = w[:-1] + "i"
        elif suf in ("nsa", "nsä", "mme", "nne"):
            w = stem
        elif suf == "an":
            if stem.endswith(("ta", "ssa", "sta", "lla", "lta", "na")):
                w = stem
        elif suf == "än":
            if stem.endswith(("tä", "ssä", "stä", "llä", "ltä", "nä")):
                w = stem
        elif stem.endswith(("lle", "ine")):  # en
            w = stem

    # Step 3: case endings
    step3_removed = False
    m = among(w, _FI_CASES, limit=r1)
    if m is not None:
        i, res = m
        suf = w[i:]
        if res:  # illative
            if i >= 1 and w[i - 1] == res:
                w, step3_removed = w[:i], True
        elif suf in ("tta", "ttä"):
            if i >= 1 and w[i - 1] == "e":
                w, step3_removed = w[:i], True
        elif suf in ("a", "ä"):
            # preceded by cons + vowel (cv)
            if i >= 2 and w[i - 1] in _FI_VOWELS and w[i - 2] not in _FI_VOWELS:
                w, step3_removed = w[:i], True
        elif suf == "n":
            w, step3_removed = w[:-1], True
            if w[-2:] == "ie" or w[-2:] in _FI_LV:
                w = w[:-1]
        else:  # siin/den/tten/seen and the plain case suffixes
            w, step3_removed = w[:i], True

    # Step 4: comparatives/other in R2
    m = among(w, _FI_OTHER, limit=r2)
    if m is not None:
        i = m[0]
        if not (w.startswith(("mp", "mm"), i) and w[:i].endswith("po")):
            w = w[:i]

    # Step 5: plurals
    if step3_removed:
        if w and w[-1] in "ij" and len(w) - 1 >= r1:
            w = w[:-1]
    elif w.endswith("t") and len(w) - 1 >= r1 and len(w) >= 2 and w[-2] in _FI_VOWELS:
        w = w[:-1]
        m = among(w, _FI_PLURAL_MMA, limit=r2)
        if m is not None and (w.endswith("imma") or not w[:m[0]].endswith("po")):
            w = w[:m[0]]

    # Step 6: tidy
    if len(w) >= 2 and w[-2:] in _FI_LV and len(w) - 1 >= r1:
        w = w[:-1]
    # final a/ä/e/i after a consonant; the setlimit applies to the
    # consonant test too, so that char must itself sit in R1
    if (w and w[-1] in "aäei" and len(w) >= 2
            and w[-2] not in _FI_VOWELS and len(w) - 2 >= r1):
        w = w[:-1]
    if w.endswith(("oj", "uj")) and len(w) - 2 >= r1:
        w = w[:-1]
    if w.endswith("jo") and len(w) - 2 >= r1:
        w = w[:-1]
    # undouble a final double consonant (even before trailing vowels)
    i = len(w)
    while i > 0 and w[i - 1] in _FI_VOWELS:
        i -= 1
    if i >= 2 and w[i - 1] == w[i - 2] and w[i - 1] not in _FI_VOWELS:
        w = w[: i - 1] + w[i:]
    return w


# ---------------------------------------------------------------------------
# Hungarian — published Snowball program structure
# (snowballstem.org/algorithms/hungarian/stemmer.html): R1 with the
# word-initial-vowel/digraph rule, then the nine steps in program
# order: instrumental (with consonant undoubling), frequent cases with
# á->a/é->e restoration, special cases, 'stul' cases, factive (with
# undoubling), owned, singular-owner, plural-owner, plural. Every step
# is a gated among: the longest entry is chosen first and a match
# outside R1 fails the step.
# ---------------------------------------------------------------------------
_HU_VOWELS = frozenset("aáeéiíoóöőuúüű")
_HU_DIGRAPHS = ("dzs", "cs", "dz", "gy", "ly", "ny", "sz", "ty", "zs")

# double consonants (digraph doubles spelled with the first letter
# repeated: ccs = cs+cs etc.); undoubling removes the repeated letter
_HU_DOUBLES = compile_among((d, d[1:]) for d in (
    "ccs", "ggy", "lly", "nny", "ssz", "tty", "zzs",
    "bb", "cc", "dd", "ff", "gg", "jj", "kk", "ll", "mm", "nn",
    "pp", "rr", "ss", "tt", "vv", "zz",
))
# -al/-el (instrumental) and -á/-é (factive) after a double consonant
_HU_INSTRUMENTAL = compile_among(["al", "el"])
_HU_FACTIVE = compile_among(["á", "é"])

_HU_CASES = compile_among([
    "ban", "ben", "ba", "be", "ra", "re", "nak", "nek", "val", "vel",
    "tól", "től", "ról", "ről", "ból", "ből", "hoz", "hez", "höz",
    "nál", "nél", "ig", "at", "et", "ot", "öt", "ért", "képp",
    "képpen", "kor", "ul", "ül", "vá", "vé", "onként", "enként",
    "anként", "ként", "en", "on", "an", "ön", "n", "t",
])

# suffix -> replacement ('' = delete, 'a'/'e' = accent restoration)
_HU_CASE_SPECIAL = compile_among([("ánként", "a"), ("én", "e"), ("án", "a")])
_HU_CASE_OTHER = compile_among([
    ("ástul", "a"), ("éstül", "e"),
    ("astul", ""), ("estül", ""), ("stul", ""), ("stül", ""),
])
_HU_OWNED = compile_among([
    ("áéi", "a"), ("ééi", "e"), ("éi", ""),
    ("áké", "a"), ("éké", "e"),
    ("aké", ""), ("eké", ""), ("oké", ""), ("öké", ""),
    ("ké", ""), ("éé", "e"), ("é", ""),
])
_HU_SING_OWNER = compile_among([
    ("ánk", "a"), ("énk", "e"), ("unk", ""), ("ünk", ""), ("nk", ""),
    ("ájuk", "a"), ("éjük", "e"), ("juk", ""), ("jük", ""),
    ("uk", ""), ("ük", ""),
    ("ám", "a"), ("ém", "e"), ("am", ""), ("em", ""), ("om", ""), ("m", ""),
    ("ád", "a"), ("éd", "e"), ("ad", ""), ("ed", ""), ("od", ""),
    ("öd", ""), ("d", ""),
    ("ja", ""), ("je", ""),
    ("a", ""), ("e", ""), ("o", ""), ("á", "a"), ("é", "e"),
])
_HU_PLUR_OWNER = compile_among([
    ("jaitok", ""), ("jeitek", ""), ("áitok", "a"), ("éitek", "e"),
    ("aitok", ""), ("eitek", ""), ("itek", ""),
    ("jaink", ""), ("jeink", ""), ("áink", "a"), ("éink", "e"),
    ("aink", ""), ("eink", ""), ("ink", ""),
    ("jaim", ""), ("jeim", ""), ("áim", "a"), ("éim", "e"),
    ("aim", ""), ("eim", ""), ("im", ""),
    ("jaid", ""), ("jeid", ""), ("áid", "a"), ("éid", "e"),
    ("aid", ""), ("eid", ""), ("id", ""),
    ("jaik", ""), ("jeik", ""), ("áik", "a"), ("éik", "e"),
    ("aik", ""), ("eik", ""), ("ik", ""),
    ("jai", ""), ("jei", ""), ("ái", "a"), ("éi", "e"),
    ("ai", ""), ("ei", ""), ("i", ""),
])
_HU_PLURAL = compile_among([
    ("ák", "a"), ("ék", "e"),
    ("ök", ""), ("ok", ""), ("ek", ""), ("ak", ""), ("k", ""),
])


def _hu_r1(w: str) -> int:
    n = len(w)
    if not w:
        return 0
    if w[0] in _HU_VOWELS:
        # after the first consonant (a digraph counts as one consonant)
        i = 1
        while i < n:
            if w[i] not in _HU_VOWELS:
                for d in _HU_DIGRAPHS:
                    if w.startswith(d, i):
                        return i + len(d)
                return i + 1
            i += 1
        return n
    # starts with consonant: after the first vowel
    return after_vowel(w, _HU_VOWELS, 1)


def _hu_undouble_step(w: str, r1: int, table) -> str | None:
    """Delete a gated suffix that follows a double consonant, then
    undouble it."""
    m = among(w, table, gate=r1)
    if m is None:
        return None
    return replace_among(w[:m[0]], _HU_DOUBLES)


def _hu_v_ending(w: str, r1: int) -> str:
    if w.endswith("á") and len(w) - 1 >= r1:
        return w[:-1] + "a"
    if w.endswith("é") and len(w) - 1 >= r1:
        return w[:-1] + "e"
    return w


def hungarian_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 2:
        return w
    r1 = _hu_r1(w)

    # 1. instrumental case: -al/-el after a double consonant; undouble
    w = _hu_undouble_step(w, r1, _HU_INSTRUMENTAL) or w

    # 2. frequent cases, then á/é restoration
    w2 = replace_among(w, _HU_CASES, gate=r1)
    if w2 is not None:
        w = _hu_v_ending(w2, r1)
    # 3./4. special and 'stul' cases run regardless (each step is a
    # separate `do` in the published program); 4 only if 3 failed
    w = (replace_among(w, _HU_CASE_SPECIAL, gate=r1)
         or replace_among(w, _HU_CASE_OTHER, gate=r1) or w)

    # 5. factive case: -á/-é after a double consonant; undouble
    w = _hu_undouble_step(w, r1, _HU_FACTIVE) or w

    # 6. owned  7. singular owner  8. plural owner  9. plural
    for table in (_HU_OWNED, _HU_SING_OWNER, _HU_PLUR_OWNER, _HU_PLURAL):
        w = replace_among(w, table, gate=r1) or w
    return w
