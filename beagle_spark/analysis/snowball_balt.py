"""Snowball Lithuanian and Estonian stemmers, pure Python.

Implements the published Snowball programs' full phase structure for
the reference's `:lithuanian` and `:estonian` stemmers (reference:
src/beagle/text_analysis.clj:36,27; behavior pinned by
test/beagle/phrases_test.clj:198-242 — Kaunas/Kauno and
Sabonis/Saboniai collapse under :lithuanian; :estonian must NOT strip
the English plural of "dogs").

Lithuanian (snowballstem.org/algorithms/lithuanian/): standard R1;
backwards within R1: fix_conflicts (diminutive e-restoration so
vocatives/accusatives collapse with the nominative), step1 =
longest-match removal of the nominal/adjectival/pronominal endings of
the five declensions (incl. reflexive and illative forms), fix_chdz
(č→t, dž→d palatalization reversal), step2 = REPEATed removal of verb
endings, fix_chdz again, fix_gd (gd→g). Suffix tables transcribed
from the published program's declension/conjugation comments; rare
pronominal forms may differ (DEVIATIONS.md §3).

Estonian (snowballstem.org/algorithms/estonian/): whole-word
irregular-verb exception map first (joo/saa/too/... families), then
standard R1; backwards: emphasis clitic (-gi/-ki), then EITHER a verb
ending OR the nominal suite (special noun endings -mine/-lane/-line/
-kene normalization → case ending → plural/participle markers), then
kk/pp/tt undoubling. Single-letter endings require a preceding vowel
— this is also what keeps English "dogs" un-stemmed (the reference's
pinned behavior).
"""

from __future__ import annotations

from .snowball_rt import among, compile_among, gopast, regions, replace_among
from .snowball_tables import LT_STEP1, LT_STEP2

# ---------------------------------------------------------------------------
# Lithuanian
# ---------------------------------------------------------------------------
_LT_VOWELS = frozenset("aeiyouąęėįųū")

# fix_conflicts: restore nominative stems so vocative/diminutive forms
# collapse (exact table from lithuanian.sbl)
_LT_CONFLICTS = compile_among([
    ("okatės", "okatė"), ("okate", "okatė"),
    ("aitės", "aitė"), ("aite", "aitė"),
    ("uotės", "uotė"), ("uote", "uotė"),
    ("ėjime", "ėjimas"), ("ojime", "ojimas"), ("avime", "avimas"),
    ("esiu", "esys"), ("asius", "asys"),
])


def _fix_chdz(s: str) -> str:
    if s.endswith("č"):
        return s[:-1] + "t"
    if s.endswith("dž"):
        return s[:-2] + "d"
    return s


def lithuanian_stem(word: str) -> str:
    w = word.lower()
    # words starting with 'a' longer than 6 letters mark R1 from
    # position 1 (the published program's `'a' $(len > 6) hop 1`)
    r1 = gopast(w, _LT_VOWELS, 1 if (w.startswith("a") and len(w) > 6) else 0)

    # fix_conflicts (longest match, whole word scope)
    w = replace_among(w, _LT_CONFLICTS) or w

    # step1: one R1-limited longest-match removal
    m = among(w, LT_STEP1, limit=r1)
    if m is not None:
        w = w[:m[0]]
    w = _fix_chdz(w)

    # step2: repeated R1-limited longest-match removal
    while (m := among(w, LT_STEP2, limit=r1)) is not None:
        w = w[:m[0]]
    w = _fix_chdz(w)

    if w.endswith("gd"):
        w = w[:-1]

    return w


# ---------------------------------------------------------------------------
# Estonian
# ---------------------------------------------------------------------------
_ET_VOWELS = frozenset("aeiouõäöü")
_ET_LONGV = ("aa", "ee", "ii", "oo", "uu", "õõ", "ää", "öö", "üü")

# Whole-word irregular-verb exceptions (the published program's
# forward-mode exception among: monosyllabic long-vowel stems whose
# conjugated forms are not reachable by suffix stripping).
_ET_VERB_EXCEPTIONS = {}
for _stem, _forms in [
    ("joo", ["joon", "jood", "joob", "joome", "joote", "joovad",
             "juua", "juues", "joodud"]),
    ("saa", ["saan", "saad", "saab", "saame", "saate", "saavad",
             "saada", "saades", "saadud"]),
    ("too", ["toon", "tood", "toob", "toome", "toote", "toovad",
             "tuua", "tuues", "toodud"]),
    ("loo", ["loon", "lood", "loob", "loome", "loote", "loovad",
             "luua", "luues", "loodud"]),
    ("söö", ["söön", "sööd", "sööb", "sööme", "sööte", "söövad",
             "süüa", "süües", "söödud"]),
    ("jää", ["jään", "jääd", "jääb", "jääme", "jääte", "jäävad",
             "jääda", "jäädes"]),
    ("müü", ["müün", "müüd", "müüb", "müüme", "müüte", "müüvad",
             "müüa", "müües", "müüdud"]),
    ("käi", ["käin", "käid", "käib", "käime", "käite", "käivad",
             "käia", "käies", "käidud"]),
    ("vii", ["viin", "viid", "viib", "viime", "viite", "viivad",
             "viia", "viies", "viidud"]),
]:
    for _f in _forms:
        _ET_VERB_EXCEPTIONS[_f] = _stem

def _vowel_before(w: str, i: int) -> bool:
    return i >= 1 and w[i - 1] in _ET_VOWELS


# Verb endings (multi-letter, or single-letter gated on a preceding
# vowel). Bare 's'/'d' are intentionally NOT here: the nominal chain
# removes them with the same vowel condition, and claiming them as
# verb endings would stop the nominal chain from also stripping
# stacked case+plural markers (raamatutes -> raamatu needs s THEN te).
# Entries with a condition routine fall through to shorter entries
# when it fails.
_ET_VERB = compile_among([
    "nuksin", "nuksime", "nuksite",
    "ksin", "ksime", "ksite", "ksid", "ks",
    "sin", "sime", "site", "sid",
    "takse", "dakse",
    "mata", "mast", "maks", "mas", ("ma", "", _vowel_before),
    "des", ("da", "", _vowel_before), ("ta", "", _vowel_before),
    "vad", "me",
    "ge", "gem", "gu", "ke", "kem", "ku",
    "ti", "di",
    "nud", "tud", "dud",
    ("b", "", _vowel_before), ("n", "", _vowel_before),
])

# Noun-suite phase 1: derivational-suffix normalization so the
# nominative collapses with the oblique stem (mine/mise/mist -> mis,
# lane/lase/last -> las, line/lise/list -> lis, kene/kese/kest -> ke).
_ET_SPECIAL_NOUN = compile_among([
    ("misse", "mis"), ("mine", "mis"), ("mise", "mis"), ("mist", "mis"),
    ("lasse", "las"), ("lane", "las"), ("lase", "las"), ("last", "las"),
    ("lisse", "lis"), ("line", "lis"), ("lise", "lis"), ("list", "lis"),
    ("kesse", "ke"), ("kene", "ke"), ("kese", "ke"), ("kest", "ke"),
])

# Case endings attach to the vowel-final genitive stem (single-letter
# ones require the preceding vowel; that is what protects "dogs").
_ET_CASES = compile_among(
    ["sse", "st", "lt", "le", "ks"]
    + [(s, "", _vowel_before) for s in ("ni", "na", "ta", "ga", "s", "l", "t")]
)
# 'i' is the oblique-plural stem marker (the program's i_plural:
# raamatuid -> [d] raamatui -> [i] raamatu), vowel-gated.
_ET_PLURAL = compile_among(
    ["te"] + [(s, "", _vowel_before) for s in ("sid", "de", "d", "i")]
)


def estonian_stem(word: str) -> str:
    w = word.lower()
    if w in _ET_VERB_EXCEPTIONS:
        return _ET_VERB_EXCEPTIONS[w]
    if len(w) <= 3:
        return w
    r1 = regions(w, _ET_VOWELS, floor=3)[0]
    removed = False

    # emphasis clitic: -ki after a voiceless stop/s, -gi elsewhere
    if len(w) >= 6 and len(w) - 2 >= r1:
        if w.endswith("ki") and w[-3] in "kpts":
            w = w[:-2]
            removed = True
        elif w.endswith("gi") and w[-3] not in "kpts":
            w = w[:-2]
            removed = True

    # verb ending OR the nominal suite (published program's or-choice);
    # bare 'a' da-infinitive only after a long vowel (juua -> juu)
    m = among(w, _ET_VERB, limit=r1)
    if m is not None:
        w = w[:m[0]]
        removed = True
    elif w.endswith("a") and len(w) - 1 >= r1 and w[-3:-1] in _ET_LONGV:
        w = w[:-1]
        removed = True
    else:
        # The nominal suite runs to a (2-pass) fixpoint so stacked
        # case + plural + derivational markers unwind in any order
        # (lugemises -> [case s] lugemise -> [mise->mis] ->
        # [case s] lugemi — collapsing with lugemine/lugemist).
        for _ in range(2):
            pass_removed = False
            w2 = replace_among(w, _ET_SPECIAL_NOUN, limit=r1)
            if w2 is not None:
                w, pass_removed = w2, True
            for table in (_ET_CASES, _ET_PLURAL):
                m = among(w, table, limit=r1)
                if m is not None:
                    w, pass_removed = w[:m[0]], True
            if not pass_removed:
                break
            removed = True

    # undouble kk/pp/tt exposed by a removal
    if removed and len(w) >= 3 and w[-1] == w[-2] and w[-1] in "kpt":
        w = w[:-1]

    return w
