"""Snowball Spanish stemmer, pure Python.

Implemented from the published algorithm specification
(snowballstem.org/algorithms/spanish/stemmer.html) — the program Lucene
runs for the reference's `:spanish` stemmer (reference:
src/beagle/text_analysis.clj:42). Structure:

- RV/R1/R2 regions (RV per the Spanish rule on the first two letters).
- Step 0: attached-pronoun removal after gerund/infinitive endings.
- Step 1: standard (derivational) suffixes, mostly conditioned on R2.
- Step 2a/2b: verb suffixes in RV (2a: y-forms after u; 2b: the full
  conjugation table, with the `gu`->`g` fix for en/es/éis/emos).
- Step 3: residual vowel suffixes in RV.
- Finally strip acute accents.
"""

from __future__ import annotations

from .snowball_rt import among, compile_among, regions, replace_among, rv_spanish

_VOWELS = frozenset("aeiouáéíóúü")

_STEP0_PRON = compile_among(["selas", "selos", "sela", "selo", "las", "les",
                             "los", "nos", "me", "se", "la", "le", "lo"])
# the gerund/infinitive before the pronoun, in RV; result is its
# replacement ('yendo' needs a 'u' before it)
_STEP0_VERB = compile_among([
    ("iéndo", "iendo"), ("ándo", "ando"), ("ár", "ar"), ("ér", "er"),
    ("ír", "ir"), ("iendo", "iendo"), ("ando", "ando"), ("ar", "ar"),
    ("er", "er"), ("ir", "ir"), ("yendo", "yendo"),
])

# Step 1 results: the region and the chained deletions of each family
_STEP1 = compile_among(
    [(s, 1) for s in (
        "amientos", "imientos", "amiento", "imiento", "anzas", "ismos",
        "ables", "ibles", "istas", "anza", "icos", "icas", "ismo", "able",
        "ible", "ista", "osos", "osas", "ico", "ica", "oso", "osa")]
    + [(s, 2) for s in ("aciones", "adoras", "adores", "ancias", "adora",
                        "ación", "antes", "ancia", "ador", "ante")]
    + [("logías", "log"), ("logía", "log"), ("uciones", "u"), ("ución", "u"),
       ("encias", "ente"), ("encia", "ente")]
    + [("amente", 3), ("mente", 4), ("idades", 5), ("idad", 5)]
    + [(s, 6) for s in ("ivas", "ivos", "iva", "ivo")]
)
_ABIL_IC_IV = compile_among(["abil", "ic", "iv"])
# Step 2a: y-forms, in RV, after a 'u' that is itself in RV
_STEP2A = compile_among(["yeron", "yendo", "yamos", "yais", "yan", "yen",
                         "yas", "yes", "ya", "ye", "yo", "yó"])
# Step 2b: delete in RV; en/es/éis/emos also turn a preceding gu into g
_STEP2B = compile_among([(s, "gu") for s in ("éis", "emos", "en", "es")] + [
    "aríamos", "eríamos", "iríamos", "iéramos", "iésemos", "asteis", "isteis",
    "aremos", "eremos", "iremos",
    "ábamos", "áramos", "ásemos", "arían", "arías", "aríais", "eríais",
    "iríais", "ierais", "ieseis", "abais", "arais", "aseis", "íamos",
    "erían", "erías", "irían", "irías", "ieran", "iesen", "ieron", "iendo",
    "ieras", "ieses", "aréis", "eréis", "iréis", "arán", "arás", "erán",
    "erás", "irán", "irás", "aban", "aran", "asen", "ases", "aron", "ados",
    "idos", "amos", "imos", "ando", "aría", "ería", "iría", "iera", "iese",
    "aste", "iste", "abas", "adas", "idas", "aras", "íais", "ará", "aré",
    "erá", "eré", "irá", "iré", "aba", "ada", "ida", "ara", "ase", "ían",
    "ado", "ido", "ías", "áis", "ía", "ad", "ed", "id", "an", "ió", "ar",
    "er", "ir", "as", "ís",
])
# Step 3: residual suffix in RV; e/é also undo gu -> g
_STEP3 = compile_among(["os", "a", "o", "á", "í", "ó", ("e", "e"), ("é", "e")])
_ACCENTS = str.maketrans({"á": "a", "é": "e", "í": "i", "ó": "o", "ú": "u"})


def _step1(w: str, r1: int, r2: int) -> str:
    m = among(w, _STEP1)
    if m is None:
        return w
    start, res = m
    if res == 3:  # amente: R1, then iv(at) / os / ic / ad in R2
        if start < r1:
            return w
        w = w[:start]
        if w.endswith("iv") and len(w) - 2 >= r2:
            w = w[:-2]
            if w.endswith("at") and len(w) - 2 >= r2:
                w = w[:-2]
        elif w.endswith(("os", "ic", "ad")) and len(w) - 2 >= r2:
            w = w[:-2]
        return w
    if start < r2:
        return w
    if isinstance(res, str):
        return w[:start] + res
    w = w[:start]
    if res == 2 and w.endswith("ic") and len(w) - 2 >= r2:
        w = w[:-2]
    elif res == 4 and w.endswith(("ante", "able", "ible")) and len(w) - 4 >= r2:
        w = w[:-4]
    elif res == 5:
        w = replace_among(w, _ABIL_IC_IV, gate=r2) or w
    elif res == 6 and w.endswith("at") and len(w) - 2 >= r2:
        w = w[:-2]
    return w


def spanish_stem(word: str) -> str:
    w = word.lower()
    if len(w) <= 2:
        return w.translate(_ACCENTS)
    rv = rv_spanish(w, _VOWELS)

    # Step 0: attached pronouns
    m = among(w, _STEP0_PRON)
    if m is not None:
        base = w[:m[0]]
        m = among(base, _STEP0_VERB, gate=rv)
        if m is not None:
            start, repl = m
            if repl != "yendo" or (start >= 1 and base[start - 1] == "u"):
                w = base[:start] + repl
    # regions over the (possibly) shortened word
    rv = rv_spanish(w, _VOWELS)
    r1, r2 = regions(w, _VOWELS)

    # Step 1: standard suffixes
    before_step1 = w
    w = _step1(w, r1, r2)

    if w == before_step1:
        # Step 2a: y-verb forms after u (setlimit: the u sits in RV too)
        m = among(w, _STEP2A, limit=rv)
        if m is not None and m[0] - 1 >= rv and w[m[0] - 1] == "u":
            w = w[:m[0]]
        else:
            # Step 2b: main verb suffixes, setlimit RV
            m = among(w, _STEP2B, limit=rv)
            if m is not None:
                w = w[:m[0]]
                if m[1] and w.endswith("gu"):
                    w = w[:-1]

    # Step 3: residual suffix
    m = among(w, _STEP3, gate=rv)
    if m is not None:
        w = w[:m[0]]
        if m[1] and w.endswith("gu") and len(w) - 1 >= rv:
            w = w[:-1]

    return w.translate(_ACCENTS)
