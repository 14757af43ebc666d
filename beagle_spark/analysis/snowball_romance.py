"""Snowball Italian / Portuguese / Catalan / Romanian stemmers, pure
Python.

Italian and Portuguese are implemented from the published algorithm
specifications (snowballstem.org/algorithms/{italian,portuguese}/
stemmer.html) — the programs Lucene runs for the reference's `:italian`
and `:portuguese` stemmers (reference: src/beagle/text_analysis.clj:
35,40). Catalan and Romanian follow the published Snowball programs'
structure (step 0 pronouns / step 1 standard suffixes in R1/R2 / verb
suffixes in RV / residuals) with suffix tables reconstructed from the
specs; they are faithful in shape and collapse the same inflection
families, though individual rare forms may stem differently
(documented deviation).
"""

from __future__ import annotations

from .snowball_rt import among, compile_among, regions, replace_among, rv_spanish
from .snowball_tables import (
    CA_PRON, CA_RESID, CA_STD, CA_VERB,
    RO_COMBO, RO_STD, RO_STEP0, RO_VERB, RO_VOWEL,
)


def _marks(w: str, vowels) -> dict:
    """pV/p1/p2 of the Spanish-family programs, by region name."""
    r1, r2 = regions(w, vowels)
    return {None: 0, "RV": rv_spanish(w, vowels), "R1": r1, "R2": r2}


def _r2_chain(w: str, r2: int, *suffixes) -> str:
    """Delete the first of `suffixes` that ends `w` inside R2, then the
    next group's, and so on; stop at the first group that fails."""
    for group in suffixes:
        m = among(w, group, gate=r2)
        if m is None:
            break
        w = w[:m[0]]
    return w


# ---------------------------------------------------------------------------
# Italian
# ---------------------------------------------------------------------------
_IT_VOWELS = frozenset("aeiouàèìòù")
_IT_ACUTE = str.maketrans("áéíóú", "àèìòù")

_IT_PRONOUNS = compile_among([
    "ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si", "ti", "vi",
    "sene", "gliela", "gliele", "glieli", "glielo", "gliene", "mela",
    "mele", "meli", "melo", "mene", "tela", "tele", "teli", "telo",
    "tene", "cela", "cele", "celi", "celo", "cene", "vela", "vele",
    "veli", "velo", "vene",
])
# the gerund/infinitive left before the pronoun, in RV: its replacement
_IT_PRONOUN_BASE = compile_among([("ando", "ando"), ("endo", "endo"),
                                  ("ar", "are"), ("er", "ere"), ("ir", "ire")])
_AT = compile_among(["at"])
_IC = compile_among(["ic"])
_ABIL = compile_among(["abil"])
_IC_IV = compile_among(["ic", "iv"])
_OS_IC = compile_among(["os", "ic"])
_OS_IC_AD = compile_among(["os", "ic", "ad"])
# Step 1 results: (region, replacement), or an int for a step whose
# deletion chains into further R2 deletions
_IT_STEP1 = compile_among(
    [(s, ("R2", "")) for s in (
        "anza", "anze", "ico", "ici", "ica", "ice", "iche", "ichi", "ismo",
        "ismi", "abile", "abili", "ibile", "ibili", "ista", "iste", "isti",
        "istà", "istè", "istì", "oso", "osi", "osa", "ose", "mente",
        "atrice", "atrici", "ante", "anti")]
    + [(s, 1) for s in ("azione", "azioni", "atore", "atori")]
    + [(s, ("R2", "log")) for s in ("logia", "logie")]
    + [(s, ("R2", "u")) for s in ("uzione", "uzioni", "usione", "usioni")]
    + [(s, ("R2", "ente")) for s in ("enza", "enze")]
    + [(s, ("RV", "")) for s in ("amento", "amenti", "imento", "imenti")]
    + [("amente", 2), ("ità", 3)]
    + [(s, 4) for s in ("ivo", "ivi", "iva", "ive")]
)
_IT_STEP2 = compile_among([
    "ammo", "ando", "ano", "are", "arono", "asse", "assero", "assi",
    "assimo", "ata", "ate", "ati", "ato", "ava", "avamo", "avano",
    "avate", "avi", "avo", "emmo", "enda", "ende", "endi", "endo",
    "erà", "erai", "eranno", "ere", "erebbe", "erebbero", "erei",
    "eremmo", "eremo", "ereste", "eresti", "erete", "erò", "erono",
    "essero", "ete", "eva", "evamo", "evano", "evate", "evi", "evo",
    "Yamo", "iamo", "immo", "irà", "irai", "iranno", "ire", "irebbe",
    "irebbero", "irei", "iremmo", "iremo", "ireste", "iresti",
    "irete", "irò", "irono", "isca", "iscano", "isce", "isci",
    "isco", "iscono", "issero", "ita", "ite", "iti", "ito", "iva",
    "ivamo", "ivano", "ivate", "ivi", "ivo", "ono", "uta", "ute",
    "uti", "uto", "ar", "ir",
])


def _it_step1(w: str, marks: dict) -> str:
    m = among(w, _IT_STEP1)
    if m is None:
        return w
    i, res = m
    r2 = marks["R2"]
    if isinstance(res, tuple):
        return w[:i] + res[1] if i >= marks[res[0]] else w
    if res == 2:  # amente: R1, then iv(at) / abil / os / ic in R2
        if i < marks["R1"]:
            return w
        w = w[:i]
        if w.endswith("iv") and len(w) - 2 >= r2:
            return _r2_chain(w[:-2], r2, _AT)
        return replace_among(w, _ABIL, gate=r2) or _r2_chain(w, r2, _OS_IC)
    if i < r2:
        return w
    w = w[:i]
    if res == 1:
        return _r2_chain(w, r2, _IC)
    if res == 3:
        return replace_among(w, _ABIL, gate=r2) or _r2_chain(w, r2, _IC_IV)
    return _r2_chain(w, r2, _AT, _IC)


def italian_stem(word: str) -> str:
    w = word.lower().translate(_IT_ACUTE)
    # mark u after q and u/i between vowels
    chars = list(w)
    n = len(chars)
    for i in range(n):
        c = chars[i]
        prev_v = i > 0 and chars[i - 1] in _IT_VOWELS
        next_v = i + 1 < n and chars[i + 1] in _IT_VOWELS
        if c in "ui" and prev_v and next_v:
            chars[i] = c.upper()
        elif c == "u" and i > 0 and chars[i - 1] == "q":
            chars[i] = "U"
    w = "".join(chars)
    if len(w) <= 2:
        return w.replace("I", "i").replace("U", "u")
    marks = _marks(w, _IT_VOWELS)
    rv = marks["RV"]

    # Step 0: attached pronouns
    m = among(w, _IT_PRONOUNS)
    if m is not None:
        base = w[:m[0]]
        w = replace_among(base, _IT_PRONOUN_BASE, gate=rv) or w

    # Step 1: standard suffixes; Step 2: verb suffixes (only if step 1
    # removed nothing), setlimit RV
    before = w
    w = _it_step1(w, marks)
    if w == before:
        w = replace_among(w, _IT_STEP2, limit=rv) or w

    # Step 3a: residual vowel (then a further final i)
    if w and w[-1] in "aeioàèìò" and len(w) - 1 >= rv:
        w = w[:-1]
        if w.endswith("i") and len(w) - 1 >= rv:
            w = w[:-1]
    # Step 3b: the whole ch/gh must sit in RV
    if w.endswith(("ch", "gh")) and len(w) - 2 >= rv:
        w = w[:-1]

    return w.replace("I", "i").replace("U", "u").replace("Y", "y")


# ---------------------------------------------------------------------------
# Portuguese
# ---------------------------------------------------------------------------
_PT_VOWELS = frozenset("aeiouáéíóúâêô")

_ANTE_AVEL_IVEL = compile_among(["ante", "avel", "ível"])
_ABIL_IC_IV = compile_among(["abil", "ic", "iv"])
# Step 1 results: (region, replacement), or an int as in Italian
_PT_STEP1 = compile_among(
    [(s, ("R2", "")) for s in (
        "eza", "ezas", "ico", "ica", "icos", "icas", "ismo", "ismos",
        "ável", "ível", "ista", "istas", "oso", "osa", "osos", "osas",
        "amento", "amentos", "imento", "imentos", "adora", "ador",
        "aça~o", "adoras", "adores", "aço~es", "ante", "antes", "ância")]
    + [(s, ("R2", "log")) for s in ("logia", "logias")]
    + [(s, ("R2", "u")) for s in ("uça~o", "uço~es")]
    + [(s, ("R2", "ente")) for s in ("ência", "ências")]
    + [("amente", 1), ("mente", 2), ("idade", 3), ("idades", 3)]
    + [(s, 4) for s in ("iva", "ivo", "ivas", "ivos")]
    + [("ira", 5), ("iras", 5)]
)
_PT_STEP2 = compile_among([
    "ada", "ida", "ia", "aria", "eria", "iria", "ará", "ara", "erá",
    "era", "irá", "ava", "asse", "esse", "isse", "aste", "este",
    "iste", "ei", "arei", "erei", "irei", "am", "iam", "ariam",
    "eriam", "iriam", "aram", "eram", "iram", "avam", "em", "arem",
    "erem", "irem", "assem", "essem", "issem", "ado", "ido", "ando",
    "endo", "indo", "ara~o", "era~o", "ira~o", "ar", "er", "ir",
    "as", "adas", "idas", "ias", "arias", "erias", "irias", "arás",
    "erás", "irás", "avas", "es", "ardes", "erdes", "irdes", "ares",
    "eres", "ires", "asses", "esses", "isses", "astes", "estes",
    "istes", "is", "ais", "aras", "eras", "eis", "áreis", "areis",
    "éreis", "ereis", "íreis", "ireis", "ásseis", "ésseis",
    "ísseis", "áveis", "íeis", "aríeis", "eríeis", "iríeis", "ados",
    "idos", "amos", "ámos", "íamos", "aríamos", "eríamos",
    "iríamos", "áramos", "éramos", "íramos", "ávamos",
    "emos", "aremos", "eremos", "iremos", "ássemos", "êssemos",
    "íssemos", "imos", "armos", "ermos", "irmos", "eu", "iu", "ou",
    "ira", "iras",
])
_PT_RESIDUAL = compile_among(["os", "a", "i", "o", "á", "í", "ó"])


def _pt_step1(w: str, marks: dict) -> str:
    m = among(w, _PT_STEP1)
    if m is None:
        return w
    i, res = m
    r2 = marks["R2"]
    if isinstance(res, tuple):
        return w[:i] + res[1] if i >= marks[res[0]] else w
    if res == 5:  # ira(s) -> ir after e, in RV
        rv = marks["RV"]
        return w[:i] + "ir" if i >= rv and i >= 1 and w[i - 1] == "e" else w
    if i < (marks["R1"] if res == 1 else r2):
        return w
    w = w[:i]
    if res == 1:  # amente: then iv(at) / os / ic / ad in R2
        if w.endswith("iv") and len(w) - 2 >= r2:
            return _r2_chain(w[:-2], r2, _AT)
        return _r2_chain(w, r2, _OS_IC_AD)
    if res == 2:
        return _r2_chain(w, r2, _ANTE_AVEL_IVEL)
    if res == 3:
        return _r2_chain(w, r2, _ABIL_IC_IV)
    return _r2_chain(w, r2, _AT)


def portuguese_stem(word: str) -> str:
    w = word.lower().replace("ã", "a~").replace("õ", "o~")
    marks = _marks(w, _PT_VOWELS)
    rv = marks["RV"]

    # Step 1: standard suffixes; Step 2: verb suffixes (only if step 1
    # removed nothing) — the published program matches under
    # `setlimit tomark pV`, so a region-crossing longer entry never
    # blocks a shorter in-RV one
    before = w
    w = _pt_step1(w, marks)
    if w == before:
        w = replace_among(w, _PT_STEP2, limit=rv) or w

    # Step 3 / Step 4
    if w != before:
        if w.endswith("i") and len(w) - 1 >= rv and len(w) >= 2 and w[-2] == "c":
            w = w[:-1]
    else:
        w = replace_among(w, _PT_RESIDUAL, gate=rv) or w

    # Step 5: ( ['e'|'é'|'ê'] RV delete + gu/ci fix ) OR ( ['ç'] <- 'c' )
    # — an or-chain: a successful e-removal skips the cedilla rewrite
    if w and w[-1] in "eéê" and len(w) - 1 >= rv:
        w = w[:-1]
        if w.endswith(("gu", "ci")) and len(w) - 1 >= rv:
            w = w[:-1]
    elif w.endswith("ç"):
        w = w[:-1] + "c"

    return w.replace("a~", "ã").replace("o~", "õ")


# ---------------------------------------------------------------------------
# Catalan — the published Snowball program (catalan.sbl): R1/R2 only
# (no RV); backward-mode attached_pronoun, then standard_suffix or
# verb_suffix, then residual_suffix; forward cleaning pass strips
# accents and the ela geminada dot. Tables in snowball_tables.py.
# ---------------------------------------------------------------------------
_CA_VOWELS = frozenset("aeiou\u00e0\u00e1\u00e8\u00e9\u00ed\u00f2\u00f3\u00f9\u00fa\u00ef\u00fc")

_CA_CLEAN = str.maketrans(
    {"\u00e0": "a", "\u00e1": "a", "\u00e8": "e", "\u00e9": "e",
     "\u00ec": "i", "\u00ed": "i", "\u00ef": "i", "\u00f2": "o",
     "\u00f3": "o", "\u00f9": "u", "\u00fa": "u", "\u00fc": "u",
     "\u00b7": None}
)
# standard_suffix result -> (region, replacement)
_CA_STD_ACT = {1: ("R1", ""), 2: ("R2", ""), 3: ("R2", "log"),
               4: ("R2", "ic"), 5: ("R1", "c")}


def catalan_stem(word: str) -> str:
    w = word.lower()
    p1, p2 = regions(w, _CA_VOWELS)
    marks = {"R1": p1, "R2": p2}

    # attached pronouns (R1 delete)
    m = among(w, CA_PRON, gate=p1)
    if m is not None:
        w = w[:m[0]]

    # standard suffixes; verb suffixes only if no standard matched
    m = among(w, CA_STD)
    gate, repl = _CA_STD_ACT[m[1]] if m is not None else (None, "")
    if m is not None and m[0] >= marks[gate]:
        w = w[:m[0]] + repl
    else:
        m = among(w, CA_VERB)
        # branch 2 ('ando') needs R2; the rest R1
        if m is not None and m[0] >= (p2 if m[1] == 2 else p1):
            w = w[:m[0]]

    # residual suffix
    m = among(w, CA_RESID, gate=p1)
    if m is not None:
        w = w[:m[0]] + ("ic" if m[1] == 2 else "")

    # cleaning: deaccent + drop ela geminada dot
    return w.translate(_CA_CLEAN)


# ---------------------------------------------------------------------------
# Romanian — the published Snowball program (romanian.sbl, cedilla-era
# tables as generated into Snowball 2.x / Lucene 8.x): prelude marks
# i/u between vowels as consonants, spanish-style pV/p1/p2, then
# step_0 (R1) -> standard_suffix (repeat combo R1, then R2) ->
# verb_suffix (RV-limited, consonant/u guard) if no standard suffix
# was removed -> vowel_suffix (RV). Tables in snowball_tables.py.
# ---------------------------------------------------------------------------
_RO_VOWELS = frozenset("aeiouâîă")

_RO_COMBO_REPL = {1: "abil", 2: "ibil", 3: "iv", 4: "ic", 5: "at", 6: "it"}
_RO_STEP0_REPL = {1: "", 2: "a", 3: "e", 4: "i", 5: "i", 6: "at", 7: "aţi"}


def romanian_stem(word: str) -> str:
    w = word.lower()
    # prelude: i/u between vowels are consonantal (marked uppercase,
    # so they fall outside the vowel grouping)
    chars = list(w)
    for i in range(1, len(chars) - 1):
        if chars[i] in "iu" and chars[i - 1] in _RO_VOWELS and chars[i + 1] in _RO_VOWELS:
            chars[i] = chars[i].upper()
    w = "".join(chars)

    pV = rv_spanish(w, _RO_VOWELS)
    p1, p2 = regions(w, _RO_VOWELS)

    # step_0: plural/article removal in R1
    m = among(w, RO_STEP0, gate=p1)
    if m is not None:
        start, res = m
        if not (res == 5 and w.endswith("ab" + w[start:])):
            w = w[:start] + _RO_STEP0_REPL[res]

    # standard_suffix: repeat combo (R1; `test` semantics - matching
    # restarts from the full new end each iteration), then main (R2)
    std_removed = False
    while (m := among(w, RO_COMBO, gate=p1)) is not None:
        w = w[:m[0]] + _RO_COMBO_REPL[m[1]]
        std_removed = True
    m = among(w, RO_STD, gate=p2)
    if m is not None:
        start, res = m
        if res == 1:
            w = w[:start]
            std_removed = True
        elif res == 2:  # 'iune'/'iuni' after ţ -> 't'
            if w[:start].endswith("ţ"):
                w = w[:start - 1] + "t"
                std_removed = True
        else:  # 3: unify -ism/-ist family to 'ist'
            w = w[:start] + "ist"
            std_removed = True

    # verb_suffix: only when no standard suffix was removed; matching
    # limited to RV; branch 1 requires a consonant or 'u' before
    if not std_removed:
        m = among(w, RO_VERB, limit=pV)
        if m is not None:
            start, res = m
            # branch 1 guard: preceding char is a consonant or 'u';
            # the RV setlimit applies to the guard's movement too, so
            # the guard char itself must sit inside RV
            if res == 2 or (start - 1 >= pV and (
                    w[start - 1] not in _RO_VOWELS or w[start - 1] == "u")):
                w = w[:start]

    # vowel_suffix: residual vowel in RV
    m = among(w, RO_VOWEL, gate=pV)
    if m is not None:
        w = w[:m[0]]

    return w.lower()
