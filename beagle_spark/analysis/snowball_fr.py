"""Snowball French stemmer, pure Python.

Implemented from the published algorithm specification
(snowballstem.org/algorithms/french/stemmer.html) — the program Lucene
runs for the reference's `:french` stemmer
(reference: src/beagle/text_analysis.clj:30).

Structure: prelude marks (u/i between vowels -> U/I, y next to a vowel
-> Y, u after q -> U); RV per the French rule (two initial vowels or
par/col/tap => after 3rd letter); step 1 standard suffixes; steps 2a/2b
verb suffixes in RV; steps 3/4 residuals; step 5 undouble; step 6
un-accent.
"""

from __future__ import annotations

from .snowball_rt import after_vowel, among, compile_among, regions

_VOWELS = frozenset("aeiouyâàëéêèïîôûù")


def _prelude(w: str) -> str:
    """The published `repeat goto` marking walk: after a vowel, u/i
    before a vowel and any y are marked; y before a vowel marks; u
    after q marks. The cursor moves past each marked char, so marks
    never chain ("aiie" -> "aIie"; "yue" -> "yUe" with the y left a
    vowel)."""
    chars = list(w)
    n = len(chars)
    i = 0
    while i < n:
        c = chars[i]
        if c in _VOWELS and i + 1 < n:
            nxt = chars[i + 1]
            if nxt == "u" and i + 2 < n and chars[i + 2] in _VOWELS:
                chars[i + 1] = "U"
                i += 2
                continue
            if nxt == "i" and i + 2 < n and chars[i + 2] in _VOWELS:
                chars[i + 1] = "I"
                i += 2
                continue
            if nxt == "y":
                chars[i + 1] = "Y"
                i += 2
                continue
        if c == "y" and i + 1 < n and chars[i + 1] in _VOWELS:
            chars[i] = "Y"
            i += 1
            continue
        if c == "q" and i + 1 < n and chars[i + 1] == "u":
            chars[i + 1] = "U"
            i += 2
            continue
        i += 1
    # diaeresis decomposition: the published prelude rewrites
    # {e"} -> He and {i"} -> Hi (H is a marker consonant), recomposed
    # by the postlude — this is what lets 'e' strip after ë etc.
    return "".join(chars).replace("ë", "He").replace("ï", "Hi")


def _rv(w: str) -> int:
    """French RV: after the third letter if the word starts with two
    vowels or with par/col/tap, else after the first vowel that is not
    the first letter."""
    if len(w) >= 3 and ((w[0] in _VOWELS and w[1] in _VOWELS)
                        or w[:3] in ("par", "col", "tap")):
        return 3
    return after_vowel(w, _VOWELS, 1)


# Step 1: a (region, replacement) result is a plain step; an int
# selects a step with chained conditions below.
_STEP1 = compile_among(
    [(s, 1) for s in ("issements", "issement")]
    + [(s, 2) for s in ("atrices", "atrice", "ateurs", "ations", "ateur", "ation")]
    + [(s, ("R2", "log")) for s in ("logies", "logie")]
    + [(s, ("R2", "u")) for s in ("usions", "utions", "usion", "ution")]
    + [(s, ("R2", "ent")) for s in ("ences", "ence")]
    + [(s, 3) for s in ("ements", "ement")]
    + [(s, 4) for s in ("ités", "ité")]
    + [(s, 5) for s in ("ives", "ifs", "ive", "if")]
    + [("eaux", (None, "eau")), ("aux", ("R1", "al")), ("euses", 6), ("euse", 6)]
    + [(s, ("R2", "")) for s in ("ances", "iqUes", "ismes", "ables", "istes",
                                "ance", "iqUe", "isme", "able", "iste", "eux")]
    + [("amment", ("RV", "ant")), ("emment", ("RV", "ent")), ("ments", 7), ("ment", 7)]
)
_STEP2A = compile_among([
    "issaIent", "issantes", "issants", "issante", "issions", "issent",
    "issant", "issais", "issait", "issiez", "issons", "iraIent", "issez",
    "isses", "irions", "irais", "irait", "irent", "iriez", "irons",
    "iront", "isse", "îtes", "îmes", "irai", "iras", "irez", "ies",
    "ira", "ît", "ie", "ir", "is", "it", "i",
])
# Step 2b: one RV-limited among; 'ions' also needs R2, the a-family
# (result "a") also drops a preceding e in RV
_STEP2B = compile_among([("ions", "ions")] + [
    "eraIent", "erions", "èrent", "erais", "erait", "eriez", "erons",
    "eront", "erai", "eras", "erez", "ées", "era", "iez", "ée", "és",
    "er", "ez", "é",
] + [(s, "a") for s in (
    "assions", "assent", "assiez", "aIent", "antes", "asses", "âtes",
    "âmes", "ante", "ants", "asse", "ais", "ait", "ant", "ât", "ai",
    "as", "a",
)])
# Step 4: RV-limited among; 'ion' needs R2 and s/t before it in RV
_STEP4 = compile_among([("Ière", "i"), ("ière", "i"), ("Ier", "i"),
                        ("ier", "i"), ("ion", "ion"), "e"])


def _ic(w: str, r2: int) -> str:
    """A trailing 'ic' is deleted in R2, else becomes iqU."""
    if w.endswith("ic"):
        return w[:-2] if len(w) - 2 >= r2 else w[:-2] + "iqU"
    return w


def _step1(w: str, rv: int, r1: int, r2: int) -> tuple[str, bool]:
    """Step 1; returns (word, whether a -ment/-mment ending went)."""
    m = among(w, _STEP1)
    if m is None:
        return w, False
    i, res = m
    if isinstance(res, tuple):
        gate, repl = res
        if i >= {None: 0, "RV": rv, "R1": r1, "R2": r2}[gate]:
            return w[:i] + repl, w.endswith("mment")
        return w, False
    if res == 1:
        if i >= r1 and i >= 1 and w[i - 1] not in _VOWELS:
            w = w[:i]
    elif res == 2:
        if i >= r2:
            w = _ic(w[:i], r2)
    elif res == 3:
        if i >= rv:
            w = w[:i]
            if w.endswith("iv") and len(w) - 2 >= r2:
                w = w[:-2]
                if w.endswith("at") and len(w) - 2 >= r2:
                    w = w[:-2]
            elif w.endswith("eus"):
                if len(w) - 3 >= r2:
                    w = w[:-3]
                elif len(w) - 3 >= r1:
                    w = w[:-3] + "eux"
            elif w.endswith(("abl", "iqU")) and len(w) - 3 >= r2:
                w = w[:-3]
            elif w.endswith(("ièr", "Ièr")) and len(w) - 3 >= rv:
                w = w[:-3] + "i"
    elif res == 4:
        if i >= r2:
            w = w[:i]
            if w.endswith("abil"):
                w = w[:-4] if len(w) - 4 >= r2 else w[:-4] + "abl"
            elif w.endswith("ic"):
                w = _ic(w, r2)
            elif w.endswith("iv") and len(w) - 2 >= r2:
                w = w[:-2]
    elif res == 5:
        if i >= r2:
            w = w[:i]
            if w.endswith("at") and len(w) - 2 >= r2:
                w = _ic(w[:-2], r2)
    elif res == 6:
        if i >= r2:
            w = w[:i]
        elif i >= r1:
            w = w[:i] + "eux"
    elif i >= 1 and w[i - 1] in _VOWELS and i - 1 >= rv:  # ment(s)
        return w[:i], True
    return w, False


def french_stem(word: str) -> str:
    w = _prelude(word.lower())
    rv = _rv(w)
    r1, r2 = regions(w, _VOWELS)

    before = w
    w, step1_did_mment = _step1(w, rv, r1, r2)
    step1_removed = w != before

    # ---- Steps 2a / 2b: verb suffixes, all in RV ----
    altered = step1_removed
    if not step1_removed or step1_did_mment:
        # 2a branch guard: (not 'H') non-v delete — the diaeresis
        # marker H blocks i-verb stripping (ï is not a verb i)
        m = among(w, _STEP2A, gate=rv)
        if (m is not None and m[0] >= 1 and w[m[0] - 1] not in _VOWELS
                and w[m[0] - 1] != "H" and m[0] - 1 >= rv):
            w = w[:m[0]]
            altered = True
        else:
            m = among(w, _STEP2B, limit=rv)
            if m is not None and (m[1] != "ions" or m[0] >= r2):
                w = w[:m[0]]
                if m[1] == "a" and w.endswith("e") and len(w) - 1 >= rv:
                    w = w[:-1]
                altered = True

    # ---- Step 3 / Step 4 ----
    if altered:
        if w.endswith("Y"):
            w = w[:-1] + "i"
        elif w.endswith("ç"):
            w = w[:-1] + "c"
    else:
        # step 4 (residual): try ['s'] first, then a pV-limited among —
        # entries crossing RV can't match, shorter in-RV entries win
        if w.endswith("s") and len(w) >= 2 and (
            w[-3:-1] == "Hi" or w[-2] not in "aiouès"
        ):
            w = w[:-1]
        m = among(w, _STEP4, limit=rv)
        if m is not None:
            i, repl = m
            if repl != "ion":
                w = w[:i] + repl
            elif i >= r2 and i >= 1 and w[i - 1] in "st" and i - 1 >= rv:
                # R2 + preceded by s/t, the s/t itself inside RV
                w = w[:i]

    # ---- Step 5: undouble ----
    if w.endswith(("enn", "onn", "ett", "ell", "eill")):
        w = w[:-1]

    # ---- Step 6: un-accent: (atleast 1 non-v) ['é'|'è'] <- 'e'.
    # Marked I/U/Y/H count as non-vowels here.
    j = len(w) - 1
    while j >= 0 and w[j] not in _VOWELS:
        j -= 1
    if j >= 0 and j < len(w) - 1 and w[j] in "éè":
        w = w[:j] + "e" + w[j + 1:]

    # postlude: unmark, recompose diaereses, drop stray markers
    w = w.replace("I", "i").replace("U", "u").replace("Y", "y")
    return w.replace("Hi", "ï").replace("He", "ë").replace("H", "")
