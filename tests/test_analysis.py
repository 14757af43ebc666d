"""Ported from reference test/beagle/text_analysis_test.clj plus
tokenizer offset invariants."""

import numpy as np
import pytest

from beagle_spark import analysis
from beagle_spark.analysis import (
    AnalysisConfig,
    analyze,
    ascii_fold,
    field_name,
    merge_config,
    text_to_token_strings,
)
from beagle_spark.analysis.stem import porter_stem
from beagle_spark.analysis.tokenizers import get_tokenizer


def fname(entry, defaults=None):
    return field_name(merge_config(entry, defaults or {}))


def test_field_name_construction():  # text_analysis_test.clj:6-23
    assert fname({}) == "text.standard-tokenizer"
    assert fname({"case_sensitive": True}) == "text.standard-tokenizer"
    assert fname({"case_sensitive": False}) == "text.standard-tokenizer.lowercased"
    assert fname({"ascii_fold": True}) == "text.standard-tokenizer.ascii-folded"
    assert fname({"stem": True}) == "text.standard-tokenizer.stemmed-english"
    assert (
        fname({"stem": True, "stemmer": "lithuanian"})
        == "text.standard-tokenizer.stemmed-lithuanian"
    )
    assert (
        fname({"ascii_fold": True, "case_sensitive": False, "stem": True,
               "stemmer": "lithuanian"})
        == "text.standard-tokenizer.ascii-folded-lowercased-stemmed-lithuanian"
    )


def test_token_stream():  # text_analysis_test.clj:25-46
    txt = "These are tests."
    cs = merge_config({"case_sensitive": True}, {})
    assert text_to_token_strings(txt, cs) == ["These", "are", "tests"]
    ci = merge_config({"case_sensitive": False}, {})
    assert text_to_token_strings(txt, ci) == ["these", "are", "tests"]
    folded = merge_config({"case_sensitive": False, "ascii_fold": True}, {})
    assert text_to_token_strings(txt, folded) == ["these", "are", "tests"]
    stemmed = merge_config(
        {"case_sensitive": False, "ascii_fold": True, "stem": True}, {}
    )
    assert text_to_token_strings(txt, stemmed) == ["these", "are", "test"]
    # whitespace tokenizer keeps the trailing period; stemmer leaves it
    # (the reference notes this as "surprising but correct")
    ws = merge_config(
        {"case_sensitive": False, "ascii_fold": True, "stem": True},
        {"tokenizer": "whitespace"},
    )
    assert text_to_token_strings(txt, ws) == ["these", "are", "tests."]


def test_tokenizer_offsets():
    txt = 'Hello, "wörld"! 3.14 don\'t x'
    for name in ("standard", "whitespace", "letter", "strict", "classic"):
        for t in get_tokenizer(name)(txt):
            assert txt[t.begin : t.end] == t.text, name


def test_keyword_tokenizer():
    toks = get_tokenizer("keyword")("Some full string")
    assert len(toks) == 1
    assert toks[0].text == "Some full string"
    assert (toks[0].begin, toks[0].end) == (0, 16)


def test_standard_numbers():
    toks = get_tokenizer("standard")("pi is 3.14 and 1,000 units")
    assert [t.text for t in toks] == ["pi", "is", "3.14", "and", "1,000", "units"]


def test_strict_tokenizer():
    # strict keeps [](){}<>#+=@&' runs (text_analysis.clj:58-60)
    toks = get_tokenizer("strict")("[URGENT!] a@b #tag c++")
    assert [t.text for t in toks] == ["[URGENT", "]", "a@b", "#tag", "c++"]


def test_standard_uax29_mid_joins():
    """Lucene StandardTokenizer (UAX#29 WB6/7, WB11/12): apostrophes and
    dots join letters; dots/commas join digits; wrong-neighbor joiners
    split."""
    std = get_tokenizer("standard")
    assert [t.text for t in std("John's book")] == ["John's", "book"]
    assert [t.text for t in std("U.S.A. forces")] == ["U.S.A", "forces"]
    assert [t.text for t in std("visit example.com now")] == ["visit", "example.com", "now"]
    assert [t.text for t in std("a,b and R2D2.com")] == ["a", "b", "and", "R2D2", "com"]
    assert [t.text for t in std("don’t")] == ["don’t"]


def test_whitespace_vs_unicode_whitespace():
    """Lucene distinction: WhitespaceTokenizer (java isWhitespace) does
    NOT split on no-break space; UnicodeWhitespaceTokenizer does."""
    s = "a b normal"
    assert [t.text for t in get_tokenizer("whitespace")(s)] == ["a b", "normal"]
    assert [t.text for t in get_tokenizer("unicode-whitespace")(s)] == ["a", "b", "normal"]


def test_standard_cjk_segmentation():
    """Lucene StandardTokenizer CJK behavior: Han ideographs and
    hiragana are single-char tokens; katakana and hangul form runs."""
    std = get_tokenizer("standard")
    assert [t.text for t in std("日本語のテキスト and English")] == [
        "日", "本", "語", "の", "テキスト", "and", "English",
    ]
    assert [t.text for t in std("한국어 텍스트")] == ["한국어", "텍스트"]
    assert [t.text for t in std("mixed日本text")] == ["mixed", "日", "本", "text"]
    for t in std("日本語のテキスト and English"):
        assert "日本語のテキスト and English"[t.begin : t.end] == t.text


def test_classic_filter_default_chain():
    """ClassicFilter parity (reference text_analysis.clj:77-81 + Lucene
    ClassicFilter): applied only when stem?=false and the chain is the
    bare tokenizer; acts only on ClassicTokenizer's ACRONYM/APOSTROPHE
    types — a no-op for the standard tokenizer."""
    # default config (standard tokenizer): no stripping — "John's" stays
    assert text_to_token_strings("John's in the U.S.A. now", merge_config({})) == [
        "John's", "in", "the", "U.S.A", "now",
    ]
    # classic tokenizer, default flags: possessive + acronym stripping,
    # offsets keep the original token span
    toks = analyze("John's in the U.S.A. now", merge_config({"tokenizer": "classic"}))
    assert [(t.text, t.begin, t.end) for t in toks] == [
        ("John", 0, 6), ("in", 7, 9), ("the", 10, 13), ("USA", 14, 20), ("now", 21, 24),
    ]
    # classic + lowercase: chain has LowerCaseFilter, so NO ClassicFilter
    # (reference applies it only to a bare-tokenizer chain)
    assert text_to_token_strings(
        "John's in the U.S.A. now",
        merge_config({"tokenizer": "classic", "case_sensitive": False}),
    ) == ["john's", "in", "the", "u.s.a.", "now"]


def test_ascii_fold():
    assert ascii_fold("wörd") == "word"
    assert ascii_fold("Schön") == "Schon"
    assert ascii_fold("déjà-vu") == "deja-vu"
    assert ascii_fold("plain") == "plain"


def test_porter_stem():
    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop", "falling": "fall",
        "hissing": "hiss", "failing": "fail", "happy": "happi", "sky": "sky",
        "relational": "relat", "conditional": "condit", "rational": "ration",
        "valenci": "valenc", "digitizer": "digit", "operator": "oper",
        "feudalism": "feudal", "decisiveness": "decis", "hopefulness": "hope",
        "formality": "formal", "sensitivity": "sensit", "triplicate": "triplic",
        "formative": "form", "formalize": "formal", "electricity": "electr",
        "hopeful": "hope", "goodness": "good", "revival": "reviv",
        "allowance": "allow", "inference": "infer", "airliner": "airlin",
        "adjustable": "adjust", "defensible": "defens", "irritant": "irrit",
        "replacement": "replac", "adjustment": "adjust", "dependent": "depend",
        "adoption": "adopt", "communism": "commun", "activate": "activ",
        "angularity": "angular", "homologous": "homolog", "effective": "effect",
        "bowdlerize": "bowdler", "probate": "probat", "rate": "rate",
        "cease": "ceas", "controll": "control", "roll": "roll",
        "dogs": "dog", "running": "run", "tests": "test",
    }
    for w, expected in cases.items():
        assert porter_stem(w) == expected, w


def test_config_cascade_three_way():
    # entry > highlighter defaults > library defaults
    conf = merge_config({"case_sensitive": True}, {"case_sensitive": False})
    assert conf.case_sensitive is True
    conf = merge_config({}, {"case_sensitive": False})
    assert conf.case_sensitive is False
    conf = merge_config({}, {})
    assert conf.case_sensitive is True  # library default: case-SENSITIVE
    assert conf.tokenizer == "standard"
    assert conf.stem is False


def test_analyze_offsets_survive_filters():
    conf = AnalysisConfig(case_sensitive=False, ascii_fold=True, stem=True)
    txt = "The Dögs were RUNNING fast"
    for t in analyze(txt, conf):
        assert 0 <= t.begin < t.end <= len(txt)
    assert [t.text for t in analyze(txt, conf)] == ["the", "dog", "were", "run", "fast"]


def test_german_stemmer():
    from beagle_spark.analysis.snowball_de import german2_stem, german_stem

    cases = {
        "häuser": "haus", "hauses": "haus", "haus": "haus",
        "aufeinander": "aufeinand", "abende": "abend", "abends": "abend",
        "kategorien": "kategori", "deutschen": "deutsch",
        "schönheit": "schonheit", "arbeiten": "arbeit",
        "bücher": "buch", "mädchen": "madch",
        "ergebnisse": "ergebnis",  # niss rule
    }
    for w, expected in cases.items():
        assert german_stem(w) == expected, w
    # german2 folds ae/oe to umlauts first
    assert german2_stem("haeuser") == german_stem("häuser")


def test_german_matching_end_to_end():
    from beagle_spark import highlighter

    hl = highlighter([{"text": "Haus", "id": "1", "stem?": True,
                       "stemmer": "german", "case-sensitive?": False}])
    anns = hl("die häuser dort")
    assert len(anns) == 1 and anns[0]["text"] == "häuser"


def test_spanish_stemmer():
    from beagle_spark.analysis.snowball_es import spanish_stem

    cases = {
        "canciones": "cancion", "corriendo": "corr", "tocando": "toc",
        "fácilmente": "facil", "rápidamente": "rapid",
        "trabajador": "trabaj", "trabajadores": "trabaj",
        "trabajando": "trabaj", "biología": "biolog", "lógica": "logic",
        "casas": "cas", "libros": "libr", "española": "español",
        "actividades": "activ", "teniéndoselo": "ten",
        # R2 guards: suffix present but NOT in R2 -> only accent strip
        "solución": "solucion", "presencia": "presenci",
    }
    for w, expected in cases.items():
        assert spanish_stem(w) == expected, (w, spanish_stem(w))
    # matching consistency: dict term and doc token stem identically
    assert spanish_stem("cantando") == spanish_stem("cantando")


def test_spanish_matching_end_to_end():
    from beagle_spark import highlighter

    hl = highlighter([{"text": "trabajador", "id": "1", "stem?": True,
                       "stemmer": "spanish", "case-sensitive?": False}])
    anns = hl("los trabajadores aquí")
    assert len(anns) == 1 and anns[0]["text"] == "trabajadores"


def test_classic_tokenizer_host_email_company_types():
    """Lucene ClassicTokenizer's pre-UAX#29 grammar: HOST/EMAIL/COMPANY
    are single typed tokens; dotless U.S.A is a HOST by longest match
    while dotted U.S.A. stays an ACRONYM; 3.14 stays a NUM."""
    from beagle_spark.analysis.tokenizers import tokenize_classic_typed as tc

    def types(s):
        return [(t.text, ty) for t, ty in tc(s)]

    assert types("example.com") == [("example.com", "HOST")]
    assert types("U.S.A") == [("U.S.A", "HOST")]
    assert types("U.S.A.") == [("U.S.A.", "ACRONYM")]
    assert types("foo@bar.com") == [("foo@bar.com", "EMAIL")]
    assert types("AT&T") == [("AT&T", "COMPANY")]
    assert types("3.14") == [("3.14", "NUM")]


def test_ascii_fastpath_equivalence():
    """Every tokenizer's flat `Tokens` must equal `finditer`'s (group,
    start, end) on its full pattern: ASCII rows of the five byte-scanned
    tokenizers take the byte-class scan, every other row the regex
    split. The same holds row by row when all the cases are scanned as
    one batch, where a token or joiner must never reach across two rows.
    Deterministic fuzz over the joiner-heavy alphabet plus the
    documented edge strings and non-ASCII samples (CJK,
    emoji/ZWJ/keycap, 'İ', '’', no-break and exotic whitespace)."""
    import random

    from beagle_spark.analysis.tokenizers import (
        _CLASSIC_TYPED,
        _PATTERNS,
        TextBatch,
        get_tokenizer,
        scan,
    )

    def spans(pattern, s):
        return [(m.group(), m.start(), m.end()) for m in pattern.finditer(s)]

    def flat(toks):
        return list(zip(toks.texts, toks.begins, toks.ends))

    cases = [
        "", " ", "a", "John's U.S.A U.S.A. 3.14 1,000 a,b R2D2.com x.y.z",
        "don't can't 'quoted' trail' .lead mul..ti 1..2 1.2.3 a.b.c",
        "#hash *star 1# 2* a'b'c'd a'' ''b '' . , .. ', -",
        "a-b_c", "0.0.0.0", "a." * 300, "'" * 50, "1,2,3 4.5,6",
        "[URGENT!] a@b #tag c++ foo@bar.com AT&T (x)=<y>",
    ]
    rng = random.Random(7)
    alphabet = "abcXYZ019'., #\t\n-_*"
    cases += ["".join(rng.choice(alphabet) for _ in range(160)) for _ in range(300)]
    cases += ["".join(rng.choice(alphabet + "@&()[]+=") for _ in range(80)) for _ in range(100)]
    non_ascii = [
        "İstanbul İİ i̇ ISTANBUL", "don’t it’s ’quoted’", "Straße ÄÖÜ É café naïve",
        "日本語のテキスト and English 한국어 mixed日本text",
        "\U0001F469\u200d\U0001F469\u200d\U0001F467 \U0001F44D\U0001F3FD \U0001F1FA\U0001F1F8\U0001F1E9",
        "press 1\ufe0f\u20e3 or #\ufe0f\u20e3 5\u20e3 acme \u00ae\ufe0f \u00a9 \u2122",
        "a\u00a0b\u2007c\u202fd\u3000e\u2028f\u1680g\u2003h  \t\n",
        "\u00a0\u00a0lead and trail\u3000", "x" + "\u0301" * 3 + " y\u0308",
        "two\nlines\r\n and İ\n",
        "Ⓜ x", "\u212aelvin", "İSTANBUL ΣΟΣ",
    ]
    batch = TextBatch.from_strings(cases + non_ascii)
    for name, full in _PATTERNS.items():
        tok = get_tokenizer(name)
        want = [spans(_CLASSIC_TYPED if name == "classic" else full, s)
                for s in cases + non_ascii]
        for s, w in zip(cases + non_ascii, want):
            assert flat(tok(s)) == w, (name, s)
        got = scan(batch, name)
        per_row = np.searchsorted(got.row, np.arange(batch.n + 1))
        for r, w in enumerate(want):
            assert flat(got.tokens(per_row[r], per_row[r + 1])) == w, (name, r)

    # lowercase: analyze(case_sensitive=False) == the tokenizer's
    # tokens lowered per code point (Lucene's LowerCaseFilter), offsets
    # from the original text
    for name in _PATTERNS:
        ci = merge_config({"tokenizer": name, "case_sensitive": False})
        for s in cases + non_ascii + ["Mixed CASE Wörds Straße ÄÖÜ É 3.14 John's"]:
            want = [(analysis.lower(t), b, e) for t, b, e in flat(get_tokenizer(name)(s))]
            assert flat(analyze(s, ci)) == want, (name, s)
    toks = analyze("İstanbul Straße", merge_config({"case_sensitive": False}))
    assert flat(toks) == [("istanbul", 0, 8), ("straße", 9, 15)]


def test_byte_scan_tables_exhaustive():
    """The byte-class tables of the five byte-scanned tokenizers, on
    every string of length <= 4 over a joiner-heavy alphabet, equal the
    full pattern's `finditer`, alone and as rows of one batch (row ends
    are where joiners and token runs must stop); lowering keeps each
    byte's class."""
    from itertools import product

    from beagle_spark.analysis.tokenizers import (
        _BYTE_SCANNED,
        _PATTERNS,
        TextBatch,
        _byte_classes,
        scan,
    )

    lowered = np.frombuffer(bytes(range(256)).lower(), dtype=np.uint8)

    alphabet = ["a", "Z", "0", "'", ".", ",", " ", "\x0b", "\x1c", "#", "@", "-"]
    strings = ["".join(p) for k in range(5) for p in product(alphabet, repeat=k)]
    # empty and null rows between strings repeat a row offset
    spaced = [x for s in strings[:3000] for x in (s, "", None)]
    for name in _BYTE_SCANNED:
        got = scan(TextBatch.from_strings(spaced), name)
        per_row = np.searchsorted(got.row, np.arange(len(spaced) + 1))
        for r, s in enumerate(spaced):
            toks = got.tokens(per_row[r], per_row[r + 1])
            want = [(m.group(), m.start(), m.end()) for m in _PATTERNS[name].finditer(s or "")]
            assert list(zip(toks.texts, toks.begins, toks.ends)) == want, (name, r, s)
    batch = TextBatch.from_strings(strings)
    for name in _BYTE_SCANNED:
        token, _, joins = _byte_classes(name)
        token = np.frombuffer(token, dtype=bool)
        assert (token[lowered] == token).all(), name
        for side, _ in joins:
            assert (side[lowered] == side).all(), name
        got = scan(batch, name)
        assert batch.ascii.all()
        per_row = np.searchsorted(got.row, np.arange(batch.n + 1))
        for r, s in enumerate(strings):
            want = [(m.group(), m.start(), m.end()) for m in _PATTERNS[name].finditer(s)]
            toks = got.tokens(per_row[r], per_row[r + 1])
            assert list(zip(toks.texts, toks.begins, toks.ends)) == want, (name, s)


def test_lowercase_per_code_point_like_lucene():
    """Lucene's LowerCaseFilter lowers each code point on its own
    (`Character.toLowerCase(int)`): 'İ' -> 'i' and every 'Σ' -> 'σ',
    where `str.lower` gives 'i̇' (two chars) and a word-final 'ς'."""
    from beagle_spark.annotator import highlighter

    assert analysis.lower("İSTANBUL ΣΟΣ") == "istanbul σοσ"
    dictionary = [
        {"text": "istanbul", "case-sensitive?": False},
        {"text": "σοσ", "case-sensitive?": False},
    ]
    got = highlighter(dictionary)("İSTANBUL ΣΟΣ")
    assert [(a["text"], a["begin_offset"], a["end_offset"]) for a in got] == [
        ("İSTANBUL", 0, 8), ("ΣΟΣ", 9, 12)
    ]


def _oracle_analyze(text, conf):
    """One row analyzed token by token: the tokenizer's full pattern
    (classic: the typed grammar) via `finditer`, then lowercase, or the
    ClassicFilter by the token's type in its text on a bare classic
    chain, then ascii-fold and stem; emptied tokens dropped."""
    from beagle_spark.analysis.stem import get_stemmer
    from beagle_spark.analysis.tokenizers import _CLASSIC_TYPED, _PATTERNS, _resolve

    name = _resolve(conf.tokenizer)
    bare_classic = (conf.tokenizer == "classic" and conf.case_sensitive
                    and not conf.ascii_fold and not conf.stem)
    out = []
    for m in (_CLASSIC_TYPED if name == "classic" else _PATTERNS[name]).finditer(text or ""):
        s = m.group()
        if not conf.case_sensitive:
            s = analysis.lower(s)
        elif bare_classic and m.lastgroup == "APOSTROPHE" and s[-2:] in ("'s", "'S"):
            s = s[:-2]
        elif bare_classic and m.lastgroup == "ACRONYM":
            s = s.replace(".", "")
        if conf.ascii_fold:
            s = ascii_fold(s)
        if conf.stem:
            s = get_stemmer(conf.stemmer)(s)
        if s:
            out.append((s, m.start(), m.end()))
    return out


def test_analyze_batch_matches_per_row_oracle():
    """`analyze_batch` equals the per-row oracle on every tokenizer (and
    an unknown and an upper-case name) x case x fold x stem, analyzed
    alone and with one `scans` dict shared by all configs; rows mix a
    joiner-heavy ASCII alphabet, the ClassicFilter's edge tokens and
    non-ASCII text. Each `Scan.vocab` is distinct and holds no empty
    token."""
    import random

    from beagle_spark.analysis import TextBatch, analyze_batch
    from beagle_spark.analysis.tokenizers import _PATTERNS

    rng = random.Random(21)
    alphabet = "abcXYZ019'., #\t\n-_*@&"
    words = ["John's", "O'Neil's", "JOHN'S", "a'S", "U.S.A.", "U.S.A", "A.B.C.d", "e.g.", "AT&T",
             "foo@bar.com", "example.com", "3.14", "İSTANBUL", "ΣΟΣ", "Straße", "café", "naïve",
             "Ⓜ", "Kelvin", "日本語", "running", "Runs", "CONNECTIONS", "the", "The", "THE"]
    texts = []
    for _ in range(600):
        k = rng.random()
        if k < 0.45:
            texts.append("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 50))))
        elif k < 0.9:
            texts.append(" ".join(rng.choice(words) for _ in range(rng.randint(0, 10))))
        else:
            texts.append(rng.choice([None, "", "  ", "\t"]))
    batch = TextBatch.from_strings(texts)
    live = ~batch.blank
    confs = [merge_config({"tokenizer": n, "case_sensitive": cs, "ascii_fold": f, "stem": st})
             for n in [*_PATTERNS, "nonesuch", "CLASSIC"]
             for cs in (True, False) for f in (False, True) for st in (False, True)]
    want = {c: [_oracle_analyze(t, c) if live[r] else [] for r, t in enumerate(texts)]
            for c in confs}
    for scans in (None, {}):
        for conf in confs:
            got = analyze_batch(batch, conf, live, scans)
            assert len(set(got.vocab)) == len(got.vocab) and "" not in got.vocab, conf
            rows = [list(zip(t.texts, t.begins, t.ends)) for t in got.per_row(batch.n)]
            for r, w in enumerate(want[conf]):
                assert rows[r] == w, (conf, texts[r])


def test_match_batch_scans_once_per_tokenizer(monkeypatch):
    """Entries that differ only in case and in the ClassicFilter share
    one scan of the batch per tokenizer, and the case-insensitive
    entries of a tokenizer lower each distinct token once. The
    ClassicFilter applies to a bare chain of the tokenizer spelled
    `classic` only: "USA" matches "U.S.A." there, and not under
    `CLASSIC`."""
    import pyarrow as pa

    from beagle_spark.matcher import compile_dictionary, match_batch

    calls, scans, lowered = [], [], []
    scan, lower = analysis.scan, analysis.lower

    def counted_scan(batch, name, *args):
        calls.append(name)
        scans.append(scan(batch, name, *args))
        return scans[-1]

    def counted_lower(s):
        lowered.append(s)
        return lower(s)

    monkeypatch.setattr(analysis, "scan", counted_scan)
    monkeypatch.setattr(analysis, "lower", counted_lower)
    cd = compile_dictionary([
        {"text": "John", "tokenizer": "classic"},
        {"text": "john's", "tokenizer": "classic", "case-sensitive?": False},
        {"text": "John's", "tokenizer": "classic", "ascii-fold?": True},
        {"text": "USA", "tokenizer": "CLASSIC"},
        {"text": "John's"},
        {"text": "john's", "case-sensitive?": False},
        {"text": "USA", "tokenizer": "classic"},
        {"text": "johns", "case-sensitive?": False, "stem?": True},
    ])
    calls.clear()
    scans.clear()
    lowered.clear()
    got = match_batch(pa.array(["John's U.S.A. café", None, "JOHN'S usa"]), cd).to_pylist()
    assert sorted(calls) == ["classic", "standard"]
    assert len(lowered) == sum(len(s.vocab) for s in scans)
    assert [sorted(a["dict_entry_id"] for a in row) for row in got] == [
        ["0", "1", "2", "4", "5", "6", "7"], [], ["1", "5", "7"]]
