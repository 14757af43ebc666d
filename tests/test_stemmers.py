"""Per-language stemmer coverage: all 26 reference stemmer names
resolve to a real implementation (no identity fallback), inflection
families collapse, and the reference's pinned stemming behaviors hold
end-to-end (reference: test/beagle/phrases_test.clj:198-242)."""

import warnings

import pytest

from beagle_spark import highlighter
from beagle_spark.analysis.stem import get_stemmer

ALL_26 = [
    "arabic", "armenian", "basque", "catalan", "danish", "dutch",
    "english", "estonian", "finnish", "french", "german", "german2",
    "hungarian", "irish", "italian", "kp", "lithuanian", "lovins",
    "norwegian", "porter", "portuguese", "romanian", "russian",
    "spanish", "swedish", "turkish",
]


@pytest.mark.parametrize("lang", ALL_26)
def test_no_identity_fallback(lang):
    """Every language resolves without the identity-fallback warning and
    actually changes at least one inflected form."""
    get_stemmer.cache_clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # identity fallback would raise
        fn = get_stemmer(lang)
    probes = {
        "arabic": "الكتابات", "armenian": "գրքերում", "basque": "etxeak",
        "catalan": "cantava", "danish": "huset", "dutch": "fietsen",
        "english": "dogs", "estonian": "majast", "finnish": "taloissa",
        "french": "continuera", "german": "aufeinander", "german2": "häusern",
        "hungarian": "házakat", "irish": "bhfuinneog", "italian": "cantavano",
        "kp": "fietsen", "lithuanian": "miestas", "lovins": "nationally",
        "norwegian": "huset", "porter": "running", "portuguese": "cantando",
        "romanian": "orașului", "russian": "книгами", "spanish": "cantando",
        "swedish": "flickorna", "turkish": "evlerinden",
    }
    probe = probes[lang]
    assert fn(probe) != probe.lower() or fn(probe) != probe, (
        f"{lang}: stemmer is identity on {probe!r}"
    )


# Inflection families that must collapse to one stem per language.
FAMILIES = {
    "danish": ["hus huset huse husene"],
    "norwegian": ["bil bilen biler bilene"],
    "swedish": ["flicka flickor flickorna", "stark starka starkast"],
    "dutch": ["kat katten", "lichamelijk lichamelijke"],
    "kp": ["kat katten"],
    "russian": ["книга книги книгу книгой", "красивый красивая красивое"],
    "french": ["continuer continua continué continue", "nationale nationaux national"],
    "italian": ["cantare cantato cantava", "bella belle"],
    "portuguese": ["cantar canta cantou cantado", "livro livros"],
    "catalan": ["cantar canta cantava", "jugador jugadora jugadores jugadors"],
    "romanian": ["carte cartea", "naționale național"],
    "lithuanian": [
        "Kaunas Kauno", "Sabonis Saboniai", "miestas miesto miestą",
        # full-paradigm pins for the published-program tables (round 3)
        "vyras vyro vyrui vyrą vyru vyre vyrai vyrų vyrams vyrus vyrais vyruose",
        "katė katės katei katę kačių",
        "sūnus sūnaus sūnui sūnumi",
        "dirba dirbo dirbame dirbti dirbk dirbdavome",
        "lietuvaitė lietuvaite lietuvaitę",
    ],
    "estonian": [
        "maja majas majast majale",
        # full-paradigm pins for the published-program phases (round 3)
        "maja majani majata majaga majad majade majadest",
        "raamatus raamatust raamatusse raamatute raamatutes raamatugi raamatuid",
        "elan elab elame elasin elasime elaks elanud",
        "lugemine lugemise lugemist lugemises",
        "eestlane eestlase eestlast",
        "joob juua joome joodud",
    ],
    "finnish": ["talo talossa talosta taloon"],
    "hungarian": ["ház házat házak házban"],
    "turkish": ["ev evler evlerin evlerden"],
    "arabic": ["كتاب الكتاب بالكتاب كتابهم"],
    "armenian": ["քաղաքները քաղաքներում"],
    "basque": ["etxe etxeak etxeen"],
    "irish": ["fuinneog bhfuinneog"],
    "english": ["dog dogs", "running runs run"],
    "porter": ["connect connected connecting connection"],
    "lovins": ["nation nationally"],
    "german": ["haus hauses"],
    "german2": ["haus hauses"],
    "spanish": ["canta cantar cantando"],
}


@pytest.mark.parametrize("lang", sorted(FAMILIES))
def test_inflection_family_collapses(lang):
    fn = get_stemmer(lang)
    for family in FAMILIES[lang]:
        words = family.split()
        stems = {fn(w) for w in words}
        assert len(stems) == 1, f"{lang}: {dict((w, fn(w)) for w in words)}"


# --- reference-pinned end-to-end behaviors (phrases_test.clj:198-242) ---


def test_lt_stemming_reference_pins():
    # {:text "Kaunas" :stem? true :stemmer :lithuanian} matches "Kauno miestas"
    anns = highlighter([
        {"text": "Kaunas", "id": "1", "stem?": True, "stemmer": ":lithuanian"}
    ])("Kauno miestas")
    assert anns and anns[0]["text"] == "Kauno"
    # case-insensitive variant
    anns = highlighter([
        {"text": "Kaunas", "id": "1", "case-sensitive?": False, "stem?": True,
         "stemmer": ":lithuanian"}
    ])("kauno miestas")
    assert anns and anns[0]["text"] == "kauno"


def test_et_stemming_reference_pin():
    # estonian stemmer must NOT make "dog" match "dogs"
    anns = highlighter([
        {"text": "dog", "id": "1", "stem?": True, "stemmer": ":estonian"}
    ])("who let the dogs out?")
    assert anns == []


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _WORD = st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Lo", "Mn", "Nd"), max_codepoint=0x2FFF
        ),
        min_size=0,
        max_size=24,
    )

    @given(_WORD)
    @settings(max_examples=200, deadline=None)
    def test_stemmers_total_and_deterministic(word):
        """Every stemmer is total (no exception on arbitrary unicode-ish
        words), deterministic, and output stays within a small bound of
        the input length (replacement rules may lengthen slightly)."""
        for lang in ALL_26:
            fn = get_stemmer(lang)
            out = fn(word)
            assert isinstance(out, str)
            assert out == fn(word)
            assert len(out) <= len(word) + 4, (lang, word, out)

except ImportError:  # pragma: no cover
    pass


def test_mixed_stemmers_reference_pin():
    # {Sabonis :lithuanian, play :english} over "Saboniai plays basketball"
    anns = highlighter([
        {"text": "Sabonis", "id": "1", "stem?": True, "stemmer": ":lithuanian"},
        {"text": "play", "id": "2", "stem?": True, "stemmer": ":english"},
    ])("Saboniai plays basketball")
    assert len(anns) == 2


# --- round-3 fidelity upgrades: hu / tr / kp pinned behaviors --------------
def test_hungarian_published_structure_pins():
    from beagle_spark.analysis.snowball_fi_hu import hungarian_stem as h

    # case + plural chains (published step order: case -> ... -> plural)
    assert h("házakat") == "ház"      # 'at' case then 'ak' plural
    assert h("házban") == "ház"
    assert h("házakban") == "ház"
    assert h("babot") == "bab"
    assert h("házaink") == "ház"      # plural-owner 'aink'
    assert h("könyvem") == "könyv"    # singular-owner 'em'
    # instrumental with consonant undoubling
    assert h("könyvvel") == "könyv"
    # á/é restoration after case removal
    assert h("almák") == "alma"
    # inflection family collapse
    assert len({h(w) for w in ("ház", "házat", "házak", "házakat", "házban")}) == 1


def test_turkish_published_structure_pins():
    from beagle_spark.analysis.snowball_misc import turkish_stem as t

    # single-syllable words are never stemmed
    assert t("ev") == "ev"
    assert t("at") == "at"
    # noun suffix phases: case -> possessive -> plural, each once
    assert t("kitaplarında") == "kitap"
    assert t("kitaplarımda") == "kitap"
    assert t("gözlerinde") == "göz"
    assert t("evdeki") == "ev"
    # final devoicing reversal
    assert t("kitabı") == "kitap"
    # vowel harmony blocks non-harmonic strips; buffer y needs a vowel
    assert t("arabaya") == "araba"    # NOT over-stemmed to 'arab/arap'
    # family collapse
    assert len({t(w) for w in ("ev", "evler", "evde", "evden", "evlerinden")}) == 1
    assert len({t(w) for w in ("kitap", "kitaplar", "kitabı", "kitapları")}) == 1


def test_kp_distinct_from_dutch_and_collapses():
    from beagle_spark.analysis.snowball_nl import dutch_stem, kp_stem

    # kp is a real algorithm now, not an alias: it must disagree with
    # snowball dutch somewhere (ge- prefix loss is the signature)
    assert kp_stem("gelopen") == kp_stem("lopen")      # ge- participle
    assert kp_stem("gelopen") != dutch_stem("gelopen")
    # voiced-fricative restore on -en removal
    assert kp_stem("huizen") == kp_stem("huis")
    assert kp_stem("duiven") == kp_stem("duif")
    # -heden/-heid plural
    assert kp_stem("vrijheden") == kp_stem("vrijheid")
    # diminutive kje -> g restore
    assert kp_stem("koninkje") == kp_stem("koning")
    # superlative
    assert kp_stem("grootst") == kp_stem("groot")
    # plain families
    assert kp_stem("boeken") == kp_stem("boek")
    assert kp_stem("katten") == kp_stem("kat")


def test_stemmers_ignore_installed_bindings(monkeypatch):
    """Every language runs its in-repo implementation even when a
    Snowball binding (snowballstemmer / PyStemmer) is importable: the
    driver compiling the dictionary and the executors stemming the
    documents must run the same stemmer whatever each image holds."""
    import sys
    import types

    words = ["running", "nationally", "häusern", "gelopen", "continuera",
             "книгами", "evlerinden", "الكتابات", "taloissa", "cantando"]
    get_stemmer.cache_clear()
    expected = {lang: [get_stemmer(lang)(w) for w in words] for lang in ALL_26}
    calls = []

    def _binding(name):
        calls.append(name)
        return types.SimpleNamespace(stemWord=lambda w: "BINDING:" + w)

    monkeypatch.setitem(sys.modules, "snowballstemmer",
                        types.SimpleNamespace(stemmer=_binding))
    monkeypatch.setitem(sys.modules, "Stemmer",
                        types.SimpleNamespace(Stemmer=_binding))
    get_stemmer.cache_clear()
    try:
        got = {lang: [get_stemmer(lang)(w) for w in words] for lang in ALL_26}
    finally:
        get_stemmer.cache_clear()
    assert got == expected
    assert calls == []
