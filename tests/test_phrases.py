"""Golden semantics tests ported from the reference's behavioral spec
(reference: test/beagle/phrases_test.clj — file:line cited per test).
No Spark needed: these exercise the local highlighter core that the
Arrow UDF wraps."""

import pytest

from beagle_spark import highlighter

LABEL = "LABEL"


def test_dictionary_entry_record():  # phrases_test.clj:24-28
    anns = highlighter([{"text": "test"}], {"type-name": LABEL})(
        "before annotated test phrase after annotated"
    )
    assert len(anns) == 1


def test_type_per_dictionary_entry():  # phrases_test.clj:30-39
    hl = highlighter(
        [{"text": "test phrase", "id": "1", "meta": {"test": "test"}, "type": "CUSTOM"}],
        {"type-name": LABEL},
    )
    anns = hl("before annotated test phrase after annotated")
    assert anns
    assert anns[0]["dict_entry_id"] == "1"
    assert anns[0]["type"] == "CUSTOM"
    assert anns[0]["text"] == "test phrase"
    assert "_type" not in anns[0]["meta"]


def test_id_and_default_type():  # phrases_test.clj:41-47
    anns = highlighter([{"text": "test", "id": "1", "meta": {"test": "test"}}],
                       {"type-name": LABEL})("before annotated test after annotated")
    assert anns[0]["dict_entry_id"] == "1"
    assert anns[0]["type"] == "LABEL"


def test_metadata_append():  # phrases_test.clj:49-54
    anns = highlighter([{"text": "test", "meta": {"email": "test@example.com"}}],
                       {"type-name": LABEL})("before annotated test after annotated")
    assert anns[0]["meta"] == {"email": "test@example.com"}


def test_classic_filter_possessive_matching():
    """ClassicFilter parity end-to-end (reference text_analysis.clj:77-81):
    with tokenizer=classic (bare-tokenizer chain), entry "John" matches
    possessive "John's" and entry "USA" matches "U.S.A." — highlight
    spans cover the whole original token. Under the DEFAULT standard
    tokenizer Lucene's ClassicFilter is a type-gated no-op, so "John"
    does NOT match "John's" (StandardTokenizer keeps it one token)."""
    anns = highlighter([{"text": "John", "tokenizer": ":classic"}])("John's book")
    assert [(a["text"], a["begin_offset"], a["end_offset"]) for a in anns] == [
        ("John's", 0, 6)
    ]
    anns = highlighter([{"text": "USA", "tokenizer": ":classic"}])("in the U.S.A. today")
    assert [(a["text"], a["begin_offset"], a["end_offset"]) for a in anns] == [
        ("U.S.A.", 7, 13)
    ]
    # default config: StandardTokenizer emits no APOSTROPHE type -> no strip
    assert not highlighter([{"text": "John"}])("John's book")
    # and the acronym stays dotted (joined, trailing dot excluded)
    assert not highlighter([{"text": "USA"}])("in the U.S.A. today")
    assert highlighter([{"text": "U.S.A"}])("in the U.S.A. today")


def test_case_sensitivity():  # phrases_test.clj:56-79
    assert highlighter([{"text": "test"}])("before annotated test after annotated")
    assert not highlighter([{"text": "TeSt", "case-sensitive?": True}])(
        "before annotated test after annotated"
    )
    assert not highlighter([{"text": "test", "case-sensitive?": True}])(
        "before annotated Test after annotated"
    )
    assert highlighter([{"text": "TeSt", "case-sensitive?": False}])(
        "before annotated test after annotated"
    )
    assert highlighter([{"text": "test", "case-sensitive?": False}])(
        "before annotated test after annotated"
    )


def test_ascii_folding():  # phrases_test.clj:81-101
    assert highlighter([{"text": "wörd"}])("before annotated wörd after annotated")
    assert not highlighter([{"text": "wörd"}])("before annotated word after annotated")
    assert highlighter([{"text": "wörd", "ascii-fold?": True}])(
        "before annotated word after annotated"
    )
    assert highlighter([{"text": "word", "ascii-fold?": True}])(
        "before annotated wörd after annotated"
    )
    assert not highlighter([{"text": "word", "ascii-fold?": False}])(
        "before annotated wörd after annotated"
    )


def test_ascii_folding_with_case_sensitivity():  # phrases_test.clj:103-141
    assert not highlighter([{"text": "schön", "ascii-fold?": True}])(
        "before annotated Schön after annotated"
    )
    assert highlighter([{"text": "Schön", "ascii-fold?": True}])(
        "before annotated Schon after annotated"
    )
    assert not highlighter([{"text": "schön", "ascii-fold?": True}])(
        "before annotated Schon after annotated"
    )
    assert highlighter([{"text": "schön", "ascii-fold?": True, "case-sensitive?": False}])(
        "before annotated Schon after annotated"
    )
    assert highlighter([{"text": "schön", "ascii-fold?": True, "case-sensitive?": False}])(
        "before annotated schon after annotated"
    )
    assert highlighter([{"text": "schon", "ascii-fold?": True, "case-sensitive?": False}])(
        "before annotated schön after annotated"
    )
    assert not highlighter([{"text": "schon", "ascii-fold?": False}])(
        "before annotated schön after annotated"
    )


def test_synonyms():  # phrases_test.clj:143-170
    anns = highlighter([{"text": "test", "id": "1", "synonyms": ["beagle"]}],
                       {"type-name": LABEL})("before annotated beagle after annotated")
    assert len(anns) == 1
    assert anns[0]["dict_entry_id"] == "1"
    assert anns[0]["text"] == "beagle"

    assert not highlighter(
        [{"text": "test", "id": "1", "synonyms": ["Luwak"], "case-sensitive?": True}]
    )("before annotated beagle after annotated")

    anns = highlighter(
        [{"text": "test", "id": "1", "synonyms": ["beagle"], "case-sensitive?": False}]
    )("before annotated beagle after annotated")
    assert len(anns) == 1 and anns[0]["dict_entry_id"] == "1"

    # synonyms inherit analysis opts (phrases_test.clj:163-170)
    assert not highlighter([{"text": "test", "synonyms": ["schön"], "ascii-fold?": False}])(
        "before annotated schon after annotated"
    )
    anns = highlighter([{"text": "test", "synonyms": ["schön"], "ascii-fold?": True}])(
        "before annotated schon after annotated"
    )
    assert anns and anns[0]["text"] == "schon"


def test_phrase_end_sentence():  # phrases_test.clj:172-177
    anns = highlighter([{"text": "test-test"}])("before annotated test-test.")
    assert anns and anns[0]["text"] == "test-test"


def test_phrase_in_quotes():  # phrases_test.clj:179-190
    anns = highlighter([{"text": "test-test", "case-sensitive?": False}])(
        'before annotated "TEST-test".'
    )
    assert anns and anns[0]["text"] == "TEST-test"
    # whitespace tokenizer keeps the quotes -> no match
    assert not highlighter(
        [{"text": "test-test", "case-sensitive?": False}], {"tokenizer": "whitespace"}
    )('before annotated "TEST-test".')


def test_overlapping_phrases():  # phrases_test.clj:192-196
    anns = highlighter(
        [{"text": "test phrase test", "case-sensitive?": False}],
        {"tokenizer": "whitespace"},
    )("start test phrase test phrase test end")
    assert len(anns) == 2


def test_en_stemming():  # phrases_test.clj:217-242
    txt = "who let the dogs out?"
    assert not highlighter([{"text": "dog", "id": "1"}])(txt)
    anns = highlighter([{"text": "dog", "id": "1", "stem?": True}])(txt)
    assert anns and anns[0]["text"] == "dogs"
    anns = highlighter([{"text": "dog", "id": "1", "stem?": True, "stemmer": "english"}])(txt)
    assert anns and anns[0]["text"] == "dogs"


def test_phrase_slop():  # phrases_test.clj:244-280
    anns = highlighter([{"text": "start end", "id": "1", "slop": 1}])(
        "before start and end after"
    )
    assert len(anns) == 1 and anns[0]["text"] == "start and end"

    # all terms must match regardless of slop
    assert not highlighter([{"text": "start NOPE end", "id": "1", "slop": 10}])(
        "before start end after"
    )

    anns = highlighter([{"text": "start phrase end phrase", "id": "1", "slop": 1}])(
        "before start phrase and end phrase after"
    )
    assert len(anns) == 1 and anns[0]["text"] == "start phrase and end phrase"

    # phrase edit distance: reversed adjacent pair costs 2 moves
    assert not highlighter([{"text": "end start", "id": "1", "slop": 0}])(
        "before start end after"
    )
    anns = highlighter([{"text": "end start", "id": "1", "slop": 2}])(
        "before start end after"
    )
    assert len(anns) == 1 and anns[0]["text"] == "start end"

    assert not highlighter([{"text": "end start foo", "id": "1", "slop": 100}])(
        "before start end after"
    )


def test_slop_corner_cases():  # phrases_test.clj:307-327
    for slop in (None, 1000000000000, -1):
        assert not highlighter([{"text": "end start foo", "id": "1", "slop": slop}])(
            "before start end after"
        )


def test_dictionary_corner_cases():  # phrases_test.clj:282-292
    anns = highlighter([{"text": "."}, {"text": "text"}], {"tokenizer": "whitespace"})(
        "Some text to test ."
    )
    assert len(anns) == 2
    # "." produces 0 tokens under standard tokenizer -> entry discarded
    anns = highlighter([{"text": "."}, {"text": "text"}])("Some text to test.")
    assert len(anns) == 1
    assert highlighter([{"text": "<html></html>"}, {"text": "text"}])(
        "Some text to test."
    )


def test_slop_edge_values():  # phrases_test.clj:308-327 (noisy-tests slop versions)
    """nil / astronomically large / negative slop must not crash and must
    not match a phrase containing an absent term."""
    txt = "before start end after"
    for slop in (None, 1_000_000_000_000, -1):
        anns = highlighter([{"text": "end start foo", "id": "1", "slop": slop}])(txt)
        assert anns == [], f"slop={slop}"


def test_blank_text():  # phrases_test.clj:301-306
    hl = highlighter([{"text": "test", "id": "1"}])
    assert hl(" `  `") == []
    assert hl("") == []
    assert hl("   ") == []


def test_tokenizer_conf():  # phrases_test.clj:329-344
    anns = highlighter(
        [
            {"text": "URGENT", "id": "a", "tokenizer": "whitespace"},
            {"text": "URGENT", "id": "b", "tokenizer": "standard"},
        ]
    )("URGENT! Do this immediately!")
    assert len(anns) == 1 and anns[0]["dict_entry_id"] == "b"

    anns = highlighter(
        [
            {"text": "[URGENT!]", "id": "a", "tokenizer": "whitespace"},
            {"text": "[URGENT!]", "id": "b", "tokenizer": "standard"},
        ]
    )("[URGENT!] Do this immediately!")
    assert len(anns) == 2
    by_id = {a["dict_entry_id"]: a for a in anns}
    assert by_id["a"]["text"] == "[URGENT!]"
    assert by_id["b"]["text"] == "URGENT"


def test_phrase_ordering_basic_case():  # phrases_test.clj:346-351
    assert len(highlighter([{"text": "Token Mill", "slop": 2, "in-order?": False}])(
        "Mill Token")) == 1
    assert len(highlighter([{"text": "Token Mill", "slop": 2, "in-order?": True}])(
        "Mill Token")) == 0


def test_highlighter_opts_for_slop_with_order():  # phrases_test.clj:353-363
    assert len(highlighter([{"text": "Token Mill"}], {})("Mill Token")) == 0
    assert len(highlighter([{"text": "Token Mill"}], {"slop": 2})("Mill Token")) == 1
    assert (
        len(highlighter([{"text": "Token Mill"}], {"slop": 2, "in-order?": True})(
            "Mill Token")) == 0
    )


def test_ordered_phrase_with_one_term():  # phrases_test.clj:365-367
    assert len(highlighter([{"text": "phrase", "slop": 2, "in-order?": True}])(
        "prefix phrase suffix")) == 1


def test_ordered_phrase_equal_terms():  # phrases_test.clj:369-381
    anns = highlighter([{"text": "phrase phrase", "slop": 2, "in-order?": True}])(
        "prefix phrase phrase suffix"
    )
    assert len(anns) == 1
    assert anns[0]["text"] == "phrase phrase"
    assert (anns[0]["begin_offset"], anns[0]["end_offset"]) == (7, 20)

    anns = highlighter([{"text": "phrase and phrase", "slop": 2, "in-order?": True}])(
        "prefix phrase and phrase suffix"
    )
    assert len(anns) == 1
    assert anns[0]["text"] == "phrase and phrase"
    assert (anns[0]["begin_offset"], anns[0]["end_offset"]) == (7, 24)


def test_ordered_ambiguous_phrase():  # phrases_test.clj:383-412
    anns = highlighter([{"text": "phrase phrase end", "slop": 10, "in-order?": True}])(
        "prefix phrase phrase end suffix"
    )
    assert len(anns) == 1
    assert anns[0]["text"] == "phrase phrase end"
    assert (anns[0]["begin_offset"], anns[0]["end_offset"]) == (7, 24)

    anns = highlighter([{"text": "phrase phrase end", "slop": 10, "in-order?": True}])(
        "prefix phrase phrase end end suffix"
    )
    assert len(anns) == 1
    assert (anns[0]["begin_offset"], anns[0]["end_offset"]) == (7, 24)

    anns = highlighter([{"text": "phrase phrase end", "slop": 1, "in-order?": True}])(
        "prefix phrase phrase a phrase end suffix"
    )
    assert len(anns) == 1
    assert anns[0]["text"] == "phrase a phrase end"
    assert (anns[0]["begin_offset"], anns[0]["end_offset"]) == (14, 33)

    anns = highlighter([{"text": "phrase end end", "slop": 1, "in-order?": True}])(
        "prefix phrase phrase end end suffix"
    )
    assert len(anns) == 1
    assert anns[0]["text"] == "phrase phrase end end"
    assert (anns[0]["begin_offset"], anns[0]["end_offset"]) == (7, 28)

    anns = highlighter([{"text": "phrase end end", "slop": 1, "in-order?": True}])(
        "prefix phrase phrase end end X X phrase phrase end end suffix"
    )
    assert len(anns) == 2
    first = min(anns, key=lambda a: a["begin_offset"])
    assert first["text"] == "phrase phrase end end"
    assert (first["begin_offset"], first["end_offset"]) == (7, 28)


def test_complicated_ordering():  # phrases_test.clj:414-424
    # The reference pins the 2nd highlight as (25,35) "phrase end" with a
    # "FIXME: this highlight is not correct" comment. We keep the
    # spec-correct span (the full matched extent starting at the 2nd
    # "phrase") — documented deviation, SURVEY.md section 2 A13.
    anns = highlighter([{"text": "phrase phrase end", "slop": 10, "in-order?": True}])(
        "prefix phrase phrase end phrase end suffix"
    )
    assert len(anns) == 2
    first = min(anns, key=lambda a: a["begin_offset"])
    assert first["text"] == "phrase phrase end"
    assert (first["begin_offset"], first["end_offset"]) == (7, 24)


def test_preserve_order_edge_cases():  # phrases_test.clj:426-452
    txt = "Prefix Token Mill Infix Token a Mill Suffix"
    assert len(highlighter([{"text": "Token Mill", "slop": 3, "in-order?": False}])(txt)) == 3
    assert len(highlighter([{"text": "Token Mill", "slop": 1, "in-order?": True}])(txt)) == 2
    assert len(highlighter([{"text": "Token Mill", "slop": 0, "in-order?": True}])(txt)) == 1

    highlights = highlighter(
        [{"text": "Token Mill", "slop": 1, "in-order?": True, "meta": {"test": "test"}}]
    )(txt)
    assert len(highlights) == 2
    first = min(highlights, key=lambda a: a["begin_offset"])
    assert first["text"] == "Token Mill"
    assert (first["begin_offset"], first["end_offset"]) == (7, 17)
    assert first["meta"].get("test") == "test"
    assert first["type"] == "PHRASE"
    second = max(highlights, key=lambda a: a["begin_offset"])
    assert second["text"] == "Token a Mill"
    assert (second["begin_offset"], second["end_offset"]) == (24, 36)


def test_annotator_options_defaults():  # phrases_test.clj:454-492
    # highlighter-level defaults cascade into entries
    assert highlighter([{"text": "TEST"}], {"case-sensitive?": False})(
        "before annotated test after annotated"
    )
    assert highlighter([{"text": "wörd"}], {"ascii-fold?": True})(
        "before annotated word after annotated"
    )
    assert highlighter([{"text": "dog"}], {"stem?": True, "stemmer": "english"})(
        "who let the dogs out?"
    )


def test_phrases_with_edit_distance():  # phrases_test.clj:494-521
    anns = highlighter([{"text": "token mill", "fuzzy?": True, "fuzziness": 1}])(
        "prefix tokne mill suffix"
    )
    assert len(anns) == 1 and anns[0]["text"] == "tokne mill"

    assert not highlighter([{"text": "token mill", "fuzzy?": True, "fuzziness": 1}])(
        "prefix mill tokne suffix"
    )
    assert not highlighter(
        [{"text": "mill token", "fuzzy?": True, "fuzziness": 1, "in-order?": True}]
    )("prefix tokne mill suffix")

    anns = highlighter(
        [{"text": "token mill", "fuzzy?": True, "fuzziness": 1, "in-order?": False}]
    )("prefix mill tokne suffix")
    assert len(anns) == 1 and anns[0]["text"] == "mill tokne"

    assert not highlighter(
        [{"text": "mill token", "fuzzy?": True, "fuzziness": 1, "in-order?": False}]
    )("prefix tokne uab mill suffix")


def test_annotation_text_equals_span():
    """Invariant: annotation text == original[begin:end] (schema.clj:36-37)."""
    hl = highlighter(
        [{"text": "test phrase", "id": "1"}, {"text": "annotated", "id": "2"}]
    )
    txt = "before annotated test phrase after annotated"
    for a in hl(txt):
        assert a["text"] == txt[a["begin_offset"] : a["end_offset"]]


def test_synonym_optimization_counts():  # dictionary_optimization_test.clj:synonym-optimization
    anns = highlighter(
        [{"text": "test", "id": "1", "synonyms": ["beagle", "luwak1"]}],
        {"type-name": "TEST"},
    )("this is a beagle text test luwak1")
    assert len(anns) == 3
    assert {a["dict_entry_id"] for a in anns} == {"1"}


def test_nul_byte_in_first_phrase_term_matches():
    """Regression (r22, ADVICE r21): a multi-term phrase whose FIRST
    term contains a NUL byte (possible under the whitespace/keyword
    tokenizers, whose tokens aren't restricted to alnum) used to be
    silently truncated by the exact-index key round-trip
    (join('\\x00').split('\\x00', 1)) and never matched. The index is
    now keyed on term tuples directly."""
    from beagle_spark.annotator import highlighter

    hl = highlighter(
        [{"text": "a\x00b second", "id": "nul"}], {"tokenizer": "whitespace"}
    )
    anns = hl("prefix a\x00b second suffix")
    assert [a["dict_entry_id"] for a in anns] == ["nul"]
