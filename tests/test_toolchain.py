"""Dictionary toolchain tests: merger, optimizer, readers, validator.
Ported from reference test/beagle/{annotation_merge,
dictionary_optimization, optimization_suggestions, readers,
validator}_test.clj."""

import io

import pytest

from beagle_spark import highlighter
from beagle_spark.dictionary import (
    dry_run,
    optimize,
    read_csv,
    read_edn,
    read_json,
    valid_dictionary,
    validate_dictionary,
)
from beagle_spark.matcher import merge_same_type_annotations


# ---------------------------------------------------------------------------
# annotation merger (annotation_merge_test.clj)
# ---------------------------------------------------------------------------
def _ann(text, type_, id_, begin, end):
    return {
        "text": text, "type": type_, "dict_entry_id": id_, "meta": {},
        "begin_offset": begin, "end_offset": end,
    }


def test_annotation_merge():  # annotation_merge_test.clj:27-41
    merged = merge_same_type_annotations(
        [
            _ann("AAAAA", "TEST", "1", 0, 5),
            _ann("A", "TEST", "3", 0, 1),
            _ann("AAAA", "TEST", "2", 1, 5),
        ]
    )
    assert merged == [_ann("AAAAA", "TEST", "1", 0, 5)]

    merged = merge_same_type_annotations(
        [
            _ann("AAAAA", "TEST", "1", 0, 5),
            _ann("A", "TEST", "2", 0, 1),
            _ann("AAAA", "TEST", "3", 1, 5),
            _ann("AAA", "TEST2", "10", 0, 3),
            _ann("A", "TEST2", "11", 0, 1),
        ]
    )
    assert sorted(
        [(m["type"], m["text"]) for m in merged]
    ) == [("TEST", "AAAAA"), ("TEST2", "AAA")]


def test_annotator_with_merge_option():  # annotation_merge_test.clj:6-25
    dictionary = [
        {"text": "1 2"}, {"text": "2"}, {"text": "1 2 3 4"}, {"text": "4"},
        {"text": "5"}, {"text": "6 5 3 7"}, {"text": "6 5"},
    ]
    hl = highlighter(dictionary, {"type-name": "TEST"})
    text = "A B C 1 2 3 4 D E F G 6 5 3 7"
    plain = hl(text)
    assert len(hl(text, {"merge-annotations?": False})) == len(plain)
    merged = hl(text, {"merge-annotations?": True})
    assert len(merged) < len(plain)
    assert sorted((m["text"], m["begin_offset"], m["end_offset"]) for m in merged) == [
        ("1 2 3 4", 6, 13),
        ("6 5 3 7", 22, 29),
    ]


# ---------------------------------------------------------------------------
# optimizer (dictionary_optimization_test.clj)
# ---------------------------------------------------------------------------
def test_dictionary_optimization():  # dictionary_optimization_test.clj:47-86
    dictionary = [
        {"case-sensitive?": True, "ascii-fold?": True, "synonyms": ["AAAA1"], "text": "AAAA"},
        {"case-sensitive?": True, "ascii-fold?": True, "synonyms": ["AAAA2"], "text": "AAAA"},
        {"case-sensitive?": False, "ascii-fold?": True, "synonyms": ["AAAA3"], "text": "AAAA"},
        {"case-sensitive?": True, "ascii-fold?": True, "synonyms": ["AAAA4"], "text": "AAAA"},
        {"case-sensitive?": True, "ascii-fold?": False, "synonyms": ["AAAA5"], "text": "AAAA"},
        {"case-sensitive?": True, "ascii-fold?": False, "synonyms": ["AAAA"], "text": "AAAA"},
        {"case-sensitive?": False, "synonyms": ["BBBB1"], "text": "BBBB"},
        {"case-sensitive?": False, "synonyms": ["BBBB"], "text": "BBBB"},
    ]
    optimized = optimize(dictionary)
    assert len(optimized) < len(dictionary)
    assert len(optimized) == 4
    expected = {
        ("AAAA", True, True): {"AAAA4", "AAAA2", "AAAA1"},
        ("AAAA", False, True): {"AAAA3"},
        ("AAAA", True, False): {"AAAA5"},
        ("BBBB", False, None): {"BBBB1"},
    }
    for e in optimized:
        key = (e["text"], e.get("case-sensitive?"), e.get("ascii-fold?"))
        assert set(e.get("synonyms") or []) == expected[key]


def test_optimize_keeps_match_shape():
    """Entries that differ in slop/in-order/fuzzy never merge, and a
    merged entry keeps every key of the first one, so optimizing the
    dictionary does not change what it matches."""
    out = optimize([
        {"text": "big data", "fuzzy": True, "in_order": True, "slop": 3},
        {"text": "big data", "slop": 0},
    ])
    assert out == [
        {"text": "big data", "fuzzy": True, "in_order": True, "slop": 3},
        {"text": "big data", "slop": 0},
    ]
    # both spellings of a shape key group together; keys keep the
    # first entry's spelling
    out = optimize([
        {"text": "a b", "fuzzy?": True, "fuzziness": 1, "synonyms": ["x"]},
        {"text": "a b", "fuzzy": True, "fuzziness": 1, "synonyms": ["y"]},
    ])
    assert out == [{"text": "a b", "fuzzy?": True, "fuzziness": 1,
                    "synonyms": ["x", "y"]}]
    dictionary = [{"text": "big data", "fuzzy?": True}, {"text": "big data"}]
    plain = highlighter(dictionary)("bog data")
    assert plain
    assert highlighter(dictionary, {"optimize-dictionary?": True})("bog data") == plain


def test_meta_merge_mergeable():  # dictionary_optimization_test.clj:6-45
    from beagle_spark.dictionary.optimizer import _aggregate_by_meta, _mergeable_meta

    assert _mergeable_meta({}, {"meta": {"email": "123"}})
    assert _mergeable_meta({"meta": {}}, {"meta": {"email": "123"}})
    assert _mergeable_meta({"meta": {"email": "123"}}, {})
    assert _mergeable_meta({"meta": {"email": "123"}}, {"meta": {"email": "123"}})
    assert _mergeable_meta(
        {"meta": {"email": "123"}}, {"meta": {"email": "123", "total": 5646}}
    )
    assert not _mergeable_meta({"meta": {"email": "123"}}, {"meta": {"email": "321"}})

    agg = _aggregate_by_meta(
        [
            {"text": "test text", "id": "test-id", "synonyms": ["abc"],
             "case-sensitive?": True, "ascii-fold?": True,
             "meta": {"email": "test@example.com"}},
            {"text": "test text", "id": "test-id", "synonyms": ["def"],
             "case-sensitive?": True, "ascii-fold?": True,
             "meta": {"email": "bobby@example.com"}},
            {"text": "test text", "id": "test-id", "synonyms": ["XXXX"],
             "case-sensitive?": True, "ascii-fold?": True,
             "meta": {"email": "test@example.com", "abc": "123"}},
        ]
    )
    assert len(agg) == 2
    assert set(agg[0]["synonyms"]) == {"abc", "XXXX"}
    assert agg[0]["meta"] == {"email": "test@example.com", "abc": "123"}
    assert set(agg[1]["synonyms"]) == {"def"}


def test_dry_run_suggestions():  # optimization_suggestions_test.clj
    dictionary = [
        {"text": "A", "case-sensitive?": True},
        {"text": "A", "case-sensitive?": True},
        {"text": "B"},
    ]
    suggestions = dry_run(dictionary)
    assert len(suggestions) == 1
    assert len(suggestions[0]["dictionary_items"]) == 2


# ---------------------------------------------------------------------------
# readers (readers_test.clj; CSV semantics readers.clj:18-47)
# ---------------------------------------------------------------------------
def test_read_csv_semantics():
    csv_text = (
        "text,type,id,synonyms,case-sensitive?,meta\n"
        'test phrase,TYPE,id1,syn1;syn2,true,k1;v1;k2;v2\n'
        "other, ,id2,,false,oddkey\n"
        'quoted "x",T,,s1, TRUE ,\n'
    )
    out = read_csv(io.StringIO(csv_text))
    assert out[0]["text"] == "test phrase"
    assert out[0]["synonyms"] == ["syn1", "syn2"]
    assert out[0]["case-sensitive?"] is True
    assert out[0]["meta"] == {"k1": "v1", "k2": "v2"}
    # blank cells dropped; Boolean/valueOf: non-"true" -> False
    assert "type" not in out[1]
    assert out[1]["case-sensitive?"] is False
    # odd trailing meta key dropped
    assert "meta" not in out[1] or out[1]["meta"] == {}
    assert out[2]["case-sensitive?"] is True  # trimmed, case-insensitive parse
    # columns parse by the field their header names, in any spelling,
    # and keep the header's own spelling
    out = read_csv(io.StringIO("text,case_sensitive,stem,:slop\nRunning,false,false,1\n"))
    assert out == [{"text": "Running", "case_sensitive": False, "stem": False, ":slop": 1}]
    assert highlighter(out)("running") and not highlighter(out)("run")


def test_read_dictionary_df_csv(spark, tmp_path):
    """A CSV dictionary read through Spark parses its cells like
    `read_csv`: flags are booleans, not the strings "true"/"false"."""
    from beagle_spark.dictionary import read_dictionary_df

    p = tmp_path / "dict.csv"
    p.write_text("text,case_sensitive,slop,synonyms\nBig Data,false,2,bd;b d\n")
    assert read_dictionary_df(spark, str(p)) == read_csv(str(p)) == [
        {"text": "Big Data", "case_sensitive": False, "slop": 2, "synonyms": ["bd", "b d"]}
    ]


def test_read_json():
    out = read_json(io.StringIO('[{"text": "a", "id": "1"}, {"text": "b"}]'))
    assert out == [{"text": "a", "id": "1"}, {"text": "b"}]


def test_read_edn():
    out = read_edn(io.StringIO(
        '[{:text "a" :id "1" :synonyms ["x" "y"] :case-sensitive? false}'
        ' {:text "b" :slop 2}]'
    ))
    assert out[0]["text"] == "a"
    assert out[0]["synonyms"] == ["x", "y"]
    assert out[0]["case-sensitive?"] is False
    assert out[1] == {"text": "b", "slop": 2}


# ---------------------------------------------------------------------------
# validator (validator_test.clj)
# ---------------------------------------------------------------------------
def test_validator():
    assert valid_dictionary([{"text": "a"}])
    assert not valid_dictionary([])
    assert not valid_dictionary([{"text": ""}])
    assert not valid_dictionary([{"text": "  "}])
    assert not valid_dictionary([{"id": "1"}])  # text required
    assert validate_dictionary([{"text": "a", "slop": -1}])
    assert validate_dictionary([{"text": "a", "synonyms": ["", "x"]}])
    assert validate_dictionary([{"text": "a", "tokenizer": "bogus"}])
    assert not validate_dictionary(
        [{"text": "a", "tokenizer": "whitespace", "stemmer": "lithuanian",
          "slop": 3, "case-sensitive?": False, "meta": {"k": "v"}}]
    )
    with pytest.raises(ValueError):
        validate_dictionary([{"text": None}], raise_on_error=True)
    # every spelling of a field is checked, and `fuzziness` is an integer
    assert validate_dictionary([{"text": "a", "in-order": "yes"}])
    assert validate_dictionary([{"text": "a", "fuzziness": "2"}])
    assert validate_dictionary([{"text": "a", "fuzzy?": True, "fuzziness": "2"}])
    assert validate_dictionary([{"text": "a", "fuzziness": -1}])
    assert not validate_dictionary([{"text": "a", "fuzzy?": True, "fuzziness": 2}])
    # the raw entries are validated before they are converted
    with pytest.raises(ValueError, match="meta"):
        highlighter([{"text": "a", "meta": "x"}], {"validate-dictionary?": True})


def test_validator_cli(tmp_path):
    from beagle_spark.dictionary.validator import main

    good = tmp_path / "good.csv"
    good.write_text("text,id\nhello,1\n")
    bad = tmp_path / "bad.json"
    bad.write_text('[{"id": "no-text"}]')
    assert main([str(good), "csv"]) == 0
    assert main([str(bad), "json"]) == 1
    # a snake_case CSV is typed by `read_csv` before it is checked
    snake = tmp_path / "snake.csv"
    snake.write_text("text,case_sensitive,in_order,slop\nhello there,false,true,1\n")
    assert main([str(snake), "csv"]) == 0
    snake.write_text("text,fuzzy,fuzziness\nhello,true,-1\n")
    assert main([str(snake), "csv"]) == 1
    fuzziness = tmp_path / "fuzziness.json"
    fuzziness.write_text('[{"text": "hello", "fuzzy?": true, "fuzziness": "2"}]')
    assert main([str(fuzziness), "json"]) == 1
    assert main([str(good)]) == 1  # odd arg count
    assert main([str(good), "xml"]) == 1  # unsupported type


def test_compile_error_isolation():
    """A bad dictionary entry is logged and skipped; the rest compile
    (reference: monitor.clj:34-46 per-query fallback)."""
    from beagle_spark.matcher import compile_dictionary

    class Exploding:
        def __str__(self):
            raise RuntimeError("boom")

    cd = compile_dictionary(
        [
            {"text": "good entry", "id": "ok"},
            {"text": "x", "id": Exploding()},  # str(id) raises in compile
            {"text": "", "id": "blank"},  # 0 tokens -> discarded with warning
            {"id": "no-text"},  # no text -> discarded like a 0-token entry
            "not a map",  # does not convert -> logged and skipped
            {"text": "", "synonyms": 5},  # synonyms do not expand -> logged
        ]
    )
    assert cd.n_queries == 1
    from beagle_spark.matcher import match_text

    assert match_text("a good entry here", cd)[0]["dict_entry_id"] == "ok"


def test_both_compilers_read_entries_alike():
    """The phrase and the Lucene compiler read entries through one front
    end: an entry without text is dropped by both, and an id is kept
    unless it is None (`0` and `""` included), else it is the entry's
    position."""
    from beagle_spark.lucene_query import lucene_annotator

    d = [{"text": "alpha", "id": "a"}, {"id": "no-text"}, {"text": "beta", "id": 0},
         {"text": "gamma", "id": ""}, {"text": "delta"}]
    text = "alpha beta gamma delta"
    phrase_ids = [a["dict_entry_id"] for a in highlighter(d)(text)]
    lucene_ids = [a["dict_entry_id"] for a in lucene_annotator(d)(text)]
    assert phrase_ids == lucene_ids == ["a", "0", "", "4"]
