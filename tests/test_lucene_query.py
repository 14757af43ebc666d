"""Lucene query-string annotator tests (reference:
test/beagle/lucene_alpha_test.clj + classic-parser semantics)."""

import pytest

from beagle_spark.lucene_query import (
    lucene_annotator,
    parse_query,
    to_spark_predicate,
)
from beagle_spark.analysis import merge_config

CONF = merge_config({}, {})


def test_smoke_and():  # lucene_alpha_test.clj:6-14
    txt = "some text this other that"
    ann = lucene_annotator([{"text": "this AND that", "id": "1", "slop": 1}])
    anns = ann(txt)
    assert anns == ann(txt, {})
    assert len(anns) == 1
    assert anns[0]["dict_entry_id"] == "1"
    assert anns[0]["type"] == "QUERY"
    assert anns[0]["text"] == "this AND that"


def test_smoke_and_negative():  # lucene_alpha_test.clj:16-22
    txt = "some text this AND"
    ann = lucene_annotator([{"text": "this AND thatx", "id": "1"}])
    assert ann(txt) == []


def test_smoke_regex():  # lucene_alpha_test.clj:24-30
    txt = "some number 1234 test"
    ann = lucene_annotator([{"text": "/.*\\d*.*/", "id": "1", "slop": 1}])
    assert len(ann(txt)) > 0


def test_boolean_operators():
    ann = lucene_annotator([{"text": "a AND (b OR c) AND NOT d", "id": "q"}])
    assert ann("a b x")
    assert ann("a c x")
    assert not ann("a x")
    assert not ann("a b d")


def test_plus_minus():
    ann = lucene_annotator([{"text": "+alpha -beta gamma", "id": "q"}])
    assert ann("alpha something")
    assert not ann("alpha beta")
    assert not ann("gamma only")  # +alpha is required


def test_phrase_clause():
    ann = lucene_annotator([{"text": '"big table scan"', "id": "q"}])
    assert ann("the big table scan runs")
    assert not ann("big scan of table")  # order matters at slop 0
    ann = lucene_annotator([{"text": '"big scan"~2', "id": "q"}])
    assert ann("big table scan")


def test_wildcard_and_fuzzy():
    ann = lucene_annotator([{"text": "tabl*", "id": "q"}])
    assert ann("table here")
    assert ann("tablature here")
    assert not ann("tab here")
    ann = lucene_annotator([{"text": "table~1", "id": "q"}])
    assert ann("tble x")  # 1 deletion
    assert not ann("tb x")


def test_parse_error_drops_entry():
    ann = lucene_annotator([{"text": "(((", "id": "bad"}, {"text": "ok", "id": "good"}])
    anns = ann("ok text")
    assert [a["dict_entry_id"] for a in anns] == ["good"]


def test_case_insensitive_conf():
    ann = lucene_annotator(
        [{"text": "Urgent AND Delivery", "id": "q", "case-sensitive?": False}]
    )
    assert ann("URGENT delivery now")


def test_spark_predicate_compiles(spark):
    from pyspark.sql import functions as F

    node = parse_query("a AND (b OR c) AND NOT d", CONF)
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "d", "b"]), (3, ["c"]), (4, ["a", "c", "x"])],
        ["id", "tokens"],
    )
    got = sorted(
        r["id"] for r in df.filter(to_spark_predicate(node, F.col("tokens"))).collect()
    )
    assert got == [1, 4]


# --- classic QueryParser completeness: ranges, boosts, escapes -------------
def test_range_inclusive_exclusive():
    ann = lucene_annotator([{"text": "[bat TO dog]", "id": "q"}])
    assert ann("a cat here")          # bat <= cat <= dog
    assert ann("the bat itself")      # inclusive lower
    assert ann("the dog itself")      # inclusive upper
    assert not ann("an ant only")
    assert not ann("an elephant only")
    ann = lucene_annotator([{"text": "{bat TO dog}", "id": "q"}])
    assert ann("a cat here")
    assert not ann("the bat itself")  # exclusive lower
    assert not ann("the dog itself")  # exclusive upper


def test_range_open_ended_and_field_prefix():
    ann = lucene_annotator([{"text": "[m TO *]", "id": "q"}])
    assert ann("zebra nap")
    assert not ann("apple bee")
    ann = lucene_annotator([{"text": "title:[a TO c]", "id": "q"}])
    assert ann("a banana")  # field prefix ignored (single-field engine)
    # the prefix must bind to the range, not become its own OR'd term: a
    # doc containing the literal token "title" but nothing in [a TO c]
    # must NOT match (advisor-found false positive).
    assert not ann("title of zzz")


def test_field_prefix_binds_to_group_phrase_regex():
    ann = lucene_annotator([{"text": "title:(foo bar)", "id": "q"}])
    assert ann("some foo here")
    assert not ann("title only here")
    ann = lucene_annotator([{"text": 'title:"foo bar"', "id": "q"}])
    assert ann("a foo bar b")
    assert not ann("title foo only")
    ann = lucene_annotator([{"text": "title:/fo+/", "id": "q"}])
    assert ann("foo")
    assert not ann("title")


def test_range_combines_with_booleans():
    ann = lucene_annotator([{"text": "alpha AND [bat TO dog]", "id": "q"}])
    assert ann("alpha cat")
    assert not ann("alpha zebra")
    assert not ann("cat only")


def test_boosts_parse_and_ignore():
    ann = lucene_annotator([{"text": "table^2", "id": "q"}])
    assert ann("a table here")
    assert not ann("nothing")
    ann = lucene_annotator([{"text": '"big scan"^3 OR missing^0.5', "id": "q"}])
    assert ann("big scan now")
    assert ann("missing now")
    assert not ann("other text")
    ann = lucene_annotator([{"text": "(alpha OR beta)^4", "id": "q"}])
    assert ann("beta x")


def test_backslash_escapes():
    # escaped parens/colon are literal; analysis strips punctuation, so
    # the escaped form must parse (not error) and match the inner term
    ann = lucene_annotator([{"text": r"\(quoted\)", "id": "q"}])
    assert ann("a quoted word")
    # escaped wildcard is literal -> not a wildcard query
    ann = lucene_annotator([{"text": r"tabl\*", "id": "q"}])
    assert not ann("table here")
    # escaped ~ is not fuzzy
    ann = lucene_annotator([{"text": r"approx\~", "id": "q"}])
    assert ann("approx z")  # analyzer drops the ~
    # unescaped wildcard still works when mixed with escapes
    ann = lucene_annotator([{"text": r"ta\?bl*", "id": "q"}])
    assert not ann("table")


def test_new_syntax_parse_failures_drop_not_raise():
    # still-malformed forms must log+drop per lucene_alpha.clj:41-43,
    # never raise out of compile
    ann = lucene_annotator(
        [
            {"text": "[a TO", "id": "bad1"},      # unterminated range
            {"text": "term^", "id": "bad2"},      # dangling boost
            {"text": "^2", "id": "bad3"},         # boost without atom
            {"text": "ok", "id": "good"},
        ]
    )
    anns = ann("ok a to term 2")
    assert [a["dict_entry_id"] for a in anns] == ["good"]


def test_spark_predicate_range(spark):
    from pyspark.sql import functions as F

    node = parse_query("[bat TO dog]", CONF)
    df = spark.createDataFrame(
        [(1, ["cat"]), (2, ["ant"]), (3, ["bat"]), (4, ["zebra"])],
        ["id", "tokens"],
    )
    got = sorted(
        r["id"] for r in df.filter(to_spark_predicate(node, F.col("tokens"))).collect()
    )
    assert got == [1, 3]


PREDICATE_ROWS = [["cat", "zebra"], ["bat"], ["ant", "bat"], ["dog", "ape"], ["cot", "zeal"],
                  ["bar", "cut"], ["emu"], ["cat", "ant", "axe"], ["baz", "zebra", "bat"]]


@pytest.mark.parametrize("query", [
    "[bat TO dog]", "ba*", "c?t", '"cat"', "/ze.*/", "cat OR zebra",
    "bat AND NOT zebra", "+bat -ant", '"cat"~2 AND [a TO b]',
    "cat AND bat OR zebra", "bat OR ant AND axe", "cat OR NOT ant", "-zebra",
    "(NOT ant) OR emu", "+bat OR ze*", "bat-zebra", "bat AND .",
])
def test_spark_predicate_agrees_with_local(spark, query):
    """The JVM predicate keeps exactly the rows whose joined tokens the
    local annotator matches."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(PREDICATE_ROWS)), ["id", "tokens"])
    got = sorted(
        r["id"] for r in df.filter(to_spark_predicate(parse_query(query, CONF), F.col("tokens"))).collect()
    )
    local = lucene_annotator([{"text": query}])
    assert got == [i for i, toks in enumerate(PREDICATE_ROWS) if local(" ".join(toks))]


# --- the classic parser's clause rule (QueryParserBase.addClause, default
# operator OR): one row per form, expected values from addClause ----------
CLASSIC = [
    ("a AND b OR c", {"c": False, "a b": True, "a c": False}),
    ("a && b || c", {"c": False, "a b": True, "a c": False}),
    ("a OR b AND c", {"a": False, "b c": True}),
    ("a OR NOT b", {"a": True, "x": False, "a b": False}),
    ("NOT b", {"x": False}),
    ("-b", {"x": False}),
    ("(NOT b) OR a", {"a": True, "x": False}),
    ("a AND .", {"a": True}),
    ('"..." OR cat', {"cat": True}),
    ("+bat OR ze*", {"zebra": False, "bat": True}),
    ("foo-bar", {"bar only": True}),
    ("a AND b c", {"a b": True, "a c": False}),
    ("a b AND c", {"a": False, "b c": True}),
    ("-a b", {"b": True, "a b": False, "x": False}),
    ("a AND NOT b", {"a": True, "a b": False}),
    ("a AND (b OR c) AND NOT d", {"a b x": True, "a c x": True, "a x": False, "a b d": False}),
]


@pytest.mark.parametrize("query,expected", CLASSIC, ids=[q for q, _ in CLASSIC])
def test_classic_clause_semantics(query, expected):
    ann = lucene_annotator([{"text": query, "id": "q"}])
    assert {doc: bool(ann(doc)) for doc in expected} == expected


def test_regexps_compiled_once(monkeypatch):
    """Regexps and wildcards are compiled at parse time, never per
    document."""
    from beagle_spark import lucene_query

    ann = lucene_annotator([{"text": f"w{i}x*", "id": str(i)} for i in range(50)]
                           + [{"text": "/ze.*/ OR c?t", "id": "r"}])
    calls = []
    compile_ = lucene_query.re.compile
    monkeypatch.setattr(lucene_query.re, "compile", lambda *a, **k: calls.append(a) or compile_(*a, **k))
    assert [m["dict_entry_id"] for m in ann("a zebra and w7xyz")] == ["7", "r"]
    assert not ann("nothing here")
    assert calls == []


def test_lucene_annotate_df_matches_local(spark, sf_dir):
    """The DataFrame operator returns, per row, exactly the local
    `lucene_annotator` matches; null and blank text give `[]`."""
    from beagle_spark.lucene_query import lucene_annotate_df

    dictionary = [
        {"text": "table AND spark AND NOT vector", "id": "q1", "meta": {"k": "v"}},
        {"text": '"hash join" OR scan', "id": "q2", "type": "T"},
        {"text": "spar*", "id": "q3", "case-sensitive?": False},
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").limit(200)
    edge = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "   "), (-4, "a table scan in spark")],
        docs.schema,
    )
    rows = lucene_annotate_df(docs.unionByName(edge), dictionary).collect()
    local = lucene_annotator(dictionary)
    n_with = 0
    for r in rows:
        got = [m.asDict() for m in r["query_matches"]]
        assert got == local(r["text"]), r["doc_id"]
        n_with += bool(got)
    by_id = {r["doc_id"]: r["query_matches"] for r in rows}
    assert by_id[-1] == [] and by_id[-2] == [] and by_id[-3] == []
    assert len(by_id[-4]) == 3
    assert n_with > 1


def test_multiterm_terms_normalized_like_lucene():
    """Wildcard, regexp, fuzzy and range terms are normalized as Lucene's
    `Analyzer.normalize` does: lowercased under `case-sensitive?: false`
    and never split, so a fuzzy term or range endpoint keeps its whole
    text; escaped wildcard characters stay as written."""
    ci = {"case-sensitive?": False}
    assert lucene_annotator([{"text": "Foo*", **ci}])("Foobar here")
    assert lucene_annotator([{"text": "/Fo+/", **ci}])("Foo here")
    assert not lucene_annotator([{"text": "Foo*"}])("foobar here")
    ann = lucene_annotator([{"text": "foo-bar~1"}])
    assert not ann("foo only") and not ann("bar only")
    node = parse_query("[foo-bar TO foo-bas]", merge_config({}))
    assert (node.lower, node.upper) == ("foo-bar", "foo-bas")
    node = parse_query("[Bat TO Dog]", merge_config({"case_sensitive": False}))
    assert (node.lower, node.upper) == ("bat", "dog")
    node = parse_query("Caf\\É*", merge_config({"case_sensitive": False, "ascii_fold": True}))
    assert node.pattern == "cafÉ.*"
