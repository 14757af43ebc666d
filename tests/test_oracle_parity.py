"""Mirror of the driver's t2 correctness gate: run every registered
query through Spark AND its DuckDB oracle at sf0.001/sf0.01 and compare
row counts + order-insensitive values (column-name sorted)."""

import math
import os

import duckdb
import pytest

from beagle_spark.queries import REGISTRY

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(val):
    if val is None:
        return None
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return round(val, 6)
    if isinstance(val, (list, tuple)):
        return tuple(_normalize(v) for v in val)
    return val


def _rows_to_set(columns, rows):
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        out.append(tuple(_normalize(r[i]) for i in idx))
    return sorted(out, key=repr)


ORACLE_QUERIES = sorted(n for n, (_f, s) in REGISTRY.items() if s is not None)
ROWS_ONLY = sorted(n for n, (_f, s) in REGISTRY.items() if s is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, ddb, name):
    fn, sql = REGISTRY[name]
    sdf = fn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(sql)
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(ddb_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(ddb_rows), f"{name}: row count differs"
    assert _rows_to_set(spark_cols, spark_rows) == _rows_to_set(ddb_cols, ddb_rows), (
        f"{name}: values differ"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() > 0
    assert set(mod.oracle_sql()) <= set(mod.queries())


# Words carrying every character on which Java's and RE2's \s, or
# Spark's and DuckDB's lower, could disagree: \x0b, \xa0, U+0085,
# U+2028, U+3000, U+FEFF, 'İ', medial and final 'Σ', combining marks
# and a supplementary-plane letter (Deseret, with a lowercase pair).
_EDGE_WORDS = [
    "a\x0bb", "c\xa0d", "e\x85f", "g\u2028h", "i\u3000j", "k\ufeffl",
    "İSTANBUL", "İstanbul", "ΟΔΥΣΣΕΥΣ", "ΣΑΣ", "σοσ", "cafe\u0301",
    "nai\u0308ve", "\U00010400\U00010401x", "Straße", "x...", "#tag", "…",
]
_PLAIN_WORDS = ["the", "of", "and", "table", "scan", "merge", "hash", "join",
                "spark", "window", "der", "und", "le", "et", "Tabla", "DATA"]


def _edge_documents(seed: int = 13) -> list[tuple[int, str]]:
    """Near-duplicate clusters over the edge words: each base document
    is copied verbatim (so the pair queries return rows) and with up to
    two words replaced; separators mix spaces, tabs, newlines and a
    repeated line."""
    import random

    rng = random.Random(seed)
    vocab = _EDGE_WORDS + _PLAIN_WORDS * 2
    docs: list[str] = []
    for _ in range(8):
        words = [rng.choice(vocab) for _ in range(rng.randint(12, 60))]
        seps = [rng.choice([" ", " ", " ", "\t", "\n", "  "]) for _ in words]
        base = "".join(w + s for w, s in zip(words, seps)).strip(" ")
        docs += [base, base, base + "\n" + base.split("\n")[0]]
        for _ in range(2):
            w = list(words)
            for _ in range(rng.randint(1, 2)):
                w[rng.randrange(len(w))] = rng.choice(vocab)
            docs.append(" ".join(w))
    docs += ["", " ", "İ", "Σ", "\x0b", "ΣΣ σΣ ς", "  ΟΔΥΣΣΕΥΣ\x0bΣΑΣ  "]
    return list(enumerate(docs, start=1))


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = zip(*_edge_documents())
    d = tmp_path_factory.mktemp("edge_docs")
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        d / "documents.parquet",
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    ["dd_exact", "dd_ngram_jaccard", "dd_simhash", "dd_simhash_pairs",
     "ts_token_count", "ts_quality", "ts_lang_id", "ts_fingerprint",
     "ts_winnow", "ts_repetition", "ts_quality_gopher"],
)
def test_text_twins_agree_on_case_and_space_edges(spark, edge_dir, name):
    """The Spark text operators split whitespace and lowercase exactly
    as their DuckDB twins on documents made of the characters where the
    engines' defaults differ."""
    fn, sql = REGISTRY[name]
    sdf = fn(spark, edge_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{edge_dir}/documents.parquet'")
    res = con.execute(sql)
    ddb_cols = [c[0] for c in res.description]
    ddb_rows = res.fetchall()
    con.close()
    if name in ("dd_ngram_jaccard", "dd_simhash_pairs"):
        assert spark_rows, f"{name}: no pairs"
    assert _rows_to_set(sdf.columns, spark_rows) == _rows_to_set(ddb_cols, ddb_rows), (
        f"{name}: values differ"
    )
