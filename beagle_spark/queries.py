"""Conformance-query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable with (where SQL-expressible) an
exactly-equivalent DuckDB oracle string. This is the single source of
truth consumed by __spark_entry__.py (driver correctness gate) and
bench.py.

Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing values). Float aggregates
are rounded identically; rankings avoid float-equality sensitivity by
returning id sets rather than raw floats where warranted.

Wall-time contract: every registry query MUST complete well under 60s
at sf0.01 on local[32] — the driver's correctness gate runs all of
them in one budget, and a single slow query blanks the signal for the
whole suite (round 2's `ts_winnow` plan did exactly that). Any new
query needs a measured sf0.01 timing before registration;
tests/test_textstats.py shows the bounded-time guard pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import relational as R
from .annotator import Annotator
from .lucene_query import lucene_annotate_df
from .ops import dedup, multimodal, similarity, textstats

# ---------------------------------------------------------------------------
# Text-match surface (the beagle capability, C-2): oracles restricted to
# regex-expressible configs; slop/fuzzy/stemming are covered by the
# golden test suite instead (tests/test_phrases.py).
# ---------------------------------------------------------------------------
_WB = "(^|[^a-zA-Z0-9])"  # token boundary for the standard tokenizer
_WE = "([^a-zA-Z0-9]|$)"

T5_TERMS = ["table", "spark", "hash", "join", "merge"]


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _sorted(df: DataFrame, *cols) -> DataFrame:
    """``df`` sorted by ``cols`` in one partition behind a shuffle, for a
    small result whose stage runs a Python kernel. An ``orderBy`` right
    above the kernel's stage has no exchange between them, so its
    range-bounds sampling job would run the kernel a second time;
    ``coalesce(1)`` would pull the kernel's stage into one task."""
    return df.repartition(1).sortWithinPartitions(*cols)


_DOC_COUNTS: dict = {}

# Documents per task for _docs_tasks. The Python-UDF annotate path
# pays Arrow per-batch overhead, so it keeps ~500 docs/task; JVM-side
# shingle/signature dedup has none and runs finer, ~100 docs/task.
# A round of Python tasks still has a fixed cost of some 20-28 ms on
# local[4] (annotator.py "partition sizing").
_UDF_GRAIN = 500
_JVM_GRAIN = 100


def _docs_tasks(spark, sf_dir, grain):
    """Documents repartitioned to ~``grain`` docs per task, capped at
    the core count. The testdata is ONE parquet file => one scan
    partition, which serializes per-row work: the annotate UDF, and the
    widest stage in the suite (shingle explode multiplies rows ~200x,
    then 64 hash+min partial aggregates run map-side on the scan
    partitions — measured 36s single-task vs ~4s parallel at sf0.1).
    SQL-expression queries keep the plain scan — the extra shuffle only
    pays for itself when a task does heavy per-row work. At 100 TB the
    scan produces natural splits and this is a no-op (callers on real
    data should NOT add a repartition)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if sf_dir not in _DOC_COUNTS:
        _DOC_COUNTS[sf_dir] = df.count()
    parts = max(1, min(spark.sparkContext.defaultParallelism, _DOC_COUNTS[sf_dir] // grain))
    return df.repartition(parts) if parts > 1 else df


def t1_term_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-term annotate, case-sensitive, standard tokenizer."""
    ann = Annotator([{"text": "table", "id": "t1"}])
    df = ann.annotate_df(_docs_tasks(spark, sf_dir, _UDF_GRAIN))
    return df.where(F.size("annotations") > 0).agg(
        F.count(F.lit(1)).alias("n_docs"),
    )


T1_SQL = f"""
SELECT count(*) AS n_docs FROM documents
WHERE regexp_matches(text, '{_WB}table{_WE}')
"""


def t2_term_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = Annotator([{"text": "SPARK", "id": "t2", "case-sensitive?": False}])
    df = ann.annotate_df(_docs_tasks(spark, sf_dir, _UDF_GRAIN))
    return df.where(F.size("annotations") > 0).agg(F.count(F.lit(1)).alias("n_docs"))


T2_SQL = f"""
SELECT count(*) AS n_docs FROM documents
WHERE regexp_matches(lower(text), '{_WB}spark{_WE}')
"""


def t3_phrase_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = Annotator([{"text": "table scan", "id": "t3", "case-sensitive?": False}])
    df = ann.annotate_df(_docs_tasks(spark, sf_dir, _UDF_GRAIN))
    return df.where(F.size("annotations") > 0).agg(F.count(F.lit(1)).alias("n_docs"))


T3_SQL = f"""
SELECT count(*) AS n_docs FROM documents
WHERE regexp_matches(lower(text), '{_WB}table[^a-zA-Z0-9]+scan{_WE}')
"""


def t4_phrase_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Begin/end char offsets of the FIRST occurrence per document."""
    ann = Annotator([{"text": "table scan", "id": "t4", "case-sensitive?": False}])
    ex = ann.explode(_docs_tasks(spark, sf_dir, _UDF_GRAIN), keep_cols=["doc_id"])
    return (
        ex.groupBy("doc_id")
        .agg(F.min(F.struct("begin_offset", "end_offset")).alias("first"))
        .select(
            "doc_id",
            F.col("first.begin_offset").alias("begin_offset"),
            F.col("first.end_offset").alias("end_offset"),
        )
        .orderBy("doc_id")
    )


T4_SQL = """
SELECT doc_id,
       strpos(lower(text), 'table scan') - 1 AS begin_offset,
       strpos(lower(text), 'table scan') - 1 + length('table scan') AS end_offset
FROM documents
WHERE strpos(lower(text), 'table scan') > 0
ORDER BY doc_id
"""


def t5_dict_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc count of matched dictionary ENTRIES (the doc x query
    theta-join, stated relationally)."""
    ann = Annotator(
        [{"text": t, "id": t, "case-sensitive?": False} for t in T5_TERMS]
    )
    ex = ann.explode(_docs_tasks(spark, sf_dir, _UDF_GRAIN), keep_cols=["doc_id"])
    return (
        ex.groupBy("doc_id")
        .agg(F.countDistinct("dict_entry_id").alias("n_matched"))
        .orderBy("doc_id")
    )


T5_SQL = f"""
SELECT d.doc_id, count(*) AS n_matched
FROM documents d
JOIN (VALUES {", ".join(f"('{t}')" for t in T5_TERMS)}) q(term)
  ON regexp_matches(lower(d.text), '{_WB}' || q.term || '{_WE}')
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


def t6_lucene_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene query-string surface: boolean AND/NOT match counts."""
    df = lucene_annotate_df(
        _docs_tasks(spark, sf_dir, _UDF_GRAIN),
        [{"text": "table AND spark AND NOT vector", "id": "q1"}],
    )
    return df.where(F.size("query_matches") > 0).agg(F.count(F.lit(1)).alias("n_docs"))


T6_SQL = f"""
SELECT count(*) AS n_docs FROM documents
WHERE regexp_matches(text, '{_WB}table{_WE}')
  AND regexp_matches(text, '{_WB}spark{_WE}')
  AND NOT regexp_matches(text, '{_WB}vector{_WE}')
"""


def t7_lucene_sql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene boolean query compiled to a PURE-JVM Spark Column predicate
    over a token array (no Python in the hot path) — the Spark-first
    fast path for phrase-free query strings (SURVEY.md A21)."""
    from .analysis import merge_config
    from .lucene_query import parse_query, to_spark_predicate

    conf = merge_config({}, {})
    node = parse_query("table AND (spark OR merge) AND NOT vector", conf)
    docs = _docs(spark, sf_dir).withColumn(
        "_tokens", F.regexp_extract_all(F.col("text"), F.lit("[a-zA-Z0-9]+"), 0)
    )
    return docs.where(to_spark_predicate(node, F.col("_tokens"))).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


T7_SQL = f"""
SELECT count(*) AS n_docs FROM documents
WHERE regexp_matches(text, '{_WB}table{_WE}')
  AND (regexp_matches(text, '{_WB}spark{_WE}')
       OR regexp_matches(text, '{_WB}merge{_WE}'))
  AND NOT regexp_matches(text, '{_WB}vector{_WE}')
"""


def t8_matches_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotate -> relational composition: matched (doc, entry) pairs
    rolled up by document source — the "switch your pipeline to this
    engine" shape (annotations feeding plain Spark SQL)."""
    ann = Annotator(
        [{"text": t, "id": t, "case-sensitive?": False} for t in T5_TERMS]
    )
    ex = ann.explode(_docs_tasks(spark, sf_dir, _UDF_GRAIN), keep_cols=["doc_id", "source"])
    return (
        ex.select("doc_id", "source", "dict_entry_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_doc_term_matches"))
        .orderBy("source")
    )


T8_SQL = f"""
SELECT d.source, count(*) AS n_doc_term_matches
FROM documents d
JOIN (VALUES {", ".join(f"('{t}')" for t in T5_TERMS)}) q(term)
  ON regexp_matches(lower(d.text), '{_WB}' || q.term || '{_WE}')
GROUP BY d.source
ORDER BY d.source
"""


# ---------------------------------------------------------------------------
# Dedup surface
# ---------------------------------------------------------------------------
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir)).orderBy("text_hash")


DD_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
       count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM documents
GROUP BY 1
ORDER BY 1
"""


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_tasks(spark, sf_dir, _JVM_GRAIN)
    return dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8).orderBy("id_a", "id_b")


DD_NGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 1)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.8
ORDER BY id_a, id_b
"""


def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned + exact-verified near-dup pairs. The minhash family
    itself isn't DuckDB-replicable, but the VERIFIED output is the
    declarative 'pairs with jaccard >= 0.8' (assuming LSH recall 1,
    which the oracle hash-check now actively asserts instead of the
    old rows-only pass)."""
    docs = _docs_tasks(spark, sf_dir, _JVM_GRAIN)
    return dedup.minhash_lsh_verified(docs, threshold=0.8).orderBy("id_a", "id_b")


# verified-LSH output must equal the exact declarative result
DD_MINHASH_SQL = DD_NGRAM_SQL


def dd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: LSH-pruned verified pairs ->
    connected components (iterative min-label propagation) -> every doc
    with its cluster id + canonical flag. The DuckDB oracle derives the
    same components with a recursive CTE over the declarative
    jaccard-pair edges."""
    docs = _docs_tasks(spark, sf_dir, _JVM_GRAIN)
    pairs = dedup.minhash_lsh_verified(docs, threshold=0.8)
    return dedup.dedup_clusters(docs, pairs).orderBy("doc_id")


DD_CLUSTERS_SQL = f"""
WITH pairs AS ({DD_NGRAM_SQL.replace("ORDER BY id_a, id_b", "")}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  WITH RECURSIVE r(id, seen) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.seen FROM edges e JOIN r ON e.dst = r.id
  )
  SELECT id, min(seen) AS component FROM r GROUP BY id
)
SELECT d.doc_id,
       coalesce(reach.component, d.doc_id) AS cluster_id,
       coalesce(reach.component, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN reach ON d.doc_id = reach.id
ORDER BY d.doc_id
"""


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints via the md5-nibble hash family, returned as
    the four 16-bit band values (b0..b3 = bits [0,16)..[48,64)) — every
    arithmetic step is replicated in DuckDB, so the fingerprints are
    value-exact oracle-checked. The Arrow kernel is map-only: no
    token explode; the one shuffle feeds the final sort (`_sorted`)."""
    out = dedup.simhash_fingerprints_md5(_docs_tasks(spark, sf_dir, _JVM_GRAIN))
    return _sorted(out.select(
        F.col("id").alias("doc_id"),
        *[F.col("bands")[b].alias(f"b{b}") for b in range(4)],
    ), "doc_id")


def _simhash_fp_cte() -> str:
    """Shared DuckDB CTE chain computing the md5-nibble simhash band
    values b0..b3 per document — mirrors simhash_fingerprints_md5
    exactly: token-hash bit (4j+b) = bit b of hex digit j of
    md5(token); fingerprint bit i = sign of the per-doc sum of
    (2*bit - 1); band k assembles bits [16k, 16k+16)."""
    nibbles = ", ".join(
        f"strpos('0123456789abcdef', substring(m, {j + 1}, 1)) - 1 AS d{j}"
        for j in range(16)
    )
    sums = ", ".join(
        f"sum(CASE WHEN ((d{i // 4} >> {i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(64)
    )
    bands = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN s{16 * k + t} > 0 THEN {1 << t} ELSE 0 END" for t in range(16)
        )
        + f") AS b{k}"
        for k in range(4)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, md5(tok) AS m FROM toks
), d AS (
  SELECT doc_id, {nibbles} FROM h
), s AS (
  SELECT doc_id, {sums} FROM d GROUP BY doc_id
), fp AS (
  SELECT doc_id, {bands} FROM s
)"""


DD_SIMHASH_SQL = (
    _simhash_fp_cte()
    + """
SELECT doc_id, CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
       CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3
FROM fp ORDER BY doc_id
"""
)


def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs from simhash band keys: equi-join on
    any shared 16-bit band (never all-pairs), exact hamming verify via
    bit_count(xor) <= 8, all JVM-side. Oracle mirrors banding + verify
    declaratively over the same md5-nibble fingerprints."""
    fps = dedup.simhash_fingerprints_md5(_docs_tasks(spark, sf_dir, _JVM_GRAIN))
    pairs = dedup.simhash_pairs(fps, max_hamming=8)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("id_a", "id_b")


DD_SIMHASH_PAIRS_SQL = (
    _simhash_fp_cte()
    + """
, banded AS (
  SELECT doc_id, 0 AS band, b0 AS bucket FROM fp
  UNION ALL SELECT doc_id, 1, b1 FROM fp
  UNION ALL SELECT doc_id, 2, b2 FROM fp
  UNION ALL SELECT doc_id, 3, b3 FROM fp
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id
), ham AS (
  SELECT id_a, id_b,
         CAST(bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
            + bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3))
          AS BIGINT) AS hamming
  FROM cand
  JOIN fp fa ON fa.doc_id = id_a
  JOIN fp fb ON fb.doc_id = id_b
)
SELECT id_a, id_b, hamming FROM ham
WHERE hamming <= 8
ORDER BY id_a, id_b
"""
)


# ---------------------------------------------------------------------------
# Similarity surface
# ---------------------------------------------------------------------------
def _query_vec(spark, sf_dir, vec_id=0):
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _query_vec(spark, sf_dir, 0)
    return similarity.brute_force_topk(
        emb, q, k=10, exclude_ids=(0,), payload_cols=("label",)
    ).orderBy("vec_id")


SIM_TOPK_SQL = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label
FROM embeddings, q
WHERE vec_id != 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]) DESC, vec_id
LIMIT 10
"""


def sim_cos_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = similarity.cosine_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold=0.4
    ).select("id_a", "id_b")
    return _sorted(pairs, "id_a", "id_b")


SIM_PAIRS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
ORDER BY id_a, id_b
"""


def _duckdb_bucket_expr(n_planes: int, seed: int = 42, dim: int = 64) -> str:
    """Hyperplane-LSH bucket id as a DuckDB SQL expression. The planes
    are the same deterministic seeded values the Spark side uses
    (similarity.make_planes), baked in as double literals — so the
    bucketing, and therefore the LSH result, is fully oracle-expressible."""
    planes = similarity.make_planes(dim, n_planes, seed)
    bits = []
    for h, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) > 0 "
            f"THEN {1 << h} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def sim_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs (scale path; recall<1 vs sim_cos_pairs
    by design — the oracle replicates the deterministic bucketing, so
    the hash check covers exactly the bucket-restricted semantics)."""
    pairs = similarity.lsh_cosine_pairs(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        threshold=0.4,
        dim=64,
    ).select("id_a", "id_b")
    return _sorted(pairs, "id_a", "id_b")


SIM_LSH_PAIRS_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {_duckdb_bucket_expr(4)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE list_cosine_similarity(a.v, c.v) >= 0.4
ORDER BY id_a, id_b
"""


def dd_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup decision table: LSH-bucketed
    cosine pairs (the 100 TB path — hyperplane bucket self-join, never
    all-pairs) -> connected components -> every vector with its cluster
    id and a canonical flag. Same decision-table contract as
    dd_clusters, but over the embedding column instead of text
    shingles. Oracle: deterministic baked-plane bucketing + recursive
    CTE."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = similarity.lsh_cosine_pairs(emb, threshold=0.4, dim=64).select(
        "id_a", "id_b"
    )
    return dedup.dedup_clusters(emb, pairs, id_col="vec_id").orderBy("vec_id")


DD_EMBED_SQL = f"""
WITH pairs AS ({SIM_LSH_PAIRS_SQL.replace("ORDER BY id_a, id_b", "")}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  WITH RECURSIVE r(id, seen) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.seen FROM edges e JOIN r ON e.dst = r.id
  )
  SELECT id, min(seen) AS component FROM r GROUP BY id
)
SELECT e.vec_id,
       coalesce(reach.component, e.vec_id) AS cluster_id,
       coalesce(reach.component, e.vec_id) = e.vec_id AS is_canonical
FROM embeddings e LEFT JOIN reach ON e.vec_id = reach.id
ORDER BY e.vec_id
"""


def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse quantizer) ANN: deterministic seeded training,
    2-cell probe, exact re-rank. Oracle-exact: the trained centroids are
    deterministic given the seed and the file-order sample, so the
    DuckDB oracle bakes the SAME centroids as double literals (exactly
    like the hyperplane-LSH oracle) and replicates cell assignment +
    probe + re-rank declaratively."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _query_vec(spark, sf_dir, 0)
    cents = similarity.train_ivf_centroids(emb, n_centroids=8)
    return similarity.ivf_ann_topk(
        emb, q, cents, k=10, n_probe=2, payload_cols=("label",)
    ).orderBy("vec_id")


def _ivf_oracle_sql() -> str:
    """Bake the IVF quantizer into DuckDB SQL. Training replicates
    similarity.train_ivf_centroids exactly: the sample is the file-order
    row prefix (pyarrow read == Spark's limit() on the single-file
    scan), the core is the shared kmeans_centroids. FP-exactness of the
    per-row cell assignment: the squared-distance expression is an
    explicit left-associative `(v[j]-c)*(v[j]-c)` sum chain, the same
    IEEE add order as the numpy sequential-over-dims fold in
    `similarity.ivf_assign`; the CASE chain picks the FIRST minimal
    cell, matching np.argmin tie behavior.

    The oracle is a static string, so the training data scale comes
    from $SPARK_GRAFT_SF_DIR at build time, defaulting to sf0.01 — the
    scale the driver's correctness gate runs at."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    emb = tbl.column("embedding").to_pylist()
    x = np.array(emb[:2000], dtype=np.float64)
    cents = similarity.kmeans_centroids(x, n_centroids=8, iters=10, seed=42)
    vids = tbl.column("vec_id").to_pylist()
    q = np.array(emb[vids.index(0)], dtype=np.float64)
    order = np.argsort(((np.array(cents) - q) ** 2).sum(axis=1))
    probe = [int(i) for i in order[:2]]

    n = len(cents)
    dists = ", ".join(
        "("
        + " + ".join(
            f"(v[{j + 1}] - ({float(c[j])!r})) * (v[{j + 1}] - ({float(c[j])!r}))"
            for j in range(len(c))
        )
        + f") AS d{ci}"
        for ci, c in enumerate(cents)
    )
    argmin = (
        "CASE "
        + " ".join(
            f"WHEN {' AND '.join(f'd{i} <= d{j}' for j in range(n) if j != i)} THEN {i}"
            for i in range(n - 1)
        )
        + f" ELSE {n - 1} END"
    )
    # MATERIALIZED: without it DuckDB inlines the 512-term distance
    # expressions into every argmin comparison (measured 20s vs <1s)
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), d AS MATERIALIZED (
  SELECT vec_id, label, v, {dists} FROM e
), a AS MATERIALIZED (
  SELECT vec_id, label, v, {argmin} AS cell FROM d
), q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
)
SELECT vec_id, label FROM a, q
WHERE cell IN ({probe[0]}, {probe[1]})
ORDER BY list_cosine_similarity(v, qv) DESC, vec_id
LIMIT 10
"""


try:
    SIM_IVF_SQL: str | None = _ivf_oracle_sql()
except Exception:  # testdata unavailable at import time -> rows-only check
    SIM_IVF_SQL = None


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _query_vec(spark, sf_dir, 0)
    return similarity.lsh_ann_topk(emb, q, k=10, payload_cols=("label",)).orderBy("vec_id")


SIM_LSH_ANN_SQL = f"""
WITH b AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v, {_duckdb_bucket_expr(6)} AS bucket
  FROM embeddings
),
q AS (SELECT bucket AS qb, v AS qv FROM b WHERE vec_id = 0)
SELECT vec_id, label
FROM b, q
WHERE b.bucket = q.qb
ORDER BY list_cosine_similarity(v, qv) DESC, vec_id
LIMIT 10
"""


def rp_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: build mergeable hourly
    partials in two halves (simulating incremental ingests), merge, and
    answer the final aggregate from partials only — results must equal
    computing directly over the raw events (the oracle does exactly
    that)."""
    from .ops.rollup import build_rollup, merge_rollups, query_rollup
    from .relational import load_events

    ev = load_events(spark, sf_dir)
    r1 = build_rollup(ev.where(F.col("event_id") % 2 == 0), "ts", ["event_type"], "value")
    r2 = build_rollup(ev.where(F.col("event_id") % 2 == 1), "ts", ["event_type"], "value")
    return query_rollup(merge_rollups(r1, r2), ["event_type"]).orderBy("event_type")


RP_SQL = """
SELECT event_type,
       count(*) AS n,
       round(sum(value), 3) AS total,
       round(sum(value) / count(*), 6) AS avg_v,
       min(value) AS min_v,
       max(value) AS max_v
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Text-stats surface
# ---------------------------------------------------------------------------
def ts_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_count(_docs(spark, sf_dir)).orderBy("doc_id")


TS_TOKEN_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens_ws,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens_bpeish
FROM documents
ORDER BY doc_id
"""


def ts_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


_SW_EN = ", ".join(f"'{w}'" for w in textstats.STOPWORDS["en"])
TS_QUALITY_SQL = rf"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(n_chars * 1.0 / len(toks), 3) AS chars_per_token,
       round(len(list_filter(toks, t -> t IN ({_SW_EN}))) * 1.0 / len(toks), 3) AS stop_ratio,
       round(0.5 * least(len(toks) / 50.0, 1.0)
           + 0.5 * least(round(len(list_filter(toks, t -> t IN ({_SW_EN}))) * 1.0 / len(toks), 3) * 5, 1.0), 3)
         AS quality_score
FROM t
ORDER BY doc_id
"""


def ts_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


def _lang_ratio_sql(lang):
    words = ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang])
    return f"round(len(list_filter(toks, t -> t IN ({words}))) * 1.0 / len(toks), 4)"


TS_LANG_SQL = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), r AS (
  SELECT doc_id,
         {_lang_ratio_sql("en")} AS r_en, {_lang_ratio_sql("de")} AS r_de,
         {_lang_ratio_sql("fr")} AS r_fr, {_lang_ratio_sql("es")} AS r_es
  FROM t
), m AS (
  SELECT doc_id, r_en, r_de, r_fr, r_es,
         greatest(r_en, r_de, r_fr, r_es) AS rmax
  FROM r
)
SELECT doc_id,
       CASE WHEN rmax < 0.02 THEN 'und'
            WHEN r_fr = rmax THEN 'fr'
            WHEN r_es = rmax THEN 'es'
            WHEN r_en = rmax THEN 'en'
            ELSE 'de' END AS lang_pred,
       rmax AS stop_ratio
FROM m
ORDER BY doc_id
"""


def ts_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint_md5(_docs(spark, sf_dir)).orderBy("doc_id")


TS_FP_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
ORDER BY doc_id
"""


def ts_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints as (doc_id, fp) rows — md5-based
    rolling hash makes the full selected-hash set exactly DuckDB-
    oracle-able (value compare over every fingerprint, not just
    counts). Uses the repartitioned scan so gram hashing parallelizes
    even from a single parquet file."""
    docs = _docs_tasks(spark, sf_dir, _UDF_GRAIN)
    return textstats.winnow_fingerprint_pairs(docs).orderBy("doc_id", "fp")


# Identical winnowing plan in DuckDB: per-position md5 k-grams via a
# lateral generate_series, windowed min (ROWS frame truncates at the
# partition tail exactly like Spark's), distinct selected hashes.
TS_WINNOW_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents
), g AS (
  SELECT b.doc_id,
         t.i - 1 AS pos,
         greatest(length(b.norm) - 4, 1) AS m,
         md5(substring(b.norm, t.i, 5)) AS h
  FROM base b, LATERAL (
    SELECT unnest(range(1, greatest(length(b.norm) - 4, 1) + 1))
  ) AS t(i)
), wm AS (
  SELECT doc_id, pos, m,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT DISTINCT doc_id, fp FROM wm
WHERE pos <= greatest(m - 4, 0)
ORDER BY doc_id, fp
"""


def ts_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-line fraction, top
    word-2-gram character coverage, duplicated word-5-gram character
    coverage. Uses the repartitioned scan: the gram explode is the wide
    stage."""
    return textstats.repetition_stats(_docs_tasks(spark, sf_dir, _JVM_GRAIN)).orderBy("doc_id")


TS_REPETITION_SQL = r"""
WITH line_stats AS (
  SELECT doc_id, length(text) AS chars,
         len(string_split(text, chr(10))) AS n_lines,
         round((len(string_split(text, chr(10)))
                - len(list_distinct(string_split(text, chr(10))))) * 1.0
               / greatest(len(string_split(text, chr(10))), 1), 4) AS dup_line_frac
  FROM documents
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents
), g2 AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(w) - 1, 1)),
           i -> concat_ws(' ', w[i], w[i+1]))) AS gram
  FROM toks
), c2 AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2
), top2 AS (
  SELECT doc_id, cnt * length(gram) AS top2_chars,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
  FROM c2
), g5 AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(w) - 4, 1)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))) AS gram
  FROM toks
), c5 AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY 1, 2
), dup5 AS (
  SELECT doc_id,
         sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup5_chars
  FROM c5 GROUP BY 1
)
SELECT l.doc_id, l.n_lines, l.dup_line_frac,
       round(coalesce(t.top2_chars, 0) * 1.0 / greatest(l.chars, 1), 4)
         AS top_2gram_char_frac,
       round(coalesce(d.dup5_chars, 0) * 1.0 / greatest(l.chars, 1), 4)
         AS dup_5gram_char_frac
FROM line_stats l
LEFT JOIN (SELECT doc_id, top2_chars FROM top2 WHERE rn = 1) t USING (doc_id)
LEFT JOIN dup5 d USING (doc_id)
ORDER BY l.doc_id
"""


def ts_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (mean word length, symbol-to-word ratio,
    alpha-word fraction) + the pass/fail corpus-filter decision."""
    return textstats.quality_gopher(_docs(spark, sf_dir)).orderBy("doc_id")


TS_QUALITY_GOPHER_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), feats AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
               / greatest(len(w), 1), 3) AS mean_word_len,
         round((length(text) - length(replace(text, '#', ''))
                + floor((length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3)
                + (length(text) - length(replace(text, '…', '')))) * 1.0
               / greatest(len(w), 1), 3) AS symbol_word_ratio,
         round(len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) * 1.0
               / greatest(len(w), 1), 3) AS alpha_word_frac
  FROM base
)
SELECT doc_id, n_tokens, mean_word_len, symbol_word_ratio, alpha_word_frac,
       (n_tokens >= 50 AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_word_ratio <= 0.1 AND alpha_word_frac >= 0.8) AS passes_gopher
FROM feats
ORDER BY doc_id
"""


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synth binary payloads -> column-kernel feature
    extraction (deterministic fake kernel; decode stubs documented)."""
    media = multimodal.synthesize_media_from_docs(_docs(spark, sf_dir))
    return (
        multimodal.extract_features(media)
        .select("media_id", "n_bytes")
        .orderBy("media_id")
    )


MM_SQL = """
SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
FROM documents
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
# name -> (spark_fn, oracle_sql | None)
REGISTRY: dict = {
    # relational host surface
    "q1_pricing_summary": (R.q1_pricing_summary, R.Q1_SQL),
    "q2_exists_semijoin": (R.q2_exists_semijoin, R.Q2_SQL),
    "q3_region_revenue": (R.q3_region_revenue, R.Q3_SQL),
    "q4_distinct_agg": (R.q4_distinct_agg, R.Q4_SQL),
    "q5_hourly_events": (R.q5_hourly_events, R.Q5_SQL),
    "q6_window_rownum": (R.q6_window_rownum, R.Q6_SQL),
    "q7_documents_stats": (R.q7_documents_stats, R.Q7_SQL),
    "q8_asof_last_signup": (R.q8_asof_last_signup, R.Q8_SQL),
    "q9_session_windows": (R.q9_session_windows, R.Q9_SQL),
    "q10_part_revenue": (R.q10_part_revenue, R.Q10_SQL),
    "q11_supplier_balance": (R.q11_supplier_balance, R.Q11_SQL),
    "q12_value_quantiles": (R.q12_value_quantiles, R.Q12_SQL),
    "q13_custdist": (R.q13_custdist, R.Q13_SQL),
    "q14_inactive_customers": (R.q14_inactive_customers, R.Q14_SQL),
    # text-match surface (beagle core)
    "t1_term_match": (t1_term_match, T1_SQL),
    "t2_term_ci": (t2_term_ci, T2_SQL),
    "t3_phrase_ci": (t3_phrase_ci, T3_SQL),
    "t4_phrase_offsets": (t4_phrase_offsets, T4_SQL),
    "t5_dict_match_counts": (t5_dict_match_counts, T5_SQL),
    "t6_lucene_bool": (t6_lucene_bool, T6_SQL),
    "t7_lucene_sql_path": (t7_lucene_sql_path, T7_SQL),
    "t8_matches_by_source": (t8_matches_by_source, T8_SQL),
    # dedup
    "dd_exact": (dd_exact, DD_EXACT_SQL),
    "dd_ngram_jaccard": (dd_ngram_jaccard, DD_NGRAM_SQL),
    "dd_minhash_lsh": (dd_minhash_lsh, DD_MINHASH_SQL),
    "dd_clusters": (dd_clusters, DD_CLUSTERS_SQL),
    "dd_simhash": (dd_simhash, DD_SIMHASH_SQL),
    "dd_simhash_pairs": (dd_simhash_pairs, DD_SIMHASH_PAIRS_SQL),
    "dd_embed_neardup": (dd_embed_neardup, DD_EMBED_SQL),
    # similarity
    "sim_topk": (sim_topk, SIM_TOPK_SQL),
    "sim_cos_pairs": (sim_cos_pairs, SIM_PAIRS_SQL),
    "sim_lsh_ann": (sim_lsh_ann, SIM_LSH_ANN_SQL),
    "sim_lsh_pairs": (sim_lsh_pairs, SIM_LSH_PAIRS_SQL),
    "sim_ivf_ann": (sim_ivf_ann, SIM_IVF_SQL),
    "rp_hourly_rollup": (rp_hourly_rollup, RP_SQL),
    # text stats
    "ts_token_count": (ts_token_count, TS_TOKEN_SQL),
    "ts_quality": (ts_quality, TS_QUALITY_SQL),
    "ts_lang_id": (ts_lang_id, TS_LANG_SQL),
    "ts_fingerprint": (ts_fingerprint, TS_FP_SQL),
    "ts_winnow": (ts_winnow, TS_WINNOW_SQL),
    "ts_repetition": (ts_repetition, TS_REPETITION_SQL),
    "ts_quality_gopher": (ts_quality_gopher, TS_QUALITY_GOPHER_SQL),
    # multimodal plumbing
    "mm_features": (mm_features, MM_SQL),
}
