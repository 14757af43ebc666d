"""Deduplication operators for large text corpora.

Every operator but the SimHash fingerprint kernel runs as Spark SQL
(JVM, whole-stage codegen, no Python workers): at 100 TB the only thing
that matters is the shuffle profile, noted per operator. The one
driver-side step is connected_components' finish for small graphs.

- exact_dedup:              1 shuffle on text-hash (map-side partial agg)
- minhash_lsh_candidates:   signatures computed scan-side, banded, then
                            bucket_pairs on (band, bucket) - the standard
                            MinHash-LSH banding trick; candidate
                            verification is an equi-join, never an
                            all-pairs product
- simhash_fingerprints_md5: map-only column kernel (oracle-exact hash
                            family); simhash_pairs bands it through
                            bucket_pairs and verifies hamming JVM-side
- bucket_pairs:             the one "rows keyed by bucket -> member
                            pairs" primitive behind MinHash, SimHash and
                            hyperplane LSH (equi-self-join, or with a
                            cap one join-free Window + groupBy branch:
                            all pairs of a bucket under the cap, star
                            pairs of an oversized one)
- ngram_jaccard_pairs:      exact Jaccard: shingles exploded to
                            (id, shingle) rows and paired through
                            bucket_pairs on the shingle; quadratic in the
                            worst case - intended for verification at
                            small scale or AFTER LSH candidate pruning;
                            the scale path is minhash_lsh_candidates
- connected_components:     min-id component per node of a pair graph.
                            One bounded job collects up to
                            CC_DRIVER_MAX_EDGES pairs; a graph that fits
                            is labelled by a driver union-find and
                            returned as a local relation, a bigger one
                            runs O(log diameter) min-label +
                            pointer-doubling rounds, each shuffling only
                            the label table over a persisted edge set
- dedup_clusters:           every document with its cluster id and
                            canonical flag: the component labels
                            left-joined to the corpus (a broadcast join
                            when the driver finished them)

Text normalization, the word split and the word k-grams come from
``textstats`` (one definition per rule); :func:`jaccard` is the one
Jaccard ratio.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..kernel import arrow_kernel, column, view
from .textstats import fingerprint, tokens_ws, word_grams

# Default oversized-bucket guard of the MinHash-LSH path: buckets above
# it emit star pairs instead of all pairs (see bucket_pairs).
DEFAULT_BUCKET_CAP = 1000


def jaccard(common, n_a, n_b):
    """Jaccard ratio |A & B| / |A | B| of two sets from the size of
    their intersection and their own sizes, rounded to 4 places."""
    return F.round(common / (n_a + n_b - common), 4)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by md5 of normalized text; canonical = min id.
    One shuffle, partial-aggregated map-side."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_doc_id"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jaccard >=
    threshold). The (id, shingle) rows are paired through
    :func:`bucket_pairs` on the shingle, and the pair counts are joined
    to the per-doc shingle counts: cost is sum over shingles of
    df(shingle)^2 — fine after LSH pruning or at validation scale; use
    minhash_lsh_candidates as the 100 TB path. (Carrying the sizes
    through the pairing instead of the two joins makes a smaller plan
    but measured slower.)"""
    sh = shingle_docs(df, text_col, id_col, k).select(
        "id", F.explode("shingles").alias("shingle")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        bucket_pairs(sh, ("shingle",), None)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jaccard(F.col("n_common"), F.col("n_a"), F.col("n_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingles: array<string>) — the shared input relation for the
    MinHash signature stage AND the exact-Jaccard verify stage. Compute
    (and persist) it ONCE per pipeline run: shingling re-tokenizes the
    full corpus text, by far the widest scan-side expression in the
    dedup path.

    The token array is materialized in a child projection and the
    transform lambda references the COLUMN — because the column is
    referenced more than once, Catalyst keeps the projection instead
    of re-inlining the split into the lambda (which would re-tokenize
    the document once per shingle position — the interpreted
    higher-order-function trap; measured ~9x slower)."""
    toks = df.select(F.col(id_col).alias("id"), tokens_ws(F.col(text_col)).alias("_toks"))
    return toks.select(
        "id", F.array_distinct(word_grams(F.col("_toks"), k)).alias("shingles")
    )


def minhash_signature_stage(df: DataFrame, text_col: str, id_col: str,
                            num_perm: int = 64, shingle_k: int = 3,
                            shingled: DataFrame | None = None) -> DataFrame:
    """num_perm MinHash values as array<bigint>:
    sig[i] = min over shingles of xxhash64(xxhash64(shingle), seed_i).

    The shingle STRING is hashed exactly once (JVM xxhash64); the
    num_perm hash family is derived by re-hashing that single long with
    per-function seeds — hashing an 8-byte long 64 times costs ~1/10th
    of hashing a ~30-char string 64 times, with the same independence
    properties. Seeds are fixed literals — deterministic everywhere.

    Shape: explode shingles -> one aggregate of num_perm min-hashes
    (whole-stage-codegen'd; partial aggregation collapses to one row
    per doc map-side, then one Exchange on id). A map-only Arrow kernel
    without that Exchange was measured and lost ~2x at 200k docs:
    shipping every shingle hash across the Arrow boundary costs more
    than shuffling the aggregated 512 B/doc signature. The aggregate is
    one SQL expression, ``array(min(xxhash64(_h, 0)), ...)``: building
    it costs one JVM call where per-column ``F`` calls cost hundreds per
    plan. The seed literals are INT, as ``F.lit(i)`` is, so the hash
    family is unchanged.

    Pass ``shingled`` (from :func:`shingle_docs`, ideally persisted) to
    reuse an existing shingle relation instead of re-shingling."""
    if shingled is None:
        shingled = shingle_docs(df, text_col, id_col, shingle_k)
    mins = ", ".join(f"min(xxhash64(_h, {i}))" for i in range(num_perm))
    return (
        shingled.select("id", F.explode("shingles").alias("_sh"))
        .select("id", F.xxhash64("_sh").alias("_h"))
        .groupBy("id")
        .agg(F.expr(f"array({mins})").alias("sig"))
    )


def _minhash_bands(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bucket) rows: band b's bucket is the xxhash64 of its
    ``num_perm // bands`` signature values, all bands in one
    ``posexplode`` expression."""
    rows = num_perm // bands
    buckets = ", ".join(
        "xxhash64(" + ", ".join(f"sig[{i}]" for i in range(b * rows, (b + 1) * rows)) + ")"
        for b in range(bands)
    )
    return sig.selectExpr("id", f"posexplode(array({buckets})) AS (band, bucket)")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    shingled: DataFrame | None = None,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """MinHash + LSH banding: docs agreeing on ALL rows of any band are
    candidate near-duplicates. Returns distinct candidate pairs
    (id_a < id_b, n_bands agreement count) from :func:`bucket_pairs`
    over the (band, bucket-hash) key — never an all-pairs product.

    ``bucket_cap`` is the skew guard for real corpora, where boilerplate
    (empty pages, licence headers, templated docs) lands thousands of
    near-identical docs in ONE (band, bucket) group and pairing inside
    it goes quadratic — the scale-killer at 100 TB. Buckets at or under
    the cap emit all their pairs; oversized buckets emit star pairs
    (bucket-min id, member), linear in bucket size, with per-operator
    memory bounded by the cap. ``bucket_cap=None`` pairs every bucket
    in full through an equi-self-join.

    Recall contract under the cap: within an oversized bucket,
    PAIR-level recall drops from all-pairs to the star set, but every
    member remains connected to the bucket anchor, so COMPONENT-level
    connectivity (what dedup clustering consumes) is preserved whenever
    the anchor pairs pass downstream verification — which they do for
    the boilerplate/identical-doc case that creates oversized buckets
    in the first place."""
    assert num_perm % bands == 0
    sig = minhash_signature_stage(
        df, text_col, id_col, num_perm, shingle_k, shingled=shingled
    )
    return (
        bucket_pairs(_minhash_bands(sig, num_perm, bands), ("band", "bucket"), bucket_cap)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def bucket_pairs(rel: DataFrame, keys: tuple, cap: int | None, carry: tuple = ()) -> DataFrame:
    """Rows keyed by bucket -> pairs of bucket members. The one pairing
    primitive behind MinHash banding, SimHash banding and hyperplane
    LSH.

    ``rel`` holds (id, *keys, *carry), one row per (id, keys). Returns
    one (id_a < id_b, <c>_a, <c>_b for c in carry) row per shared key
    value; a pair sharing several key values (e.g. several bands) comes
    out once per shared value, so callers aggregate per pair.

    ``rel`` MUST BE DETERMINISTIC when ``cap`` is None: the two join
    sides read it twice, and only a deterministic subtree gives both
    reads the same members. Materialize a nondeterministic input (e.g.
    a Python kernel marked ``asNondeterministic``) with
    ``localCheckpoint(eager=True)`` first.

    ``cap`` picks the output, not a plan strategy:

    - ``cap=None``: every pair of every bucket, from an equi-self-join
      on ``keys`` with ``a.id < b.id``. No join hint: over a
      materialized or deterministic input AQE picks broadcast when a
      side fits and sort-merge at corpus scale.
    - ``cap=n``: NO JOIN, ONE BRANCH, and per-operator memory bounded
      by ``n`` whatever the bucket size.

      1. A Window over ``keys`` attaches each bucket's member count and
         min member (the star anchor) to every row. The window operator
         is sort-based and spillable, so a degenerate bucket with 10^8
         members costs disk, not an aggregation-buffer OOM.
      2. One groupBy on ``(*keys, _own)``: ``_own`` is NULL in a bucket
         at or under the cap, so that bucket is one group, and is the
         member itself in an oversized bucket, so each of its members
         is a group of its own. The collect buffer therefore holds at
         most ``n`` members. The groupBy reuses the window's
         partitioning, so no extra exchange.
      3. One ``inline`` emits the pairs of each group's sorted member
         array: all (ms[i], ms[j]) i < j under the cap, and for an
         oversized member the star pair (anchor, member) — the array
         is ``array_distinct(anchor, member)``, empty of pairs for the
         anchor itself.

      The input is read once: over a persisted input AQE reuses no
      exchange across branches, so a second branch would run the whole
      input stage (for MinHash, the signatures) again.

    In the capped branch, carry columns ride in a ``struct(id, *carry)``
    member; sorting and min compare ``id`` first, and ids are unique
    within a bucket."""
    if cap is None:
        on = F.col("a.id") < F.col("b.id")
        for k in keys:
            on = on & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        pairs = rel.alias("a").join(rel.alias("b"), on)
    else:
        w = Window.partitionBy(*keys)
        # a bucket at or under the cap is one group (_own NULL); each
        # member of an oversized bucket is a group of its own
        sized = rel.select(*keys, F.struct("id", *carry).alias("_m")).select(
            *keys,
            "_m",
            F.min("_m").over(w).alias("_anchor"),
            F.when(F.count(F.lit(1)).over(w) <= cap, None).otherwise(F.col("_m")).alias("_own"),
        )
        pairs = (
            sized.groupBy(*keys, "_own")
            .agg(F.expr(
                "IF(_own IS NULL, array_sort(collect_list(_m)),"
                " array_distinct(array(min(_anchor), _own)))"
            ).alias("_ms"))
            .selectExpr(
                "inline(flatten(transform(_ms, (x, i) -> transform("
                "slice(_ms, i + 2, size(_ms) - i - 1), y -> named_struct('a', x, 'b', y)))))"
            )
        )
    # a.<c> / b.<c>: a column of a join side, or a field of a pair member
    return pairs.select(
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in ("id", *carry) for s in "ab"]
    )


def _verify_pairs(cands: DataFrame, shingled: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of each candidate pair (id_a, id_b), kept when >=
    threshold: the pair list joined to the (id, shingles) relation on
    each side, ``array_intersect`` sizes per pair."""
    sa = shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("_sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("_sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_c", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn("jaccard", jaccard(F.col("_c"), F.size("_sh_a"), F.size("_sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_verified(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """The full 100 TB near-dup pipeline: LSH banding prunes to
    candidate pairs, exact n-gram Jaccard verifies ONLY those pairs.
    Output equals the declarative 'all pairs with jaccard >= threshold'
    whenever LSH recall is 1 at the threshold (16 bands x 4 rows: a
    jaccard-0.8 pair collides with prob ~1-(1-0.8^4)^16 ~ 0.9997) and
    no bucket exceeds ``bucket_cap`` — which is exactly what the DuckDB
    oracle asserts; a recall miss fails the hash check rather than
    hiding. (Oversized buckets degrade to star pairs — see
    :func:`minhash_lsh_candidates` for the recall contract.)

    Cost structure (this is the round-3 shape; round 2 re-shingled the
    candidate documents in the verify stage and leaked a persist):

    - the corpus is shingled ONCE into a persisted (id, shingles)
      relation consumed by both the signature stage and the verify join;
    - verification is per candidate PAIR: join the pair list to the
      shingle relation on each side (candidates are small -> AQE turns
      both into broadcast joins) and take ``array_intersect`` sizes, so
      verify work is proportional to the number of candidate pairs —
      never to shingle co-occurrence among candidate docs (a hot
      shingle can't reintroduce the quadratic path LSH just pruned);
    - the (small) result is materialized eagerly, then the shingle
      cache is dropped in a finally block — repeated calls leak
      nothing.
    """
    shingled = shingle_docs(df, text_col, id_col, shingle_k).persist()
    try:
        cands = minhash_lsh_candidates(
            df, text_col, id_col, num_perm, bands, shingle_k,
            shingled=shingled, bucket_cap=bucket_cap,
        ).select("id_a", "id_b")
        out = _verify_pairs(cands, shingled, threshold)
        # eager materialization: the pair list is tiny relative to the
        # corpus; computing it here lets the finally block release the
        # shingle cache without the caller ever observing a cold plan
        return out.localCheckpoint(eager=True)
    finally:
        shingled.unpersist()


# Instrumentation for the most recent connected_components run in this
# process (driver-side; bench.py copies it into bench_detail.json so
# cross-round wall-time excursions are attributable to convergence
# behavior vs box noise). Read-only for callers.
CC_LAST_STATS: dict = {}

# Largest pair relation connected_components finishes on the driver;
# a bigger one runs the distributed rounds, and 0 turns the driver
# finish off. Sizing (4-core box, local[4], warm, random pair graphs
# of n edges over 2n ids): the driver finish (probe job, union-find,
# local relation) takes 0.4 s for 371 edges, 0.8 s for 42k, 1.9 s for
# 250k and 7.5 s for 1M, and raises the driver process's peak RSS
# from ~150 to 315 MB at 1M. The rounds take 4.5 s (10 rounds) for
# 371 edges, 25 s (50 rounds) for 42k and 100 s (86 rounds) for 250k
# (max_iter raised; the default 20 raises on these graphs): at the bound the driver still beats the rounds on a graph 20x
# smaller, for ~170 MB of driver memory.
CC_DRIVER_MAX_EDGES = 1_000_000


def _cc_ends(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """The (src, dst) edges of :func:`connected_components`, one per
    pair. A pair with a null member is not an edge: a null id would
    otherwise join the components as a node of its own."""
    return pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )


def _cc_symmetric(ends: DataFrame) -> DataFrame:
    """Every edge in both directions. Its ``src`` column has the id
    type the components carry: the common type of the pair columns."""
    return ends.unionByName(
        ends.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _cc_edges(ends: DataFrame) -> DataFrame:
    """The (src, dst) edge relation of the distributed rounds:
    symmetrized once, PRE-PARTITIONED BY the propagation join key and
    persisted. Every round's edges-join-labels then reads the cached,
    already-hash(dst)-partitioned relation (InMemoryRelation advertises
    its outputPartitioning to the planner), so only the small label
    table is shuffled per round — at corpus scale the edge relation is
    the big side. persist (not checkpoint) also keeps recompute lineage
    for fault tolerance; the caller unpersists it."""
    return _cc_symmetric(ends).distinct().repartition("dst").persist()


def _cc_driver(ends: DataFrame, head: pa.Table) -> DataFrame:
    """Label the collected edges on the driver with a min-root
    union-find: a union hangs the larger root under the smaller, so
    every set's root is its min id; path halving keeps finds short.
    The labels come back as a local relation with the schema of the
    rounds' result, built from an Arrow table, so no Python worker
    starts."""
    parent: dict = {}

    def find(x):
        while (p := parent[x]) != x:
            gp = parent[p]
            parent[x] = gp
            x = gp
        return x

    for x, y in zip(head.column("src").to_pylist(), head.column("dst").to_pylist()):
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    ids = list(parent)
    field = _cc_symmetric(ends).schema["src"]
    schema = StructType([
        StructField("id", field.dataType, field.nullable),
        StructField("component", field.dataType, True),
    ])
    table = pa.table({"id": ids, "component": [find(v) for v in ids]})
    return ends.sparkSession.createDataFrame(table, schema)


def _cc_propagate_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation + pointer-doubling round, PRE-checkpoint:
    (id, label, prev). Factored out of :func:`connected_components` so the
    plan-capture tool explains exactly the code the loop runs.

    1. propagation min: neighbor labels (edges equi-join labels on dst)
       UNIONed with the labels themselves, one min-aggregate per id —
       the self rows carry the previous label through the aggregate
       (``min(own)``; exactly one non-null per id), so no join-back;
    2. pointer doubling: self-join on the stepped label, ``least``.
    """
    neigh = edges.join(labels, edges.dst == labels.id).select(
        F.col("src").alias("id"),
        F.col("label"),
        F.lit(None).cast(labels.schema["label"].dataType).alias("own"),
    )
    stepped = (
        neigh.unionByName(labels.select("id", "label", F.col("label").alias("own")))
        .groupBy("id")
        .agg(F.min("label").alias("label"), F.min("own").alias("prev"))
    )
    x, y = stepped.alias("x"), stepped.alias("y")
    return x.join(y, F.col("x.label") == F.col("y.id"), "left").select(
        F.col("x.id").alias("id"),
        F.least(
            F.col("x.label"), F.coalesce(F.col("y.label"), F.col("x.label"))
        ).alias("label"),
        F.col("x.prev").alias("prev"),
    )


def _cc_rounds(
    ends: DataFrame, max_iter: int, reliable_checkpoint: bool
) -> tuple[DataFrame, list[dict], bool]:
    """The distributed finish of :func:`connected_components`: min-label
    propagation + pointer-doubling rounds over the persisted edge
    relation until no label changes or ``max_iter`` rounds ran. Returns
    the (id, component) labels, the per-round stats and whether the
    labels converged."""

    def _cut(df: DataFrame, eager: bool) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    edges = _cc_edges(ends)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    rounds: list[dict] = []
    converged = False
    try:
        for _ in range(max_iter):
            t0 = time.monotonic()
            # propagation + doubling (see _cc_propagate_round), then cut
            new_labels = _cut(_cc_propagate_round(edges, labels), eager=True)
            # convergence check: map-only scan of checkpointed partitions
            changed = new_labels.where(F.col("label") != F.col("prev")).count()
            labels = new_labels.select("id", "label")
            rounds.append(
                {"changed": int(changed), "secs": round(time.monotonic() - t0, 3)}
            )
            if changed == 0:
                converged = True
                break
    finally:
        # the returned labels are eagerly checkpointed, so nothing
        # escapes referencing the edge cache
        edges.unpersist()
    return labels.select("id", F.col("label").alias("component")), rounds, converged


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components over near-duplicate pairs: returns (id,
    component) with component = the min node id reachable, the
    canonical-document id for dedup. A pair with a null member is not
    an edge, so no null id is ever emitted.

    Two finishes, chosen on the observed input size the way AQE picks a
    broadcast join under a size bound:

    - **Driver**, for at most ``CC_DRIVER_MAX_EDGES`` pairs. One
      bounded job collects up to bound + 1 pairs as Arrow. If they all
      fit, a min-root union-find labels them on the driver and the
      labels come back as a local relation built from an Arrow table.
      On the ``dedup_pairs`` benchmark corpus (371 verified pairs) this
      replaces 3 rounds and cuts the ``dd_clusters`` query from 58-59
      Spark jobs to 20 (17 since the capped :func:`bucket_pairs` reads
      its input once); the sizing of the bound is at its definition.
    - **Rounds**, over the bound: the 100 TB path. Iterative min-label
      propagation, label(v) <- min(label(v), min over neighbors of
      label(u)), until fixpoint. Plain propagation needs O(component
      diameter) rounds; a pointer-doubling step (label <- label of
      label) after each round makes it O(log diameter), so a
      diameter-40 chain converges in ~7 rounds instead of 40. (On
      random sparse graphs the measured round count still tracks the
      diameter: 50 rounds for 42k edges, see ``CC_DRIVER_MAX_EDGES``.)
      Lineage is cut per round with localCheckpoint so the plan doesn't
      grow with iterations (the classic iterative-algorithm trap on
      Spark).
      The input is read twice on this path (the size probe, then the
      edges), so pass a materialized pair relation.

    Per-round plan (one join and one action per round fewer than a
    groupBy-then-join-back shape with a separate changed-rows join):

    1. propagation min: neighbor labels (edges equi-join labels on dst)
       UNIONed with the labels themselves, one min-aggregate per id —
       the self rows also carry the previous label through the
       aggregate (``min(own)``; exactly one non-null per id), so no
       join-back is needed;
    2. pointer doubling: self-join on the stepped label, ``least``;
    3. eager checkpoint, then ``changed`` = count of label != prev
       rows — a map-only scan of the just-checkpointed partitions.

    The symmetrized edge set is built once, hash-partitioned by ``dst``
    and PERSISTED: the cached relation advertises its partitioning to
    the planner, so every round's propagation join reads it in place
    instead of re-shuffling the (potentially huge) edge relation per
    round — only the small label table moves. (localCheckpoint would
    NOT work here: a LogicalRDD does not carry reusable partitioning —
    verified empirically on this Spark build.) The cache is released in
    a finally block.

    Raises if max_iter is exhausted before the fixpoint — silently
    returning unconverged labels would corrupt the dedup decision.

    Instrumentation: ``CC_LAST_STATS`` (module global) after every run
    holds ``path`` ("driver" or "rounds"), ``edges`` (the pairs the
    size probe collected; bound + 1 means over the bound), the
    per-round changed-row counts and wall times (``iterations`` is 0 on
    the driver path) and the total wall time.

    Checkpoint durability: by default lineage is cut with
    localCheckpoint (executor-local storage — fast, fine for local
    mode and tests). On a real cluster an executor loss makes
    localCheckpointed partitions unrecoverable and fails the job
    mid-iteration; for production runs set
    ``reliable_checkpoint=True`` AND configure a fault-tolerant
    checkpoint dir first (``sc.setCheckpointDir('hdfs://...')``) to
    use reliable ``checkpoint()`` at the cost of writing each round's
    labels to distributed storage.
    """
    t_start = time.monotonic()
    ends = _cc_ends(pairs, a_col, b_col)
    bound = CC_DRIVER_MAX_EDGES
    head = ends.limit(bound + 1).toArrow() if bound > 0 else None
    if head is not None and head.num_rows <= bound:
        path, comp, rounds, converged = "driver", _cc_driver(ends, head), [], True
    else:
        path = "rounds"
        comp, rounds, converged = _cc_rounds(ends, max_iter, reliable_checkpoint)
    CC_LAST_STATS.clear()
    CC_LAST_STATS.update(
        {
            "path": path,
            "edges": head.num_rows if head is not None else 0,
            "iterations": len(rounds),
            "converged": converged,
            "rounds": rounds,
            "total_secs": round(time.monotonic() - t_start, 3),
        }
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    return comp


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Full dedup decision table: every document with its cluster id
    (min doc id in its near-dup component; singletons are their own
    cluster) and an is_canonical flag — the join target that drops
    duplicates from a 100 TB corpus while keeping one representative
    per cluster."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp.id, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", (F.col(id_col) == F.col("cluster_id")))
    )


def simhash_fingerprints_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", band_bits: int = 16
) -> DataFrame:
    """64-bit SimHash per document: bit i of the fingerprint = sign of
    the sum over tokens of (+1 if bit i of the token hash else -1). Also
    emits 64/band_bits band keys for hamming-candidate grouping (docs
    sharing any exact band are candidates). The 64-bit token-hash
    family is derived from md5 hex digits — every step (md5, nibble
    arithmetic, bit sums, band assembly) is computable bit-identically
    in DuckDB, which makes the whole simhash pipeline exactly
    oracle-able.

    Token-hash bit (4j + b), b in 0..3, is bit b of hex digit j of
    md5(token) — identical to the DuckDB oracle's
    strpos('0123..ef', digit)-1 formulation.

    The tokens are :func:`~.textstats.tokens_ws`, split in the JVM; a
    null text hashes as the one empty token, like an empty one.

    Plan shape: simhash is a pure per-document function, so this is a
    MAP-ONLY column kernel — no token explode, no groupBy, no
    shuffle. (The previous explode + 64-conditional-sum aggregate
    multiplied rows ~40x, shuffled them, and its 64-aggregate
    HashAggregate fell out of whole-stage codegen into interpreted
    eval; a stateless per-row kernel is both the faster and the
    100 TB-shaped plan.)

    Returns (id, simhash: bigint, bands: array<bigint>), consumable by
    :func:`simhash_pairs`."""
    out = df.select(
        F.col(id_col).alias("id"),
        arrow_kernel(lambda: _simhash, LongType())(
            F.coalesce(tokens_ws(F.col(text_col)), F.array(F.lit("")))
        ).alias("simhash"),
    )
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    return out.withColumn(
        "bands",
        F.array(
            *[
                F.shiftrightunsigned("simhash", b * band_bits).bitwiseAND(F.lit(mask))
                for b in range(n_bands)
            ]
        ),
    )


# token-hash bit 4j+b is bit b of hex digit j: bit 60-4j+b of the
# first 16 hex digits read as one big-endian integer
_SIMHASH_SHIFTS = np.array([60 - 4 * (i // 4) + i % 4 for i in range(64)], dtype=np.uint64)


def _simhash(toks: pa.ListArray) -> pa.Array:
    """SimHash of each row's token list: each distinct token of the
    batch is hashed once, and every row has at least one token."""
    offsets = view(toks.offsets)
    words = pc.dictionary_encode(toks.flatten())
    digests = (hashlib.md5(w.encode("utf-8")).digest()[:8] for w in words.dictionary.to_pylist())
    h = np.frombuffer(b"".join(digests), dtype=">u8")
    signs = ((h[:, None] >> _SIMHASH_SHIFTS) & 1).astype(np.int8) * 2 - 1
    sums = np.add.reduceat(
        signs[view(words.indices)], offsets[:-1] - offsets[0], axis=0, dtype=np.int32
    )
    return column(np.packbits(sums > 0, axis=1, bitorder="little").view("<i8").ravel())


def simhash_pairs(
    fps: DataFrame,
    max_hamming: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Consume simhash band keys: docs sharing ANY exact band are
    candidates (:func:`bucket_pairs` on (band, bucket) — never
    all-pairs), then exact hamming verify via bit_count(xor) <=
    max_hamming, all JVM-side. With 4 bands of 16 bits, banding recall
    is 1 for max_hamming <= 3 (pigeonhole: 3 flipped bits can't touch
    all 4 bands); above that it's the standard simhash trade-off.

    ``fps`` is the output of :func:`simhash_fingerprints_md5`.
    ``bucket_cap`` applies the same oversized-bucket star-pair guard as
    the MinHash path (see :func:`minhash_lsh_candidates`).

    ``fps`` is eagerly localCheckpointed once, here: the fingerprint
    kernel is a nondeterministic-marked Python UDF, while
    :func:`bucket_pairs` needs a deterministic input, and the checkpointed
    (id, simhash, bands) relation is a few dozen bytes/doc — tiny next
    to re-hashing every token. The kernel therefore runs exactly once
    per call. The fingerprint rides through the pairing as a carry
    column, so no pair is re-joined to ``fps``. Per-pair dedup happens
    AFTER the cheap hamming verify, as a min-aggregate (hamming is
    pair-functional, so the value is unchanged)."""
    banded = fps.localCheckpoint(eager=True).select(
        "id", "simhash", F.posexplode("bands").alias("band", "bucket")
    )
    return (
        bucket_pairs(banded, ("band", "bucket"), bucket_cap, carry=("simhash",))
        .withColumn(
            "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )
