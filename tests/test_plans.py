"""Plan-quality assertions: the optimizations we rely on at 100 TB must
actually appear in the physical plan (SURVEY.md section 4)."""

import re

import pytest

from beagle_spark import relational as R


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def final_plan_of(df) -> str:
    """The executed (AQE final) physical plan of a DataFrame that ran."""
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    plan = plan_of(R.q1_pricing_summary(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: untouched wide columns must not be read
    assert "l_comment" not in plan
    assert "l_partkey" not in plan
    # partial (map-side) aggregation before the shuffle
    assert "HashAggregate" in plan


def test_q3_broadcasts_dimensions(spark):
    plan = plan_of(R.q3_region_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q6_single_shuffle_for_window(spark):
    plan = plan_of(R.q6_window_rownum(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") <= 2  # partitionBy shuffle (+AQE final)
    assert "Window" in plan


def test_annotate_no_shuffle(spark):
    from pyspark.sql import functions as F

    from beagle_spark import Annotator

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = Annotator([{"text": "table"}]).annotate_df(docs)
    plan = plan_of(df.where(F.size("annotations") > 0))
    assert "Exchange" not in plan  # stateless map: no shuffle introduced
    # exactly one Arrow UDF node under a filter: the non-deterministic
    # mark stops the filter being pushed below it with a copy of the UDF
    # (tree-form "ArrowEvalPython (n" only: the formatted dump repeats
    # each node as a "(n) ArrowEvalPython" detail header)
    assert plan.count("ArrowEvalPython (") == 1
    assert "BatchEvalPython" not in plan


def test_exact_dedup_partial_agg(spark):
    from beagle_spark.ops.dedup import exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(exact_dedup(docs))
    # two HashAggregates around one Exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2
    assert "text_hash" in plan


def test_topk_is_take_ordered(spark):
    from beagle_spark.ops.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [0.1] * 64
    plan = plan_of(brute_force_topk(emb, q, k=10))
    assert "TakeOrderedAndProject" in plan  # not a global sort


def test_rollup_merge_equals_direct(spark):
    from beagle_spark.ops.rollup import build_rollup, merge_rollups, query_rollup
    from beagle_spark.relational import load_events
    from pyspark.sql import functions as F

    ev = load_events(spark, "/root/testdata/sf0.001")
    # split into two "ingests", roll up each, merge, query
    r1 = build_rollup(ev.where(F.col("event_id") % 2 == 0), "ts", ["event_type"], "value")
    r2 = build_rollup(ev.where(F.col("event_id") % 2 == 1), "ts", ["event_type"], "value")
    merged = query_rollup(merge_rollups(r1, r2), ["event_type"]).orderBy("event_type")
    direct = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("total"),
            F.round(F.sum("value") / F.count(F.lit(1)), 6).alias("avg_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .orderBy("event_type")
    )
    assert [tuple(r) for r in merged.collect()] == [tuple(r) for r in direct.collect()]


def test_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").drop("ts")
    path = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").parquet(path)
    q = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = plan_of(q)
    # the partition filter must reach the scan: only one partition read
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    assert q.count() == ev.where(F.col("event_type") == "click").count()


def test_capped_bucket_pairs_one_branch_over_cached_input(spark):
    """AQE reuses no exchange across two branches that read a persisted
    relation, so each branch would run the input stage again. The
    capped bucket_pairs reads its input once: one Window and no Union
    in the executed plan over a persisted aggregated input, and the
    MinHash candidate path over a persisted shingle relation computes
    its signatures behind one Exchange on id."""
    from pyspark.sql import functions as F

    from beagle_spark.ops import dedup

    rel = (
        spark.range(3000)
        .groupBy((F.col("id") % 600).alias("id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("id", (F.col("id") % 4).alias("band"), (F.col("id") % 90).alias("bucket"))
        .persist()
    )
    pairs = dedup.bucket_pairs(rel, ("band", "bucket"), cap=3)
    assert pairs.collect()
    plan = final_plan_of(pairs)
    assert len(re.findall(r"\bWindow \[", plan)) == 1
    assert "Union" not in plan
    rel.unpersist()

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} shared words of every doc and some more {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    shingled = dedup.shingle_docs(docs).persist()
    cands = dedup.minhash_lsh_candidates(docs, shingled=shingled, bucket_cap=5)
    assert cands.collect()
    plan = final_plan_of(cands)
    assert len(re.findall(r"Exchange hashpartitioning\(id#", plan)) == 1
    shingled.unpersist()


def _kernel_rows(df) -> list[int]:
    """``pythonNumRowsReceived`` of each ArrowEvalPython node in the
    executed (AQE final) plan of a DataFrame that ran. A query stage
    has no children; its plan is read through ``plan()``."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            if node.nodeName() == "ArrowEvalPython":
                out.append(node.metrics().get("pythonNumRowsReceived").get().value())
            children = node.children()
            todo += [children.apply(i) for i in range(children.size())]
    return out


def _kernel_inputs() -> dict:
    """Per registry query that runs a Python kernel in its final plan,
    the rows each kernel node must receive, as DuckDB counts: the table
    for a per-row kernel, the pairs for a pair kernel and the bucket or
    probed cells for an ANN re-rank."""
    from beagle_spark.queries import SIM_IVF_SQL, _duckdb_bucket_expr

    docs = "SELECT count(*) FROM documents"
    embs = "SELECT count(*) FROM embeddings"
    ivf_cells = SIM_IVF_SQL[:SIM_IVF_SQL.index("ORDER BY")].replace(
        "SELECT vec_id, label FROM a, q", "SELECT count(*) FROM a, q")
    return {
        **{name: [docs] for name in ("t1_term_match", "t2_term_ci", "t3_phrase_ci",
                                     "t4_phrase_offsets", "t5_dict_match_counts",
                                     "t6_lucene_bool", "t8_matches_by_source", "dd_simhash")},
        "sim_topk": [f"{embs} WHERE vec_id != 0"],
        "sim_cos_pairs": ["SELECT count(*) * (count(*) - 1) // 2 FROM embeddings"],
        "sim_lsh_pairs": [f"""
            WITH b AS (SELECT vec_id, {_duckdb_bucket_expr(4)} AS bucket FROM embeddings)
            SELECT count(*) FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id"""],
        "sim_lsh_ann": [embs, f"""
            WITH b AS (SELECT vec_id, {_duckdb_bucket_expr(6)} AS bucket FROM embeddings)
            SELECT count(*) FROM b WHERE bucket = (SELECT bucket FROM b WHERE vec_id = 0)"""],
        "sim_ivf_ann": [embs, ivf_cells],
    }


def test_registry_kernels_run_once_per_action(spark, sf_dir):
    """Every registry query whose final plan holds a Python kernel runs
    it once per input row in one action: each ArrowEvalPython node's
    ``pythonNumRowsReceived`` equals its input's row count, counted by
    DuckDB. A final sort right above a kernel's stage with no exchange
    between them would run the kernel again for its range bounds."""
    import duckdb

    from beagle_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = {name: sorted(con.execute(sql).fetchone()[0] for sql in sqls)
            for name, sqls in _kernel_inputs().items()}
    con.close()
    got = {}
    for name, (fn, _) in REGISTRY.items():
        df = fn(spark, sf_dir)
        if "ArrowEvalPython" in df._jdf.queryExecution().executedPlan().toString():
            df.collect()
            got[name] = sorted(_kernel_rows(df))
    assert got == want
