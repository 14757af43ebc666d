#!/usr/bin/env python
"""Capture `.explain("formatted")` for bench/registry queries into
plans/<tag>/<query>_<suffix>.txt — the judge-checkable evidence for
plan-shape claims in OPTIMIZATION_*.md.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]
  out_dir: e.g. plans/r21   suffix: before|after
  query:   registry names; default = the bench query list + internals.

Eagerly-materializing pipelines (minhash_lsh_verified's checkpoint,
connected_components' iterations) would explain as a bare LogicalRDD
scan; for those this captures the meaningful internal pipelines
instead: the LSH candidate+verify plan pre-checkpoint and one
propagation+doubling round of connected_components.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

DEFAULT_QUERIES = [
    "q1_pricing_summary", "q3_region_revenue", "q5_hourly_events",
    "q6_window_rownum", "q8_asof_last_signup", "q9_session_windows",
    "q10_part_revenue", "q12_value_quantiles", "t7_lucene_sql_path",
    "t5_dict_match_counts", "dd_exact", "dd_simhash", "sim_topk",
    "ts_token_count", "ts_quality", "ts_fingerprint", "ts_winnow",
    "dd_simhash_pairs", "sim_ivf_ann", "sim_lsh_pairs",
    # internals (see module docstring)
    "_lsh_verify_pipeline", "_cc_round", "_annotate_udf",
]


def _fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def build(name: str, spark):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from beagle_spark.ops import dedup
    from beagle_spark.queries import _JVM_GRAIN, REGISTRY, _docs_tasks

    if name == "_lsh_verify_pipeline":
        # minhash_lsh_verified minus the eager checkpoint: candidates +
        # exact-verify joins (the part whose plan matters) over the
        # persisted shingle relation, as the operator runs them
        docs = _docs_tasks(spark, SF_DIR, _JVM_GRAIN)
        shingled = dedup.shingle_docs(docs).persist()
        cands = dedup.minhash_lsh_candidates(
            docs, shingled=shingled, bucket_cap=1000
        ).select("id_a", "id_b")
        return dedup._verify_pairs(cands, shingled, 0.8)
    if name == "_cc_round":
        # one propagation + pointer-doubling round, pre-checkpoint, over
        # the loop's per-round inputs: the persisted edges and
        # lineage-cut labels (otherwise the edge/label subtrees
        # re-expand at every reference)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
        )
        edges = dedup._cc_edges(dedup._cc_ends(pairs, "id_a", "id_b"))
        edges.count()
        labels = (
            edges.select(F.col("src").alias("id")).distinct()
            .withColumn("label", F.col("id"))
        ).localCheckpoint(eager=True)
        return dedup._cc_propagate_round(edges, labels)
    if name == "_annotate_udf":
        from beagle_spark import Annotator

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        ann = Annotator([{"text": "table scan", "id": "x", "case-sensitive?": False}])
        return ann.annotate_df(docs).select(F.sum(F.size("annotations")).alias("n"))
    fn, _sql = REGISTRY[name]
    return fn(spark, SF_DIR)


def main():
    out_dir, suffix = sys.argv[1], sys.argv[2]
    queries = sys.argv[3:] or DEFAULT_QUERIES
    os.makedirs(out_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("capture-plans")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in queries:
        try:
            df = build(name, spark)
            txt = _fmt(df)
        except Exception as e:
            txt = f"FAILED to build/explain: {e}"
        path = os.path.join(out_dir, f"{name.lstrip('_')}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        n_ex = txt.count("Exchange")
        print(f"{name}: {n_ex} Exchange mentions -> {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
