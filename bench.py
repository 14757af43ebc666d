#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (kept well under the driver's 2000-char
tail capture — bulky diagnostics go to bench_detail.json next to this
script):
  {"metric": "suite_total", "value": <total sec>, "unit": "sec",
   "queries": {name: min-of-2 sec, ...}, "sf": ...,
   "annotate": {"5k"|"80k"|"steady_1m": docs_per_sec},
   "unstable": [names whose two passes differ >2x],
   "sentinel": [fixed JVM-canary secs: pre-annotate, before and after
                the steady-state annotate probe, one per pass]}

The annotate benchmark mirrors the reference's published setup
(BASELINE.md): dictionary sizes 5k and 80k phrases, mostly-non-matching
entries (city-name-style) so the presearcher-style prefilter is
exercised, plus a matching subset so real match work happens.
Reference targets: >= ~2000 docs/s (5k) and >= ~400 docs/s (80k) per
8-core node.

Stability: per-query numbers are min-of-2 time-separated full passes.
On this shared box, A/A experiments (byte-identical code) have shown
per-pass swings up to ~2x warm and ~4x cold that no amount of warmup
removes; min-of-2 is the mitigation, not a cure. Queries whose two
passes differ by >2x are listed in "unstable" so downstream deltas on
them can be discounted mechanically.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def make_dictionary(n: int) -> list[dict]:
    """Deterministic dictionary of n phrases: ~95% synthetic city-style
    names (non-matching -> prefilter floor), ~5% real corpus vocabulary
    (matching work)."""
    vocab = [
        "table", "scan", "hash", "join", "merge", "sort", "filter", "group",
        "window", "stream", "batch", "spark", "query", "value", "column",
        "order", "data", "row", "key", "agg",
    ]
    out = []
    n_matching = 0
    for i in range(n):
        a = vocab[i % len(vocab)]
        b = vocab[(i // len(vocab)) % len(vocab)]
        if i % 20 == 0 and n_matching < len(vocab) * len(vocab):
            # distinct vocab pairs only — like the reference's city-name
            # dictionary, most entries never match a given document
            out.append({"text": f"{a} {b}", "id": f"m{i}", "case-sensitive?": False})
            n_matching += 1
        else:
            out.append(
                {"text": f"city{i:06d} name{i % 997:04d}", "id": f"s{i}",
                 "case-sensitive?": False}
            )
    return out


def timed(fn):
    t0 = time.monotonic()
    n = fn()
    return time.monotonic() - t0, n


def sentinel_sec(spark) -> float:
    """Load sentinel (VERDICT r21 item 3): a fixed-cost JVM-only canary
    (500M xxhash64 + sum, no I/O, no Python) timed like a query. Its
    wall time moves only with box contention/CPU state, never with this
    repo's code, so cross-round deltas can be normalized against it (or
    a contaminated window discarded mechanically)."""
    t0 = time.monotonic()
    # sum in DOUBLE: ansi=true (Spark 4 default) makes a LONG sum of
    # 500M full-range hashes throw ARITHMETIC_OVERFLOW
    spark.range(500_000_000).selectExpr(
        "sum(cast(xxhash64(id) AS double)) AS s"
    ).collect()
    return round(time.monotonic() - t0, 3)


def run_query(fn, spark, sf_dir):
    """Build AND execute under the timer: some pipelines (e.g.
    minhash_lsh_verified) materialize eagerly at construction time, so
    timing only a pre-built DataFrame would miss their real cost. The
    noop sink gives full execution without driver-side materialization."""
    def go():
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    return go


def main():
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("beagle-spark-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from beagle_spark import Annotator
    from beagle_spark.ops import dedup as _dedup
    from beagle_spark.queries import REGISTRY

    results: dict[str, float] = {}
    extra: dict = {}
    sentinels: list[float] = [sentinel_sec(spark)]  # one before the probes
    log(f"load sentinel (pre-annotate): {sentinels[0]}s")

    # Partition sizing for the Python-UDF annotate path: keep >= ~500
    # docs per task so Arrow/worker per-batch overhead amortizes (the
    # pandas-UDF analog of spark.sql.files.maxPartitionBytes). Measured
    # on this corpus: 32 partitions -> 1.9k docs/s, 8 -> 5.1k docs/s —
    # over-splitting a small input makes 32 contending Python workers
    # each do trivial work. At 100 TB the scan naturally produces
    # full-size splits and this clamp is a no-op.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    n_part = max(1, min(int(CPUS), n_docs // 500))
    docs = docs.repartition(n_part).cache()
    docs.count()
    log(f"documents: {n_docs} in {n_part} partitions")

    # --- annotate throughput at 5k / 80k phrases (BASELINE.md headline) ---
    # warmup: spawn the python workers & do the imports once, so the
    # measured runs reflect steady-state throughput (what a long-running
    # 100 TB job sees); cold time reported separately.
    warm = Annotator(make_dictionary(100))
    warm.annotate_df(docs).select(F.sum(F.size("annotations"))).collect()

    ann_stats = {}
    for dict_size in (5_000, 80_000):
        t0 = time.monotonic()
        ann = Annotator(make_dictionary(dict_size))
        compile_s = time.monotonic() - t0
        # NOTE: each measurement uses a DIFFERENT map-side expression —
        # re-collecting an identical plan would silently reuse the
        # completed shuffle map stage and time only the final reduce.
        out0 = ann.annotate_df(docs).select(
            F.sum(F.size("annotations")).alias("n")
        )
        cold_sec, res = timed(lambda: out0.collect())
        n_ann = res[0]["n"]
        # median of 3 warm runs: a single sample on this shared box can
        # be 4x off (r1 recorded warm 6.6s vs cold 1.7s for the same job)
        warm_secs = []
        for i in (1, 2, 3):
            out_i = ann.annotate_df(docs).select(
                (F.sum(F.size("annotations") + i) - F.lit(i * n_docs)).alias("n")
            )
            sec_i, res_i = timed(lambda: out_i.collect())
            assert res_i[0]["n"] == n_ann
            warm_secs.append(sec_i)
        sec = sorted(warm_secs)[1]
        ann_stats[f"{dict_size // 1000}k"] = {
            "compile_sec": round(compile_s, 3),
            "cold_sec": round(cold_sec, 3),
            "annotate_sec": round(sec, 3),
            "warm_secs": [round(s, 3) for s in warm_secs],
            "docs_per_sec": round(n_docs / sec, 1),
            "n_annotations": int(n_ann),
        }
        results[f"annotate_{dict_size // 1000}k_phrases"] = round(sec, 3)
        log(
            f"annotate {dict_size}: warm median {sec:.2f}s of {[f'{s:.2f}' for s in warm_secs]} "
            f"-> {n_docs / sec:.0f} docs/s (cold {cold_sec:.2f}s, {n_ann} anns)"
        )
    ann_stats["targets_docs_per_sec"] = {"5k": 2000, "80k": 400}  # BASELINE.md 2x gate

    # --- steady-state scale probe: 1M docs, median of 3 (VERDICT r8
    # item 6; was 100k single-shot, which swung 18.5k->33.4k docs/s on
    # identical code between r7 and r8). Replicate the corpus so
    # per-job overhead stops dominating; partitions pinned to CPUS; this
    # is the docs/s a long-running 100 TB job sees per 32-core node.
    probe_docs = int(os.environ.get("SPARK_GRAFT_PROBE_DOCS", "1000000"))
    # Label derived from the requested probe size so overridden runs
    # (SPARK_GRAFT_PROBE_DOCS=20000) don't emit numbers mislabeled "1M".
    if probe_docs == 1_000_000:
        probe_label = "steady_1m"
    elif probe_docs >= 1000:
        probe_label = f"steady_{probe_docs // 1000}k"
    else:  # tiny overridden runs: raw doc count, not a misleading "0k"
        probe_label = f"steady_{probe_docs}"
    repl = max(1, (probe_docs + n_docs - 1) // n_docs)
    big = (
        docs.withColumn("_r", F.explode(F.sequence(F.lit(1), F.lit(repl))))
        .drop("_r")
        .repartition(int(CPUS))
        .persist()
    )
    n_big = big.count()
    ann5k = Annotator(make_dictionary(5_000))
    # One UNTIMED pass over the replicated corpus before the timed
    # passes (r22 measurement fix, documented in OPTIMIZATION_r22.md):
    # the small-corpus warm-up above runs on n_part (~10) partitions, so
    # only ~10 Python workers exist when the first 1M pass starts — the
    # probe then forks the remaining ~CPUS-10 workers and faults their
    # memory INSIDE the timed region. On this box page faults are
    # virtualization-expensive (see OPTIMIZATION_r22.md item 7:
    # worker kernel time in exc_page_fault/count_memcg_events), which
    # made pass 1 consistently the slowest (e.g. 57.9/71.4/33.0/14.8 s
    # in one probe). The probe's own docstring has always declared it a
    # STEADY-STATE measurement; this makes all three timed passes
    # actually steady-state. Old-methodology numbers remain readable:
    # per-pass times are still recorded in bench_detail.json.
    warm_big = ann5k.annotate_df(big).select(F.sum(F.size("annotations")))
    warm_big.collect()
    # warm sentinels bracket the timed passes, so a probe that ran in a
    # contended window shows it on both sides
    sentinels.append(sentinel_sec(spark))
    log(f"load sentinel (pre-{probe_label}): {sentinels[-1]}s")
    big_secs = []
    for i in (1, 2, 3):
        # vary the map-side expression so Spark can't reuse a completed
        # stage across runs (same trick as the warm runs above)
        out_big = ann5k.annotate_df(big).select(
            (F.sum(F.size("annotations") + i) - F.lit(i * n_big)).alias("n")
        )
        sec_i, _ = timed(lambda: out_big.collect())
        big_secs.append(sec_i)
        log(f"  {probe_label} probe run {i}: {sec_i:.2f}s ({n_big / sec_i:.0f} docs/s)")
    sentinels.append(sentinel_sec(spark))
    log(f"load sentinel (post-{probe_label}): {sentinels[-1]}s")
    big.unpersist()
    big_sec = sorted(big_secs)[1]
    ann_stats[probe_label] = {
        "n_docs": int(n_big),
        "annotate_sec": round(big_sec, 3),
        "annotate_secs": [round(s, 3) for s in big_secs],
        "docs_per_sec": round(n_big / big_sec, 1),
    }
    results[f"annotate_{probe_label.split('_', 1)[1]}_docs"] = round(big_sec, 3)
    log(
        f"annotate {probe_label} probe: {n_big} docs, median {big_sec:.2f}s of "
        f"{[f'{s:.2f}' for s in big_secs]} -> {n_big / big_sec:.0f} docs/s"
    )
    extra["annotate"] = ann_stats

    # --- registry headline queries ---
    bench_queries = [
        "q1_pricing_summary", "q3_region_revenue", "q5_hourly_events",
        "q6_window_rownum", "q8_asof_last_signup", "q9_session_windows",
        "q10_part_revenue", "q12_value_quantiles", "t7_lucene_sql_path",
        "t5_dict_match_counts", "dd_exact", "dd_minhash_lsh", "dd_simhash",
        "sim_topk", "ts_token_count", "ts_quality", "ts_fingerprint",
        # heavy non-benched queries (VERDICT r6 item 5)
        "ts_winnow", "dd_clusters", "dd_simhash_pairs", "dd_embed_neardup",
        "sim_ivf_ann",
    ]
    # Shared warm-up: one untimed pass that touches every table scan and
    # pays codegen/JIT/scheduler warmup BEFORE any timed run. Then TWO
    # timed passes over the whole suite, min per query. The r7->r8 A/A
    # experiment (byte-identical code) showed single-shot — and even
    # back-to-back min-of-2 — per-query numbers swinging up to 6.7x on
    # this shared box; two time-separated full passes decorrelate the
    # noise burst from the measurement.
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        try:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.format("noop").mode(
                "overwrite").save()
        except Exception as e:  # tolerate a missing table like the query loop
            log(f"warm-up scan {t}: skipped ({e})")
    warm_names = ["q1_pricing_summary", "ts_token_count", "dd_exact"]
    for name in warm_names:
        try:
            run_query(REGISTRY[name][0], spark, SF_DIR)()
        except Exception:
            pass
    # The dedup family + q12 have shown 2-6.7x pass-to-pass swings on
    # frozen code across rounds (VERDICT r15-r20 hygiene item): give
    # them a THIRD timed pass so their reported min is readable across
    # rounds. Additive only — passes 1-2 are unchanged and kept
    # per-pass in bench_detail.json, so the old min-of-2 statistic
    # remains recoverable for cross-round comparison.
    noisy_queries = {
        "dd_exact", "dd_minhash_lsh", "dd_simhash", "dd_simhash_pairs",
        "dd_clusters", "dd_embed_neardup", "q12_value_quantiles",
    }
    pass_times: list[dict[str, float]] = []
    for p in (1, 2, 3):
        # canary before every timed pass (additive; queries unchanged)
        sentinels.append(sentinel_sec(spark))
        log(f"load sentinel (pass {p}): {sentinels[-1]}s")
        times: dict[str, float] = {}
        for name in bench_queries:
            if p > 2 and name not in noisy_queries:
                continue
            fn, _sql = REGISTRY[name]
            if p > 1 and pass_times[0].get(name, 0) > 60:
                times[name] = pass_times[0][name]  # too slow to repeat
                continue
            try:
                sec, _ = timed(run_query(fn, spark, SF_DIR))
                times[name] = sec
                if name in ("dd_clusters", "dd_embed_neardup") and _dedup.CC_LAST_STATS:
                    # connected-components instrumentation (iteration
                    # count + per-round wall/changed) -> bench_detail
                    cc = dict(_dedup.CC_LAST_STATS)
                    extra.setdefault("cc_stats", {})[f"{name}_pass{p}"] = cc
                    log(f"  {name} cc: path={cc['path']} edges={cc['edges']} "
                        f"iters={cc['iterations']} rounds={cc['rounds']}")
            except Exception as e:  # keep the bench line intact on failure
                log(f"{name}: FAILED {e}")
                times[name] = -1.0
        pass_times.append(times)
        ok_total = sum(v for v in times.values() if v > 0)
        log(f"suite pass {p}: {ok_total:.1f}s")
    unstable: list[str] = []
    for name in bench_queries:
        samples = [t[name] for t in pass_times if t.get(name, -1.0) >= 0]
        results[name] = round(min(samples), 3) if samples else -1.0
        if len(samples) >= 2 and min(samples) > 0 and max(samples) > 2 * min(samples):
            unstable.append(name)
        per_pass = ", ".join(
            f"{t[name]:.2f}" for t in pass_times if name in t
        )
        log(f"{name}: {results[name]}s (passes: {per_pass})")
    if unstable:
        log(f"unstable (>2x between passes, deltas unreliable): {unstable}")
    extra["pass_times"] = [
        {k: round(v, 3) for k, v in t.items()} for t in pass_times
    ]

    total = round(sum(v for v in results.values() if v > 0), 3)
    # Full diagnostics (per-pass times, warm_secs, compile/cold splits) go
    # to a side file; the single stdout line stays compact so the driver's
    # 2000-char tail capture always sees the complete JSON (BENCH_r09 was
    # unparseable because pass_times pushed the line past that limit).
    detail = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "n_docs": n_docs,
        "cpus": int(CPUS),
        "unstable": unstable,
        "sentinel": sentinels,
        **extra,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        log(f"full diagnostics -> {detail_path}")
    except OSError as e:
        log(f"could not write {detail_path}: {e}")
    compact_annotate = {
        k: v["docs_per_sec"]
        for k, v in ann_stats.items()
        if isinstance(v, dict) and "docs_per_sec" in v
    }
    payload = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "n_docs": n_docs,
        "cpus": int(CPUS),
        "annotate": compact_annotate,
        "unstable": unstable,
        "sentinel": sentinels,
    }
    line = json.dumps(payload, separators=(",", ":"))
    # The driver tail-captures ~2000 chars of stdout; if the compact line
    # ever outgrows the budget, progressively drop optional fields rather
    # than suppressing the summary entirely (a hard assert here once risked
    # zeroing a whole round's bench record).
    for drop in ("sentinel", "unstable", "annotate", "queries"):
        if len(line) < 1500:
            break
        log(f"bench line too long ({len(line)} chars); dropping '{drop}' "
            f"(full data in bench_detail.json)")
        payload.pop(drop, None)
        line = json.dumps(payload, separators=(",", ":"))
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
