"""The benchmark workloads. Each takes a `Ctx`, generates its inputs
from ``ctx.seed``, sets up, measures for ``ctx.seconds``, checks its
outputs outside the timed region and returns an `Outcome`."""

from __future__ import annotations

import datetime
import os
import pickle
import random
import threading
import time
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import tracing
from harness import Outcome, cores, log, quantile
from beagle_spark import Annotator, match_text, streaming
from beagle_spark.ops import dedup
from beagle_spark.queries import REGISTRY

clock = time.monotonic

def _measure_group(spark, on: bool) -> None:
    """Tag (or stop tagging) this thread's jobs as the measured window,
    so the event-log parser can pick out their stages."""
    if on:
        spark.sparkContext.setJobGroup(tracing.MEASURE_GROUP, "measured window")
    else:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def _checksum(col: str = "annotations"):
    """Per-row (annotation count, sum of crc32("id:begin:end")) — the
    Spark twin of `tracing.annotation_checksum`."""
    crc = F.aggregate(
        F.col(col),
        F.lit(0).cast("long"),
        lambda acc, a: acc + F.crc32(
            F.concat_ws(
                ":", a["dict_entry_id"], a["begin_offset"].cast("string"),
                a["end_offset"].cast("string"),
            ).cast("binary")
        ),
    )
    return F.size(col).alias("n"), crc.alias("c")


def _closed_loop(fn, ctx, out: Outcome) -> list[float]:
    """Run ``fn`` back to back until ``ctx.seconds`` have passed and at
    least ``ctx.min_passes`` passes are done; returns the wall time of
    each successful pass."""
    walls: list[float] = []
    t_end = clock() + ctx.seconds
    while len(walls) < ctx.min_passes or clock() < t_end:
        out.attempted += 1
        t0 = clock()
        try:
            fn()
        except Exception as e:  # a failed pass is counted, not fatal
            log(f"pass failed: {e!r}")
            out.failed += 1
            if out.failed > ctx.min_passes:
                raise RuntimeError("too many failed passes") from e
            continue
        walls.append(clock() - t0)
    return walls


def _warm(fn, ctx) -> None:
    """Untimed passes until ``ctx.warm_s`` have passed, at least one."""
    if ctx.warm_s <= 0:
        return
    t_end = clock() + ctx.warm_s
    fn()
    while clock() < t_end:
        fn()


def _pass_metrics(out: Outcome, job: float, walls: list[float], setups: list[float],
                  n_docs: int) -> None:
    """End-to-end metrics of a closed loop: ``job`` is the pass time,
    and throughput is input rows per pass time."""
    out.e2e.update(
        setup_s=median(setups),
        job_s=job,
        docs_per_s=n_docs / job,
    )
    out.info.update(passes=len(walls), pass_s=[round(w, 4) for w in walls],
                    setup_s=[round(s, 4) for s in setups])


# ---------------------------------------------------------------------------
# annotate_exact
# ---------------------------------------------------------------------------
EXACT_DOCS = 2_000  # base documents
EXACT_REPLICAS = 5
EXACT_DICT = 5_000  # entries
EXACT_SAMPLE = 400  # documents in the layer table


def annotate_exact(ctx) -> Outcome:
    spark, n_cores = ctx.spark, cores()
    rng = random.Random(ctx.seed)
    base = inputs.sf_docs(rng, EXACT_DOCS)
    dictionary = inputs.exact_dictionary(rng, EXACT_DICT)
    rows = [(r * EXACT_DOCS + i, t) for r in range(EXACT_REPLICAS) for i, t in enumerate(base)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string").repartition(n_cores).persist()
    n_docs = corpus.count()
    # one small partition per core: starts the Python workers and loads
    # the broadcast in each
    warm = spark.createDataFrame(rows[: n_cores * 8], "doc_id long, text string")
    warm = warm.repartition(n_cores)

    out = Outcome()
    setups, compile_s, bcast_s = [], [], []
    ann = None
    for _ in range(ctx.setup_reps):
        if ann is not None:
            ann._bc.unpersist(blocking=True)  # keep one dictionary copy per worker
        t0 = clock()
        ann = Annotator(dictionary)
        t1 = clock()
        ann.udf(spark)  # broadcasts the compiled dictionary
        t2 = clock()
        ann.annotate_df(warm).select(F.sum(F.size("annotations"))).collect()
        t3 = clock()
        ctx.spans.add("matcher.compile", t0, t1)
        ctx.spans.add("annotator.broadcast", t1, t2)
        ctx.spans.add("annotator.warmup", t2, t3)
        setups.append(t3 - t0)
        compile_s.append(t1 - t0)
        bcast_s.append(t2 - t1)

    totals = []

    def one_pass() -> None:
        t0 = clock()
        n, c = _checksum()
        row = ann.annotate_df(corpus).select(n, c).agg(F.sum("n"), F.sum("c")).collect()[0]
        ctx.spans.add("annotate.pass", t0, clock())
        totals.append((row[0], row[1]))

    _warm(one_pass, ctx)
    totals.clear()
    _measure_group(spark, True)
    walls = _closed_loop(one_pass, ctx, out)
    _measure_group(spark, False)
    corpus.unpersist()

    # output check: in-process match_text over the base docs x replicas
    exp_n = exp_c = 0
    for text in base:
        n, c = tracing.annotation_checksum(match_text(text, ann.compiled))
        exp_n += n
        exp_c += c
    expected = (exp_n * EXACT_REPLICAS, exp_c * EXACT_REPLICAS)
    bad = sum(t != expected for t in totals)
    if bad:
        log(f"annotate_exact: {bad} passes differ from match_text {expected}: {totals}")
    out.failed += bad
    _pass_metrics(out, median(walls), walls, setups, n_docs)
    out.info.update(docs=n_docs, annotations_per_pass=expected[0])

    if ctx.traced:
        out.layers.update(_annotate_layers(ctx, ann.compiled, base[:EXACT_SAMPLE], out))
        out.layers.update({
            "matcher.compile_s": median(compile_s),
            "annotator.broadcast_s": median(bcast_s),
        })
        # the stream runs in the traced run only: its run-to-run spread is
        # wider than any bound an end-to-end metric may have (README)
        stream = stream_refresh(ctx)
        out.attempted += stream.attempted
        out.failed += stream.failed
        out.info["stream"] = stream.info
        out.layers.update({k: v for k, v in stream.layers.items()
                           if k.startswith("streaming.")})
        out.layers.update({"mixed." + k: stream.layers[k] for k in MIXED_LAYERS})
    return out


# the stream's layer-table values, reported with a "mixed." prefix: its
# dictionary has three configs and sloppy, ordered and fuzzy entries
MIXED_LAYERS = (
    "analysis.tokenize_us_per_doc", "matcher.verify_us_per_doc",
    "matcher.candidates_per_doc", "matcher.verify_hit_ratio", "matcher.compile_s",
    "annotator.inprocess_docs_per_s",
)


def _annotate_layers(ctx, cd, sample: list[str], out: Outcome) -> dict:
    """Layer table over ``sample`` plus the compiled dictionary's size.
    A composed output that differs from match_text fails the run."""
    t0 = clock()
    table = tracing.layer_table(sample, cd)
    ctx.spans.add("layer_table", t0, clock())
    out.attempted += 1
    if table["mismatches"]:
        log(f"layer table differs from match_text on {table['mismatches']} docs")
        out.failed += 1
    return {
        "analysis.tokenize_us_per_doc": table["tokenize_us"],
        "analysis.tokens_per_doc": table["tokens_per_doc"],
        "analysis.non_ascii_share": table["non_ascii_share"],
        "matcher.probe_us_per_doc": table["probe_us"],
        "matcher.verify_us_per_doc": table["verify_us"],
        "matcher.candidates_per_doc": table["candidates_per_doc"],
        "matcher.verify_hit_ratio": table["verify_hit_ratio"],
        "matcher.emit_us_per_doc": table["emit_us"],
        "matcher.annotations_per_doc": table["annotations_per_doc"],
        "matcher.compiled_mb": len(pickle.dumps(cd)) / 1e6,
        "matcher.field_programs": len(cd.fields),
        "annotator.arrow_us_per_doc": table["arrow_us"],
        "annotator.inprocess_docs_per_s": table["inprocess_docs_per_s"],
    }


# ---------------------------------------------------------------------------
# stream_refresh
# ---------------------------------------------------------------------------
# Offered load: half of the measured 4-core capacity of ~900 docs/s
# (offered-rate sweep in README.md).
STREAM_RATE = 450  # docs/s
STREAM_TICK = 0.1  # s between generator files
STREAM_WARMUP = 1.0  # s of generated docs left out of the statistics (batch sizes settle)
REFRESH_EVERY = 3  # micro-batches between dictionary rebuilds
STREAM_DICT = 8_000
STREAM_POOL = 300
STREAM_VERSIONS = 200
STREAM_SCHEMA = "doc_id long, text_idx int, text string, due double"


class _Generator(threading.Thread):
    """Open-loop source: drops stamped documents as parquet files into
    the stream's input dir on a fixed schedule, never slowed by the
    system under test. Document j is due at t0 + j / rate."""

    def __init__(self, in_dir: str, pool: list[str], rng: random.Random, rate: float):
        super().__init__(name="generator", daemon=True)
        self.in_dir, self.pool, self.rng, self.rate = in_dir, pool, rng, rate
        self.stop_evt = threading.Event()
        self.late_ms: list[float] = []
        self.docs: list[tuple[int, int, float]] = []  # (doc_id, text_idx, due)
        self.t0 = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._run()
        except BaseException as e:  # surfaced by the caller after join
            self.error = e

    def _run(self) -> None:
        self.t0 = time.time()
        k = 0
        while not self.stop_evt.is_set():
            k += 1
            target = self.t0 + k * STREAM_TICK
            delay = target - time.time()
            if delay > 0 and self.stop_evt.wait(delay):
                break
            self.late_ms.append(1000 * (time.time() - target))
            first = len(self.docs)
            while (self.t0 + len(self.docs) / self.rate) <= target:
                j = len(self.docs)
                self.docs.append((j, self.rng.randrange(len(self.pool)),
                                  self.t0 + j / self.rate))
            batch = self.docs[first:]
            if batch:
                _drop_file(self.in_dir, f"part-{k:06d}", batch, self.pool)


def _drop_file(in_dir: str, name: str, docs, pool) -> None:
    """Write atomically: Spark's file source ignores dot files."""
    table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text_idx": pa.array([d[1] for d in docs], pa.int32()),
        "text": pa.array([pool[d[1]] for d in docs], pa.string()),
        "due": pa.array([d[2] for d in docs], pa.float64()),
    })
    tmp = os.path.join(in_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(in_dir, f"{name}.parquet"))


def _commit_times(query) -> dict[int, tuple[float, dict, int]]:
    """batchId -> (commit epoch s, durationMs, numInputRows) from
    Structured Streaming's own per-trigger progress reports."""
    out = {}
    for p in query.recentProgress:
        if "addBatch" not in p.durationMs:
            continue  # an idle trigger: no batch ran
        ts = datetime.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=datetime.timezone.utc).timestamp()
        out[p.batchId] = (ts + p.durationMs["triggerExecution"] / 1000.0,
                          dict(p.durationMs), p.numInputRows)
    return out


def stream_refresh(ctx) -> Outcome:
    spark = ctx.spark
    rng = random.Random(ctx.seed)
    pool = inputs.mixed_docs(rng, STREAM_POOL)
    versions = inputs.refresh_versions(
        rng, inputs.mixed_dictionary(rng, STREAM_DICT, n_general_matching=10), STREAM_VERSIONS
    )
    out = Outcome()
    records: list = []  # (batch_id, version, rows)

    def start(rep: int, prime: list):
        in_dir = ctx.sub(f"stream-in-{rep}")
        _drop_file(in_dir, "prime", prime, pool)
        loaded = [-1]

        def load_dictionary():
            loaded[0] += 1
            return versions[loaded[0]]

        def sink(df, batch_id):
            n, c = _checksum()
            rows = df.select("doc_id", "text_idx", n, c).collect()
            records.append((batch_id, loaded[0], rows))

        stream_df = spark.readStream.schema(STREAM_SCHEMA).parquet(in_dir)
        q = streaming.run_with_dictionary_refresh(
            stream_df, load_dictionary, sink,
            checkpoint_dir=ctx.sub(f"stream-ckpt-{rep}"),
            refresh_every_n_batches=REFRESH_EVERY,
        )
        return q, in_dir

    def wait_first_commit(q, timeout=60.0):
        t_end = clock() + timeout
        while clock() < t_end:
            if any(p.numInputRows > 0 for p in q.recentProgress):
                return
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            time.sleep(0.01)
        raise RuntimeError("stream committed no batch")

    # set-up: compile + broadcast + query start until the first batch,
    # which carries one priming document per core, has committed
    setups = []
    prime = [(-1 - i, i % len(pool), float("nan")) for i in range(cores())]
    for rep in range(ctx.setup_reps):
        records.clear()
        t0 = clock()
        query, in_dir = start(rep, prime)
        wait_first_commit(query)
        setups.append(clock() - t0)
        ctx.spans.add("stream.setup", t0, clock())
        if rep < ctx.setup_reps - 1:
            query.stop()

    gen = _Generator(in_dir, pool, random.Random(ctx.seed + 1), STREAM_RATE)
    t_window = clock()
    try:
        gen.start()
        time.sleep(ctx.seconds)
        gen.stop_evt.set()
        gen.join()
        if gen.error is not None:
            raise gen.error
        gen_end = time.time()
        # drain: every generated doc must reach the sink, and its batch commit
        want = len(gen.docs) + len(prime)
        t_end = clock() + 60
        while clock() < t_end and query.exception() is None:
            done = list(records)
            if sum(len(r[2]) for r in done) >= want:
                p = query.lastProgress
                if p is not None and p.batchId >= max(r[0] for r in done):
                    break
            time.sleep(0.02)
    finally:
        gen.stop_evt.set()
        query.stop()
    ctx.spans.add("stream.window", t_window, clock())

    commits = _commit_times(query)
    expected = _stream_expected(pool, versions, {v for _, v, _ in records})
    # window: the batches that carried documents due after the warm-up
    # and started while the generator ran (a later batch holds only the
    # leftovers of a stopped stream)
    due = {d[0]: d[2] for d in gen.docs}
    t_warm = gen.t0 + STREAM_WARMUP
    window = sorted(
        b for b, _, rows in records
        if b in commits and commits[b][0] - commits[b][1]["triggerExecution"] / 1000.0 < gen_end
        and any(r["doc_id"] >= 0 and due[r["doc_id"]] >= t_warm for r in rows))

    # output check: each doc exactly once, under its batch's version
    seen: dict[int, int] = {}
    wrong = uncommitted = 0
    lat_ms = []
    for batch_id, v, rows in records:
        for r in rows:
            seen[r["doc_id"]] = seen.get(r["doc_id"], 0) + 1
            if (r["n"], r["c"]) != expected[(r["text_idx"], v)]:
                wrong += 1
        if batch_id not in commits:  # reached the sink, never committed
            uncommitted += len(rows)
            continue
        for r in rows:
            if batch_id in window and r["doc_id"] >= 0 and due[r["doc_id"]] >= t_warm:
                lat_ms.append(1000 * (commits[batch_id][0] - due[r["doc_id"]]))
    ids = [d[0] for d in gen.docs] + [p[0] for p in prime]
    lost = sum(1 for i in ids if i not in seen)
    dups = sum(c - 1 for c in seen.values() if c > 1)
    if lost or dups or wrong or uncommitted:
        log(f"stream_refresh: lost={lost} duplicated={dups} wrong_version={wrong} "
            f"uncommitted={uncommitted}")
    out.attempted += len(ids)
    out.failed += lost + dups + wrong + uncommitted

    trig = [commits[b][1]["triggerExecution"] / 1000.0 for b in window]
    rows_in = [commits[b][2] for b in window]
    version_of = {b: v for b, v, _ in records}
    refresh = [b for b in window if version_of.get(b - 1, version_of[b]) != version_of[b]]
    # throughput: rows of the window batches over the time from the
    # commit just before the first (the stream starts the next batch at
    # once) to the last window commit
    span_s = commits[window[-1]][0] - commits[window[0] - 1][0]
    out.e2e.update(
        setup_s=median(setups),
        job_s=median(trig),
        docs_per_s=sum(rows_in) / span_s,
        latency_p50_ms=quantile(lat_ms, 0.50),
        latency_p99_ms=quantile(lat_ms, 0.99),
    )
    # backlog: documents due but not yet committed, at each commit
    committed = backlog = 0
    for b, _, rows in sorted((r for r in records if r[0] in commits), key=lambda r: r[0]):
        committed += sum(r["doc_id"] >= 0 for r in rows)
        due_by = int((commits[b][0] - gen.t0) * STREAM_RATE) + 1
        backlog = max(backlog, min(len(gen.docs), due_by) - committed)
    out.info.update(
        window_batches=window, latency_samples=len(lat_ms), refreshes=len(refresh),
        setup_s=[round(s, 4) for s in setups], drain_s=round(time.time() - gen_end, 3),
    )
    out.layers.update({
        "streaming.docs_per_s": out.e2e["docs_per_s"],
        "streaming.latency_p50_ms": out.e2e["latency_p50_ms"],
        "streaming.latency_p99_ms": out.e2e["latency_p99_ms"],
        "streaming.setup_s": out.e2e["setup_s"],
        "streaming.batch_ms_p50": median([commits[b][1]["addBatch"] for b in window]),
        "streaming.rows_per_batch": sum(rows_in) / len(window),
        "streaming.refresh_batch_ms": median(
            [commits[b][1]["triggerExecution"] for b in refresh]) if refresh else 0.0,
        "streaming.backlog_rows": backlog,
        "streaming.generator_late_ms": quantile(gen.late_ms, 0.99),
        "streaming.latency_samples": len(lat_ms),
    })
    if ctx.traced:
        t0 = clock()
        ann = Annotator(versions[0])
        t1 = clock()
        ann.udf(spark)  # broadcasts the compiled dictionary
        out.layers["matcher.compile_s"] = t1 - t0
        out.layers["annotator.broadcast_s"] = clock() - t1
        ann._bc.unpersist()
        out.layers.update(_annotate_layers(ctx, ann.compiled, pool[:120], out))
    return out


def _stream_expected(pool, versions, used: set[int]) -> dict:
    """(text_idx, version) -> (count, checksum) for the versions used.
    Entries match independently and ids are unique across versions, so
    one match against the union of all used versions, filtered by each
    version's id set, equals matching under that version alone."""
    union: dict[str, dict] = {}
    for v in used:
        for e in versions[v]:
            union[e["id"]] = e
    cd = Annotator(list(union.values())).compiled
    out = {}
    for i, text in enumerate(pool):
        anns = match_text(text, cd)
        for v in used:
            ids = {e["id"] for e in versions[v]}
            out[(i, v)] = tracing.annotation_checksum(
                [a for a in anns if a["dict_entry_id"] in ids])
    return out


# ---------------------------------------------------------------------------
# dedup_pairs
# ---------------------------------------------------------------------------
DEDUP_PIPELINES = ("dd_clusters", "dd_simhash_pairs", "sim_lsh_pairs")
DEDUP_DOCS = 600
DEDUP_VECS = 600
DEDUP_WARM = 64


def _write_corpus(path: str, texts: list[str], vecs: list[list[float]]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }), os.path.join(path, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))


def _rows(rows) -> list[tuple]:
    """Rows as tuples with columns sorted by name, sorted."""
    return sorted(tuple(v for _, v in sorted(r.asDict().items())) for r in rows)


def _oracle(path: str) -> dict[str, list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(path, t + '.parquet')}'")
        out = {}
        for name in DEDUP_PIPELINES:
            cur = con.execute(REGISTRY[name][1])
            cols = [d[0] for d in cur.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            out[name] = sorted(tuple(r[i] for i in order) for r in cur.fetchall())
        return out
    finally:
        con.close()


def dedup_pairs(ctx) -> Outcome:
    spark = ctx.spark
    rng = random.Random(ctx.seed)
    texts = inputs.neardup_corpus(rng, DEDUP_DOCS)
    vecs = inputs.neardup_embeddings(rng, DEDUP_VECS)
    main_dir, warm_dir = ctx.sub("dd"), ctx.sub("dd-warm")
    _write_corpus(main_dir, texts, vecs)
    _write_corpus(warm_dir, texts[:DEDUP_WARM], vecs[:DEDUP_WARM])

    def run_all(path: str, names=DEDUP_PIPELINES, per: dict | None = None) -> dict:
        res = {}
        for name in names:
            t0 = clock()
            res[name] = _rows(REGISTRY[name][0](spark, path).collect())
            t1 = clock()
            ctx.spans.add(f"dedup.{name}", t0, t1)
            if per is not None:
                per.setdefault(name, []).append(t1 - t0)
        return res

    out = Outcome()
    # set-up: the SimHash pipeline on a small slice starts the Python
    # UDF workers and their imports and generates its code
    setups = []
    for _ in range(ctx.setup_reps):
        t0 = clock()
        run_all(warm_dir, ("dd_simhash_pairs",))
        setups.append(clock() - t0)

    results, per = [], {}
    cc_rounds = []

    def one_pass() -> None:
        results.append(run_all(main_dir, per=per))
        cc_rounds.append(dedup.CC_LAST_STATS.get("iterations", 0))

    _warm(lambda: run_all(main_dir), ctx)
    _measure_group(spark, True)
    walls = _closed_loop(one_pass, ctx, out)
    _measure_group(spark, False)

    oracle = _oracle(main_dir)
    # an operation is one pipeline run; the loop counted one per pass
    out.attempted += len(results) * (len(DEDUP_PIPELINES) - 1)
    for res in results:
        for name in DEDUP_PIPELINES:
            if res[name] != oracle[name]:
                log(f"dedup_pairs: {name} differs from the DuckDB oracle "
                    f"({len(res[name])} vs {len(oracle[name])} rows)")
                out.failed += 1
    # the pass time is the sum of each pipeline's median: the pipelines'
    # slow moments rarely coincide, so this is steadier than the median
    # of three or four whole-pass walls
    pipeline_s = {n: median(per[n]) for n in DEDUP_PIPELINES}
    _pass_metrics(out, sum(pipeline_s.values()), walls, setups, DEDUP_DOCS + DEDUP_VECS)
    out.info.update({f"{n}_rows": len(oracle[n]) for n in DEDUP_PIPELINES})
    out.info["pipeline_s"] = {n: round(v, 4) for n, v in pipeline_s.items()}

    if ctx.traced:
        docs = spark.read.parquet(os.path.join(main_dir, "documents.parquet"))
        n_cand = dedup.minhash_lsh_candidates(docs, bucket_cap=1000).count()
        n_ver = dedup.minhash_lsh_verified(docs).count()
        out.layers.update({
            "dedup.clusters_s": pipeline_s["dd_clusters"],
            "dedup.simhash_pairs_s": pipeline_s["dd_simhash_pairs"],
            "similarity.lsh_pairs_s": pipeline_s["sim_lsh_pairs"],
            "dedup.cc_rounds": median(cc_rounds),
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        })
    return out


WORKLOADS = {
    "annotate_exact": annotate_exact,
    "dedup_pairs": dedup_pairs,
}
