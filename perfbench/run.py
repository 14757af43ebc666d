"""beagle_spark benchmark: one workload per run, local[cores], one process.

    python3 perfbench/run.py --workload annotate_exact --seed 1 --seconds 10 --trace 0

Prints a readable metric table, then as its last stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
run is a warm-up phase and then four phases, untraced, traced, traced,
untraced (Spark event log on and spans kept in the traced ones), and the
metrics are the per-layer ones, including the tracing overhead.
Workloads, metrics and units are defined in BENCHMARK.json;
perfbench/README.md explains them.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

import harness
from harness import ROOT, Ctx, Outcome, Spans, WorkDir, log

# Traced-run phases, each its own Spark session in one JVM, after an
# uncounted untraced phase that warms the JVM and the Python workers.
# The order untraced, traced, traced, untraced cancels a linear drift in
# machine speed from the tracing overhead.
TRACE_ORDER = (False, True, True, False)

# Untimed warm-up of the untraced run. Pass times keep falling for
# several seconds after set-up (JIT, Python-worker caches), and a
# measured window that starts on that slope has a median that depends
# on how many passes fit in it, that is on the machine's speed.
WARM_S = 5.0


def _metrics(values: dict, spec: list[dict]) -> dict:
    """Attach units from the spec; every spec metric must be present."""
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload did not report {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def _run_phase(workload, seed: int, seconds: float, work: WorkDir, phase: int,
               traced: bool, setup_reps: int, min_passes: int,
               warm_s: float) -> tuple[Outcome, dict]:
    """One Spark session: sentinel, workload, sentinel. A traced phase
    also writes and parses Spark's event log."""
    event_dir = work.sub(f"eventlog-{phase}") if traced else None
    spark = harness.start_session(work, event_dir)
    diag = {}
    try:
        diag["sentinel_pre_s"] = harness.sentinel_s(spark)
        ctx = Ctx(spark=spark, seed=seed, seconds=seconds, work=work, traced=traced,
                  setup_reps=setup_reps, min_passes=min_passes, warm_s=warm_s,
                  phase=phase, spans=Spans(enabled=traced))
        outcome = workload(ctx)
        diag["sentinel_post_s"] = harness.sentinel_s(spark)
    finally:
        spark.stop()
    if traced:
        outcome.layers.update(_spark_layers(event_dir, outcome))
        _write_spans(ctx.spans, phase)
    return outcome, diag


def _spark_layers(event_dir: str, outcome: Outcome) -> dict:
    """Event-log totals of the measured jobs, per pass."""
    import tracing

    cores = harness.cores()
    st = tracing.stage_stats(event_dir, cores)
    ops = outcome.info["passes"]
    layers = {
        "spark.shuffle_write_mb": st["shuffle_write_mb"] / ops,
        "spark.spill_mb": st["spill_mb"] / ops,
        "spark.task_skew": st["task_skew"],
        "annotator.core_busy_share": st["core_busy_share"],
        "annotator.udf_task_s": st["python_run_s"] / ops,
        "annotator.python_mb_sent": st["python_mb_sent"] / ops,
        "annotator.python_mb_received": st["python_mb_received"] / ops,
    }
    inproc = outcome.layers.get("annotator.inprocess_docs_per_s")
    if inproc:
        layers["annotator.parallel_efficiency"] = outcome.e2e["docs_per_s"] / (cores * inproc)
    return layers


def _write_spans(spans: Spans, phase: int) -> None:
    """Spans stay in memory during a phase and are written once, here,
    next to the run's other traced output."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{os.getpid()}-p{phase}.json")
    with open(path, "w") as f:
        json.dump([{"name": n, "start": s, "end": e} for n, s, e in spans.items], f)
    log(f"spans -> {path}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "beagle_spark")):
        log(f"no beagle_spark package under {ROOT}: nothing to benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    workload = WORKLOADS[args.workload]

    # a terminated run still stops the JVM and its workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = WorkDir(args.workload)
    harness.prepare_env(work)
    rss = harness.RssSampler().start()
    t_start = time.monotonic()
    try:
        if args.trace:
            # no warm passes: five phases of dedup passes would not fit
            # the run's time limit
            warm, _ = _run_phase(workload, args.seed, args.seconds / 4, work, 0, False,
                                 1, 1, 0.0)
            phases = [_run_phase(workload, args.seed, args.seconds / 2, work, i, traced,
                                 1, 1, 0.0)
                      for i, traced in enumerate(TRACE_ORDER, start=1)]
            outcome, diag = phases[2]  # the second traced phase
            outcome.attempted = warm.attempted + sum(o.attempted for o, _ in phases)
            outcome.failed = warm.failed + sum(o.failed for o, _ in phases)
            job = {t: statistics.median(o.e2e["job_s"] for (o, _), traced in
                                        zip(phases, TRACE_ORDER) if traced == t)
                   for t in (False, True)}
            outcome.layers["trace.overhead_pct"] = 100 * (job[True] / job[False] - 1)
            diag["phase_job_s"] = [round(o.e2e["job_s"], 4) for o, _ in phases]
        else:
            outcome, diag = _run_phase(workload, args.seed, args.seconds, work, 0, False,
                                       3, 3, WARM_S)
    finally:
        harness.shutdown_jvm()
        peak_mb = rss.stop()
        stragglers = harness.wait_for_children()
        work.close()
    if stragglers:
        log(f"child processes still running: {stragglers}")
        return 1
    outcome.e2e["peak_rss_mb"] = peak_mb
    diag["wall_s"] = time.monotonic() - t_start
    diag.update(outcome.info)

    if args.trace:
        values = {m["name"]: 0.0 for m in spec["per_layer"]}  # 0 = layer not run
        values.update(outcome.layers)
        values["sentinel.pre_s"] = diag["sentinel_pre_s"]
        values["sentinel.post_s"] = diag["sentinel_post_s"]
        metrics = _metrics(values, spec["per_layer"])
    else:
        metrics = _metrics(outcome.e2e, spec["end_to_end"])
    log("detail " + json.dumps(diag, default=str))
    for name, m in metrics.items():
        print(f"{args.workload:16s} {name:34s} {m['value']:14.4f} {m['unit']}")
    correct = outcome.failed == 0 and outcome.attempted > 0
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
