"""Traced-run instruments: Spark event-log parsing and the in-process
annotate layer table.

Both measure the program from outside. The event log is Spark's own;
the layer table calls the package's public functions in the order
`match_text` calls them and checks that the composition reproduces
`match_text` exactly, so the table cannot drift from the program.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import zlib

import pyarrow as pa

from beagle_spark.analysis import analyze
from beagle_spark.matcher import match_text, merge_same_type_annotations
from beagle_spark.matcher.core import build_token_index, find_matches
from beagle_spark.schema import ANNOTATIONS_TYPE

MEASURE_GROUP = "perfbench-measure"


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
def _events(log_dir: str):
    """Every event of every log under ``log_dir`` (Spark 4 writes a
    rolling `eventlog_v2_*` directory of `events_*` files)."""
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def stage_stats(log_dir: str, cores: int) -> dict:
    """Per-stage wall, task time, shuffle, spill and the ArrowEvalPython
    SQL metrics, summed over the stages of jobs run under the job group
    of the measured passes."""
    measured: set[int] = set()
    stages: dict[int, dict] = {}
    tasks: dict[int, list[float]] = {}
    acc: dict[str, float] = {}
    shuffle_b = spill_b = 0
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if (ev.get("Properties") or {}).get("spark.jobGroup.id") == MEASURE_GROUP:
                measured.update(ev["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in measured or "Task Metrics" not in ev:
                continue
            m = ev["Task Metrics"]
            tasks.setdefault(sid, []).append(m["Executor Run Time"] / 1000.0)
            shuffle_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            spill_b += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            for a in ev["Task Info"].get("Accumulables", []):
                name = a.get("Name") or ""
                if not name.startswith("internal.") and "Update" in a:
                    try:
                        acc[name] = acc.get(name, 0.0) + float(a["Update"])
                    except (TypeError, ValueError):
                        pass  # non-numeric accumulable
    walls = {
        sid: (info["Completion Time"] - info["Submission Time"]) / 1000.0
        for sid, info in stages.items()
        if sid in tasks and "Completion Time" in info
    }
    task_s = sum(sum(t) for t in tasks.values())
    wall_s = sum(walls.values())
    # skew: per stage, slowest task / mean task, weighted by stage task time
    skew_num = sum(max(t) / statistics.mean(t) * sum(t) for t in tasks.values()
                   if len(t) > 1 and sum(t) > 0)
    skew_den = sum(sum(t) for t in tasks.values() if len(t) > 1 and sum(t) > 0)
    return {
        "core_busy_share": task_s / (wall_s * cores) if wall_s else 0.0,
        "task_skew": skew_num / skew_den if skew_den else 1.0,
        "shuffle_write_mb": shuffle_b / 1e6,
        "spill_mb": spill_b / 1e6,
        "python_run_s": acc.get("time to run Python workers", 0.0) / 1000.0,
        "python_mb_sent": acc.get("data sent to Python workers", 0.0) / 1e6,
        "python_mb_received": acc.get("data returned from Python workers", 0.0) / 1e6,
    }


# ---------------------------------------------------------------------------
# In-process annotate layer table
# ---------------------------------------------------------------------------
def annotation_checksum(anns) -> tuple[int, int]:
    """(count, sum of crc32("id:begin:end")) — the same fingerprint the
    Spark side computes with `crc32(concat_ws(':', ...))`."""
    return len(anns), sum(
        zlib.crc32(f"{a['dict_entry_id']}:{a['begin_offset']}:{a['end_offset']}".encode())
        for a in anns
    )


def _annotation(text: str, entry_id, qtype, meta, begin: int, end: int) -> dict:
    return {
        "text": text[begin:end],
        "type": qtype,
        "dict_entry_id": entry_id,
        "meta": meta,
        "begin_offset": begin,
        "end_offset": end,
    }


def layer_table(docs: list[str], cd) -> dict:
    """Time each layer of `match_text` over ``docs`` by calling the
    package's functions in `match_text`'s order, and check the composed
    output equals `match_text` for every document.

    Returns per-doc layer times (µs), counts, the Arrow conversion cost
    and ``mismatches`` (documents whose composed output differs)."""
    clock = time.perf_counter
    t_tok = t_probe = t_verify = t_emit = 0.0
    n_tokens = n_cands = n_hits = n_anns = n_nonascii = mismatches = 0
    outputs = []
    t_all0 = clock()
    for text in docs:
        out: list[dict] = []
        n_nonascii += not text.isascii()
        if text.strip():
            for prog in cd.fields:
                t0 = clock()
                tokens = analyze(text, prog.conf)
                t1 = clock()
                t_tok += t1 - t0
                if not tokens:
                    continue
                n_tokens += len(tokens)
                probed = prog.probe_exact(tokens)
                t2 = clock()
                t_probe += t2 - t1
                for (entry_id, qtype, meta), p0, p1 in probed:
                    out.append(_annotation(text, entry_id, qtype, meta,
                                           tokens[p0].begin, tokens[p1].end))
                t3 = clock()
                t_emit += t3 - t2
                # verify stage: its gate, the prefilter and find_matches
                # (emission inside it is counted as emit)
                if prog.general or prog.always:
                    index = build_token_index(tokens)
                    for qi in prog.candidates(index.keys()):
                        q = prog.queries[qi]
                        spans = find_matches(tokens, q, index)
                        t4 = clock()
                        n_cands += 1
                        n_hits += bool(spans)
                        meta = q.meta
                        entry_id = meta.get("query-id", q.query_id) if meta else q.query_id
                        qtype = q.type if q.type is not None else cd.type_name
                        for begin, end in spans:
                            out.append(_annotation(text, entry_id, qtype, meta, begin, end))
                        t5 = clock()
                        t_emit += t5 - t4
                        t_verify -= t5 - t4
                t_verify += clock() - t3
            if cd.merge_annotations:
                out = merge_same_type_annotations(out)
        outputs.append(out)
    t_all = clock() - t_all0
    for text, out in zip(docs, outputs):
        if out != match_text(text, cd):
            mismatches += 1
        n_anns += len(out)
    t0 = clock()
    pa.array(outputs, type=_arrow_type())
    t_arrow = clock() - t0
    n = len(docs)
    return {
        "tokenize_us": 1e6 * t_tok / n,
        "probe_us": 1e6 * t_probe / n,
        "verify_us": 1e6 * t_verify / n,
        "emit_us": 1e6 * t_emit / n,
        "arrow_us": 1e6 * t_arrow / n,
        "tokens_per_doc": n_tokens / n,
        "candidates_per_doc": n_cands / n,
        "verify_hit_ratio": n_hits / n_cands if n_cands else 0.0,
        "annotations_per_doc": n_anns / n,
        "non_ascii_share": n_nonascii / n,
        "inprocess_docs_per_s": n / (t_all + t_arrow),
        "mismatches": mismatches,
    }


def _arrow_type():
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(ANNOTATIONS_TYPE)
