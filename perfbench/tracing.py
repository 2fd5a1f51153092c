"""Traced-run tooling: per-layer figures from StreamingQueryProgress, the
span tree and each layer's self time, and the span file written at the end.

Span kinds: run > setup | ladder | query (harness spans
around calls into the program) > batch (a micro-batch, from the progress
timestamp and batchDuration) > job (a Spark job, from the SparkListener).
The load process adds rung spans, and post and broker_update spans that
carry the notification's sequence number. A span's self time is its duration minus the part of it that its
children cover.
"""
import json
from datetime import datetime

import numpy as np


def iso_ms(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _p50(xs):
    return float(np.percentile(xs, 50)) if xs else 0.0


def _offset(o):
    if isinstance(o, dict):
        return o.get("n", 0)
    if isinstance(o, (int, float)):
        return o
    if isinstance(o, str) and o.strip():
        return _offset(json.loads(o))
    return None


def backlog_rows(progress):
    """Rows waiting when each batch was planned, from its source offsets."""
    out = []
    for p in progress:
        src = (p.get("sources") or [{}])[0]
        s, e = _offset(src.get("startOffset")), _offset(src.get("endOffset"))
        if e is not None:
            out.append(e - (s or 0))
    return out


def backlog_grows(progress):
    """True when the later half of a rung's batches waited on clearly more
    rows than the earlier half (median over each half)."""
    rows = backlog_rows(progress)
    if len(rows) < 2:
        return False
    half = len(rows) // 2
    first, second = _p50(rows[:half]), _p50(rows[half:])
    return second > 1.5 * first and second - first > 50


def streaming_layers(progress):
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    trig = dur("triggerExecution")
    return {
        "sources.backlog_rows_max": max(backlog_rows(data) or [0]),
        "streaming.batches": len(data),
        "streaming.rows_per_batch_p50": _p50([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": _p50(trig),
        "streaming.trigger_ms_p99": float(np.percentile(trig, 99)) if trig else 0.0,
        "streaming.latest_offset_ms_p50": _p50(dur("latestOffset")),
        "streaming.query_planning_ms_p50": _p50(dur("queryPlanning")),
        "streaming.add_batch_ms_p50": _p50(dur("addBatch")),
        "streaming.wal_commit_ms_p50": _p50(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": _p50(dur("commitOffsets")),
        "state.rows_total_max": max([s.get("numRowsTotal", 0) for s in state] or [0]),
        "state.memory_bytes_max": max([s.get("memoryUsedBytes", 0) for s in state] or [0]),
        "state.commit_ms_p50": _p50([s.get("commitTimeMs", 0) for s in state]),
        "state.rows_removed": sum(s.get("numRowsRemoved", 0) for s in state),
    }


def load_spans(load, ladder):
    """Rung spans, then the ladder's POST and broker-update spans keyed by
    sequence number."""
    spans = [{"kind": "rung", "name": f"r{r['rate']}", "start_ms": r["start"] * 1000.0,
              "end_ms": r["end"] * 1000.0} for r in load["phases"]["ladder"]["rungs"]]
    spans += [{"kind": "post", "seq": n[2], "entity": n[3], "due_ms": n[5] * 1000.0,
              "start_ms": n[6] * 1000.0, "end_ms": n[7] * 1000.0, "status": n[8]}
             for n in ladder]
    first = {}
    for n in ladder:
        for t, v in sorted(load["updates"].get(n[3], [])):
            if v is not None and v <= n[4] and t >= n[6]:
                first[n[2]] = (t, v)
                break
    spans += [{"kind": "broker_update", "seq": seq, "start_ms": t * 1000.0,
               "end_ms": t * 1000.0, "value": v} for seq, (t, v) in first.items()]
    return spans


def _tree(spans, progress):
    nodes = [dict(s) for s in spans]
    nodes += [{"id": -(i + 1), "parent": None, "kind": "batch",
               "name": f"batch{p['batchId']}", "start_ms": iso_ms(p["timestamp"]),
               "end_ms": iso_ms(p["timestamp"]) + p.get("batchDuration", 0)}
              for i, p in enumerate(progress)]
    by_id = {n["id"]: n for n in nodes}
    for n in nodes:
        if n["kind"] in ("job", "batch") or n.get("parent") not in by_id:
            # nest by time in the smallest span that contains it
            hosts = [h for h in nodes if h is not n and h["kind"] != "job"
                     and h["start_ms"] <= n["start_ms"] and n["end_ms"] <= h["end_ms"]
                     and (h["kind"] != "batch" or n["kind"] == "job")]
            n["parent"] = min(hosts, key=lambda h: h["end_ms"] - h["start_ms"])["id"] \
                if hosts else None
    return nodes


def _covered(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans, progress):
    """Self seconds per layer: run (harness), phase (setup/ladder/query:
    driver-side work outside Spark jobs), batch (micro-batch
    time outside its jobs) and job."""
    nodes = _tree(spans, progress)
    children = {}
    for n in nodes:
        children.setdefault(n["parent"], []).append(n)
    layer = {"run": "run", "job": "job", "batch": "batch"}
    out = {"trace.self.run_s": 0.0, "trace.self.phase_s": 0.0,
           "trace.self.batch_s": 0.0, "trace.self.job_s": 0.0}
    for n in nodes:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(n["id"], [])]
        own = (n["end_ms"] - n["start_ms"] - _covered(kids)) / 1000.0
        out[f"trace.self.{layer.get(n['kind'], 'phase')}_s"] += max(0.0, own)
    return out


def write(path, jvm_spans, progress, load_spans_):
    """Writes the nested JVM and micro-batch spans, then the load spans."""
    with open(path, "w") as f:
        for s in _tree(jvm_spans, progress) + list(load_spans_):
            f.write(json.dumps(s) + "\n")
