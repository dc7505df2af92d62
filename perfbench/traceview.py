"""Self times from a traced run's spans.

A span's self time is its duration minus the part of it that its child
spans cover. Layers: GraftSession (session setup), SparkEntry (query
construction outside Spark jobs), catalyst (planning), exec (the driver side
of the noop-sink write outside Spark jobs), exec.job (job time outside its
stages: scheduling and stage barriers) and exec.stage (stage time: tasks
running or waiting for a slot).
"""
from collections import defaultdict


def _covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Returns {qid: {layer: self seconds}} (sessions under their own qid)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["layer"] == "query":
            continue
        dur = s["end_ms"] - s["start_ms"]
        own = dur - _covered(s["start_ms"], s["end_ms"], children.get(s["id"], []))
        out[s["qid"]][s["layer"]] += max(own, 0.0) / 1000.0
    return out
