"""Span trace of a traced run: parsing and per-layer totals and self times.

The harness writes one JSON object per span (``id``, ``parent``, ``kind``,
``name``, ``start``, ``end``; epoch milliseconds). Kinds are the layers the
benchmark attributes time to: ``run`` (the whole JVM), ``setup``,
``pass``, ``build`` (a DataFrame build call), ``action`` (a timed write),
``job`` (a Spark job, from listener events) and ``check`` (untimed output
dumps).

A span's self time is the wall time during which it is the innermost open
span. Children are first clipped to their parent's interval (listener
timestamps have millisecond resolution), so the self times of all spans
partition the root span exactly: their sum equals the traced wall time up
to floating-point rounding, which ``RESIDUAL_FRAC`` bounds.
"""
import json

RESIDUAL_FRAC = 1e-3


def read(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _clip(spans):
    by_id = {s["id"]: dict(s) for s in spans}
    depth = {}

    def resolve(s):
        if s["id"] in depth:
            return
        p = by_id.get(s["parent"])
        if p is None:
            depth[s["id"]] = 0
            return
        resolve(p)
        depth[s["id"]] = depth[p["id"]] + 1
        s["start"] = min(max(s["start"], p["start"]), p["end"])
        s["end"] = min(max(s["end"], s["start"]), p["end"])

    for s in by_id.values():
        resolve(s)
    return by_id, depth


def self_times(spans):
    """{span id: self ms} by a sweep over all span boundaries."""
    by_id, depth = _clip(spans)
    bounds = sorted({t for s in by_id.values() for t in (s["start"], s["end"])})
    starts = sorted(by_id.values(), key=lambda s: s["start"])
    self_ms = {i: 0.0 for i in by_id}
    active, k = [], 0
    for lo, hi in zip(bounds, bounds[1:]):
        while k < len(starts) and starts[k]["start"] <= lo:
            active.append(starts[k])
            k += 1
        active = [s for s in active if s["end"] > lo]
        if active:
            inner = max(active, key=lambda s: (depth[s["id"]], s["start"], s["id"]))
            self_ms[inner["id"]] += hi - lo
    return self_ms


def layer_table(spans):
    """Per kind: span count, inclusive total ms and self ms; plus wall."""
    by_id, _ = _clip(spans)
    selfs = self_times(spans)
    table = {}
    for i, s in by_id.items():
        row = table.setdefault(s["kind"], {"spans": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["spans"] += 1
        row["total_ms"] += s["end"] - s["start"]
        row["self_ms"] += selfs[i]
    roots = [s for s in by_id.values() if s["parent"] not in by_id]
    wall = sum(s["end"] - s["start"] for s in roots)
    residual = abs(sum(selfs.values()) - wall)
    return {"wall_ms": wall, "residual_ms": residual, "layers": table}
