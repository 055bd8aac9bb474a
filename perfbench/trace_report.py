#!/usr/bin/env python3
"""Per-layer self time and counters from benchmark traces (stdlib only).

    python3 perfbench/trace_report.py RUN.trace.json            # one run
    python3 perfbench/trace_report.py BASE.trace.json NEW.trace.json  # diff

A trace is what `run.py --trace 1` writes to `.perfbench/traces/`. Each
span is named `<layer>.<what>` (the op's root span is named after the op
and counts as layer `op`); Spark jobs hang under the span whose job group
they ran in and count as layer `spark.jobs`. A span's self time is its
duration minus the part of it that its child spans and jobs cover.
Times are per traced op, so runs of different length compare directly.
"""
import json
import sys
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "sched_wait_ms", "task_run_ms", "gc_ms",
            "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
            "spill_bytes", "input_bytes", "input_records", "output_bytes")


def layer_of(span):
    if span["parent"] < 0:
        return "op"
    return span["name"].split(".")[0]


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of intervals."""
    total, cur_s, cur_e = 0, None, None
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


def summarize(trace):
    """{layer: {"self_ms": per-op ms, counter: per-op value}} and op count."""
    spans = {s["id"]: s for s in trace["spans"]}
    kids = defaultdict(list)
    for s in trace["spans"]:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["start_us"], s["end_us"]))
    for j in trace["jobs"]:
        kids[j["parent"]].append((j["start_us"], j["end_us"]))
    ops = {s["op"] for s in trace["spans"]}
    n = max(1, len(ops))
    out = defaultdict(lambda: defaultdict(float))
    for s in trace["spans"]:
        self_us = (s["end_us"] - s["start_us"]) - covered(
            s["start_us"], s["end_us"], kids[s["id"]])
        out[layer_of(s)]["self_ms"] += self_us / 1000.0 / n
    for j in trace["jobs"]:
        out["spark.jobs"]["self_ms"] += (j["end_us"] - j["start_us"]) / 1000.0 / n
    for c in trace["counters"]:
        lay = layer_of(spans[c["span"]])
        for k in COUNTERS:
            out[lay][k] += c.get(k, 0) / n
    return out, len(ops)


def load(path):
    with open(path) as f:
        return json.load(f)


def fmt(v):
    return f"{v:12.3f}" if abs(v) < 1e6 else f"{v:12.4g}"


def report(path):
    lay, n = summarize(load(path))
    total = sum(v["self_ms"] for v in lay.values())
    print(f"{path}: {n} traced ops, {total:.1f} ms self time per op")
    print(f"{'layer':14s} {'self_ms/op':>12s} {'share':>7s}  counters/op")
    for name in sorted(lay, key=lambda k: -lay[k]["self_ms"]):
        v = lay[name]
        cs = ", ".join(f"{k}={v[k]:.4g}" for k in COUNTERS if v.get(k))
        print(f"{name:14s} {fmt(v['self_ms'])} {v['self_ms'] / max(total, 1e-9):7.1%}  {cs}")


def diff(a_path, b_path):
    a, na = summarize(load(a_path))
    b, nb = summarize(load(b_path))
    print(f"base {a_path} ({na} ops) -> new {b_path} ({nb} ops), per traced op")
    print(f"{'layer':14s} {'metric':20s} {'base':>12s} {'new':>12s} {'delta':>12s} {'ratio':>7s}")
    for name in sorted(set(a) | set(b)):
        for k in ("self_ms",) + COUNTERS:
            x, y = a.get(name, {}).get(k, 0.0), b.get(name, {}).get(k, 0.0)
            if x == 0 and y == 0:
                continue
            ratio = f"{y / x:7.3f}" if x else "    new"
            print(f"{name:14s} {k:20s} {fmt(x)} {fmt(y)} {fmt(y - x)} {ratio}")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        report(sys.argv[1])
    elif len(sys.argv) == 3:
        diff(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
