"""Trace reporter: per-span self times from a traced run's spans.jsonl.

A span's self time is its duration minus the part of it its child spans
cover. Run as `python3 perfbench/report.py <spans.jsonl>` to print the
per-layer table of one traced run.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def with_self_times(spans):
    """Add `dur_s` and `self_s` to every span (children never overlap:
    one client thread opens them in sequence)."""
    child_time = defaultdict(float)
    for s in spans:
        s["dur_s"] = s["end_s"] - s["start_s"]
        if s["parent"] >= 0:
            child_time[s["parent"]] += s["dur_s"]
    for s in spans:
        s["self_s"] = s["dur_s"] - child_time[s["id"]]
    return spans


def table(spans):
    """Rows of (span name, count, self seconds total, self seconds p50,
    jobs total) sorted by self time."""
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)
    rows = []
    for name, ss in by.items():
        selfs = [s["self_s"] for s in ss]
        rows.append((name, len(ss), sum(selfs), statistics.median(selfs),
                     sum(s["counters"]["jobs"] for s in ss)))
    return sorted(rows, key=lambda r: -r[2])


def format_table(spans):
    lines = [f"{'span':<28} {'n':>4} {'self_s':>9} {'self_p50':>9} {'jobs':>6}"]
    for name, n, tot, p50, jobs in table(spans):
        lines.append(f"{name:<28} {n:>4} {tot:>9.3f} {p50:>9.4f} {int(jobs):>6}")
    return "\n".join(lines)


if __name__ == "__main__":
    print(format_table(with_self_times(load(sys.argv[1]))))
