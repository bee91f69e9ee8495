"""Metric definitions: end-to-end metrics from an untraced driver result,
per-layer metrics from a traced one. Every metric is (value, unit).

The gated end-to-end metrics (GATED) are defined on every workload; the
workload-specific ones (throughput, write/read split, failure fraction)
are printed in the report table beside them.
"""
import statistics

# Wall-clock timings move with the CPU time the host steals from this VM.
# Over ten seeds of one engine version the warm wall median spread up to
# 32 % (quartile distance over median) when a few runs met 8-16 % steal.
# Process CPU seconds moved less over the same runs (at most 17 %), so
# set-up and the cold and warm costs are gated in CPU seconds; the wall
# timings are printed and recorded beside them.
GATED = ("setup_s", "cold_cpu_s", "warm_cpu_s", "peak_rss_mb")
TAIL_PCTS = (99, 95, 90, 75, 50)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(seconds, percentile): the highest of TAIL_PCTS with at least ten
    samples beyond it, or the maximum when there are fewer than 20."""
    xs = sorted(xs)
    for p in TAIL_PCTS:
        if len(xs) * (100 - p) / 100 >= 10:
            return statistics.quantiles(xs, n=100, method="inclusive")[p - 1], p
    return (xs[-1], 100) if xs else (0.0, 100)


def end_to_end(workload, r):
    """All end-to-end metrics of one untraced result, with sample counts."""
    m = {"setup_s": (r["setup_cpu_s"], "s"), "setup_wall_s": (r["setup_wall_s"], "s"),
         "peak_rss_mb": (r["peak_rss_mb"], "MB")}
    n = {}
    if workload == "permit_chain":
        ops = r["ops"]
        cold, warm = ops[:1], ops[1:]
        m["permits_per_s"] = (med([o["permits"] / o["wall_s"] for o in warm]), "1/s")
        n["permits_per_s"] = len(warm)
    elif workload == "analyst_session":
        # the passes between the cold one and the first warm one rebuild
        # memos (see AnalystSession) and are neither cold nor warm
        cold, warm = r["passes"][:1], r["passes"][r["first_warm"]:]
    else:
        ops = r["ops"]
        writes = [o["wall_s"] for o in ops if o["kind"] in ("append", "delete", "compact")]
        reads = [o["wall_s"] for o in ops if o["kind"] in ("probe", "census")]
        # a cycle without its compaction runs the same ops every time, so
        # the median does not depend on how many cycles fit in the run;
        # compactions (every other cycle) show in write_tail_s instead
        cycles = {}
        for o in ops:
            if o["kind"] in ("append", "delete", "probe", "census"):
                c = cycles.setdefault(o["cycle"], {"wall_s": 0.0, "cpu_s": 0.0})
                c["wall_s"] += o["wall_s"]
                c["cpu_s"] += o["cpu_s"]
        cold = [o for o in ops if o["kind"] == "persist"]
        warm = list(cycles.values())
        t, p = tail(writes)
        m["write_p50_s"] = (med(writes), "s")
        m["write_tail_s"] = (t, "s")
        m["read_p50_s"] = (med(reads), "s")
        n.update(write_p50_s=len(writes), read_p50_s=len(reads),
                 write_tail_s=f"p{p} of {len(writes)}")
    m["cold_s"] = (sum(o["wall_s"] for o in cold), "s")
    m["cold_cpu_s"] = (sum(o["cpu_s"] for o in cold), "s")
    m["warm_p50_s"] = (med([o["wall_s"] for o in warm]), "s")
    m["warm_cpu_s"] = (med([o["cpu_s"] for o in warm]), "s")
    n.update(warm_p50_s=len(warm), warm_cpu_s=len(warm))
    m["fail_frac"] = (r["failed"] / max(1, r["attempted"]), "ratio")
    m["_n"] = n
    return m


def report_end_to_end(workload, e2e, failed, attempted):
    """Human-readable end-to-end table (every metric, unit, sample count)."""
    n = e2e["_n"]
    lines = [f"end-to-end: {workload} (gated: {', '.join(GATED)})"]
    for k, v in e2e.items():
        if k != "_n":
            lines.append(f"  {k:<14} {v[0]:>12.4f} {v[1]:<6} n={n.get(k, 1)}")
    lines.append(f"  checked ops: {attempted} attempted, {failed} failed")
    return "\n".join(lines)


def report_layers(shown):
    lines = ["per-layer:"]
    for k, (v, u) in shown.items():
        lines.append(f"  {k:<34} {v:>12.4f} {u}")
    return "\n".join(lines)


FAMILIES = ("lsh", "ann")
PER_LAYER = (
    [("sources.write_batched_s", "s"), ("sources.xlsx_write_s", "s"), ("sources.zip_s", "s"),
     ("sources.scan_amplification", "ratio"), ("sources.result_mb", "MB"),
     ("sources.commit_files_per_write", "count"),
     ("pipeline.construct_s", "s"), ("pipeline.plan_s", "s"), ("pipeline.jobs", "count"),
     ("pipeline.cpu_s", "s"), ("pipeline.shuffle_mb", "MB"),
     ("queries.construct_cold_s", "s"), ("queries.construct_jobs_cold", "count"),
     ("queries.construct_warm_s", "s"), ("queries.construct_jobs_warm", "count"),
     ("queries.plan_s", "s"), ("queries.exec_s", "s"), ("queries.exec_jobs", "count"),
     ("queries.shuffle_mb", "MB"),
     ("ext.memo_builds_cold", "count"), ("ext.memo_builds_warm", "count"),
     ("ext.memo_disk_mb", "MB")]
    + [(f"{m}.{f}", u) for m, u in (
        ("ext.index.persist_s", "s"), ("ext.index.append_s", "s"), ("ext.index.delete_s", "s"),
        ("ext.index.compact_s", "s"), ("ext.index.probe_s", "s"),
        ("ext.maintenance.census_s", "s"), ("ext.index.jobs_per_write", "count"),
        ("ext.index.jobs_per_read", "count"), ("ext.index.files_per_bucket", "count"),
        ("ext.index.tomb_frac", "ratio")) for f in FAMILIES]
    + [("streaming.floor_s", "s"), ("streaming.over_floor_s", "s"),
       ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
       ("trace.overhead_frac", "ratio"), ("trace.unattributed_frac", "ratio")])


def _under(spans, root_ids, name):
    """Spans called `name` inside each root, as {root id: [spans]}."""
    parent = {s["id"]: s["parent"] for s in spans}
    out = {r: [] for r in root_ids}
    for s in spans:
        if s["name"] == name:
            p = s["id"]
            while parent[p] >= 0:
                p = parent[p]
            if p in out:
                out[p].append(s)
    return out


def _per_root(spans, roots, name, f):
    """f(spans called `name`) for each root in `roots`, in root order."""
    under = _under(spans, [r["id"] for r in roots], name)
    return [f(under[r["id"]]) for r in roots]


def _dur(ss):
    return sum(s["dur_s"] for s in ss)


def _ctr(key):
    return lambda ss: sum(s["counters"][key] for s in ss)


def per_layer(workload, traced, spans, baseline_warm_p50):
    """Every per-layer metric from one traced result. A layer the workload
    bypasses has no spans and reads 0."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    roots = sorted((s for s in spans if s["parent"] < 0), key=lambda s: s["start_s"])
    if workload == "permit_chain":
        cold, warm = roots[:1], roots[1:]
        for k in ("write_batched", "xlsx_write", "zip"):
            m[f"sources.{k}_s"] = med(_per_root(spans, warm, f"sources.{k}", _dur))
        inputs = [traced["ops"][r["attrs"]["op"]]["input_bytes"] for r in warm]
        m["sources.scan_amplification"] = med(
            [r["counters"]["input_mb"] * 1e6 / b for r, b in zip(warm, inputs)])
        m["sources.result_mb"] = med([r["counters"]["result_mb"] for r in warm])
        m["pipeline.construct_s"] = _per_root(spans, cold, "pipeline.construct", _dur)[0]
        m["pipeline.plan_s"] = _per_root(spans, cold, "pipeline.plan", _dur)[0]
        m["pipeline.jobs"] = med([r["counters"]["jobs"] for r in warm])
        m["pipeline.cpu_s"] = med([r["counters"]["cpu_s"] for r in warm])
        m["pipeline.shuffle_mb"] = med([r["counters"]["shuffle_mb"] for r in warm])
    elif workload == "analyst_session":
        cold, warm = roots[:1], roots[traced["first_warm"]:]
        m["queries.construct_cold_s"] = _per_root(spans, cold, "queries.construct", _dur)[0]
        m["queries.construct_jobs_cold"] = _per_root(spans, cold, "queries.construct", _ctr("jobs"))[0]
        m["queries.plan_s"] = _per_root(spans, cold, "queries.plan", _dur)[0]
        m["queries.construct_warm_s"] = med(_per_root(spans, warm, "queries.construct", _dur))
        m["queries.construct_jobs_warm"] = med(
            _per_root(spans, warm, "queries.construct", _ctr("jobs")))
        m["queries.exec_s"] = med(_per_root(spans, warm, "queries.exec", _dur))
        m["queries.exec_jobs"] = med(_per_root(spans, warm, "queries.exec", _ctr("jobs")))
        m["queries.shuffle_mb"] = med(_per_root(spans, warm, "queries.exec", _ctr("shuffle_mb")))
        passes = traced["passes"]
        m["ext.memo_builds_cold"] = passes[0]["memo_builds"]
        # every pass after the cold one, so pass 1's rebuilds show here
        m["ext.memo_builds_warm"] = max(p["memo_builds"] for p in passes[1:])
        m["ext.memo_disk_mb"] = traced["memo_disk_mb"]
        floor = traced["harness_floor_s"].get("stateful", 0.0)
        m["streaming.floor_s"] = floor
        m["streaming.over_floor_s"] = med(
            [q["wall_s"] - floor for p in passes[traced["first_warm"]:] for q in p["queries"]
             if q["query"].startswith("stream_")])
    else:
        ops = [o for o in traced["ops"] if o["kind"] != "state"]
        for f in FAMILIES:
            def sp(name):
                return [s for s in roots if s["name"] == name and s["attrs"]["family"] == f]
            for k in ("persist", "append", "delete", "compact", "probe"):
                m[f"ext.index.{k}_s.{f}"] = med([s["dur_s"] for s in sp(f"ext.index.{k}")])
            m[f"ext.maintenance.census_s.{f}"] = med(
                [s["dur_s"] for s in sp("ext.maintenance.census")])
            writes = sp("ext.index.append") + sp("ext.index.delete") + sp("ext.index.compact")
            reads = sp("ext.index.probe") + sp("ext.maintenance.census")
            m[f"ext.index.jobs_per_write.{f}"] = statistics.mean(
                s["counters"]["jobs"] for s in writes)
            m[f"ext.index.jobs_per_read.{f}"] = statistics.mean(
                s["counters"]["jobs"] for s in reads)
            states = [o for o in traced["ops"] if o["kind"] == "state" and o["family"] == f]
            m[f"ext.index.files_per_bucket.{f}"] = med([o["files_per_bucket"] for o in states])
            m[f"ext.index.tomb_frac.{f}"] = med(
                [o["tomb_entries"] / o["index_docs"] for o in states])
        m["sources.commit_files_per_write"] = statistics.mean(
            o["files_delta"] for o in ops if o["kind"] in ("append", "delete"))
    m["jvm.jit_s"] = traced["jvm"]["jit_s"]
    m["jvm.gc_s"] = traced["jvm"]["gc_s"]
    m["trace.overhead_frac"] = end_to_end(workload, traced)["warm_p50_s"][0] / baseline_warm_p50 - 1
    layer_self = sum(s["self_s"] for s in spans if "." in s["name"])
    op_wall = _op_wall(workload, traced)
    m["trace.unattributed_frac"] = (op_wall - layer_self) / op_wall
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}


def _op_wall(workload, r):
    if workload == "analyst_session":
        return sum(p["wall_s"] for p in r["passes"])
    return sum(o["wall_s"] for o in r["ops"] if o.get("kind") != "state")
