"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark programs from source (first run only), makes the
workload's inputs from the seed, runs the workload closed-loop with one
client thread in one JVM on local[nproc], checks the outputs, and prints
the metrics. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. A traced run reports
the per-layer metrics of a traced JVM plus the tracing overhead against
the untraced runs of the same engine and benchmark sources recorded here,
running one untraced JVM first when there are none.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

# Workload sizes. The seed never changes these, only the data.
PARAMS = {
    "permit_chain": {"sf": 0.1, "batches": 5},
    "analyst_session": {"sf": 0.01, "min_passes": 4},
    "index_lifecycle": {"sf": 0.1},
}
# Tiny sizes for the self-test: every code path, a fraction of the time.
TINY = {
    "permit_chain": {"sf": 0.01, "batches": 2},
    "analyst_session": {"sf": 0.001, "min_passes": 3},
    "index_lifecycle": {"sf": 0.01},
}
JVM_TIMEOUT_S = 150
RECORDS = os.path.join(ROOT, ".bench_build", "results.jsonl")


def prepare(workload, inputs_dir, seed, plant, tiny):
    """Generate the workload's inputs; return the JVM's inputs.json."""
    p = dict(TINY[workload] if tiny else PARAMS[workload], plant_drop_row=plant)
    if workload == "permit_chain":
        p.update(gen.permit_batches(inputs_dir, seed, p["sf"], p["batches"]))
    elif workload == "analyst_session":
        gen.tables(inputs_dir, seed, p["sf"], ["customer", "orders", "documents", "events"])
    else:
        gen.tables(inputs_dir, seed, p["sf"], ["documents", "embeddings"])
    p["fixtures"] = inputs_dir
    return p


def cpu_ticks():
    """(all, steal) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def run_jvm(classpath, java_opts, workload, run_dir, inputs, trace, seconds, seed, cpus):
    """One driver JVM; returns its result.json, or None if it failed. The
    result carries the share of CPU time the host stole while it ran."""
    for d in ("warehouse", "scratch", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    with open(os.path.join(run_dir, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    env = dict(os.environ,
               SPARK_GRAFT_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
               SPARK_GRAFT_SCRATCH_ROOT=os.path.join(run_dir, "scratch"),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "tmp"))
    cmd = (["java"] + java_opts + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
           "graft.perfbench.Main", workload, run_dir, str(trace), str(seconds), str(seed),
           str(cpus)])
    all0, steal0 = cpu_ticks()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    all1, steal1 = cpu_ticks()
    path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None
    with open(path) as f:
        r = json.load(f)
    r["cpu_steal_frac"] = (steal1 - steal0) / max(1, all1 - all0)
    return r


def check(workload, result, inputs, plant):
    """Mark each checked op of `result` with `ok`; return (attempted, failed)."""
    if workload == "permit_chain":
        return check_permit_chain(result, inputs, plant)
    if workload == "analyst_session":
        return check_analyst_session(result, inputs, plant)
    ops = [o for o in result["ops"] if o["kind"] != "state"]
    failed = sum(1 for c in result["checks"] if not c["ok"])
    return len(ops), failed


def check_permit_chain(result, inputs, plant):
    """The last op's archive against the DuckDB twin of the chain restricted
    to its batch. Every op runs the same memo-free code path on new data,
    so one warm op stands for the rest; the twin costs ~3 s a batch."""
    out_cols = ["permit_no", "pin", "issue_date", "amount", "applicant",
                "applicant_street_address", "suggested_pins", "matched_keywords"]
    ops = result["ops"]
    last = ops[-1]
    try:
        upload, review = oracle.read_zip_batch(last["zip"])
        upload = upload[out_cols].iloc[1 if plant else 0:]
        b = inputs["batches"][last["batch"]]
        con = oracle.connect(inputs["fixtures"], {"orders": [b["dir"] + "/orders.parquet"]})
        up_want, rev_want = (con.execute(result["oracle_sql"][q]).fetchdf()
                             for q in ("pipeline_upload", "pipeline_review"))
        last["ok"] = oracle.same(upload, up_want) and oracle.same(review, rev_want, as_text=True)
    except Exception as e:  # an unreadable artifact is a wrong output
        sys.stderr.write(f"check: op {last['op']}: {e}\n")
        last["ok"] = False
    return len(ops), int(not last["ok"])


def check_analyst_session(result, inputs, plant):
    con = oracle.connect(inputs["fixtures"])
    want = {}
    failed = 0
    attempted = 0
    for p in result["passes"]:
        for q in p["queries"]:
            attempted += 1
            if not p["checked"]:
                continue
            name = q["query"]
            if name not in want:
                want[name] = con.execute(result["oracle_sql"][name]).fetchdf()
            try:
                got = oracle.read_parquet_dir(f"{result['check_dir']}/pass_{p['pass']}/{name}")
                if plant and name == result["order"][0]:
                    got = got.iloc[1:]
                q["ok"] = oracle.same(got, want[name])
            except Exception as e:
                sys.stderr.write(f"check: {name}: {e}\n")
                q["ok"] = False
            failed += not q["ok"]
    return attempted, failed


def records():
    """Every earlier run's record in this checkout."""
    if not os.path.exists(RECORDS):
        return []
    with open(RECORDS) as f:
        return [json.loads(line) for line in f if line.strip()]


def bench_digest():
    """Digest of the benchmark's own sources: in a checkout that has run
    another version of the benchmark, that version's runs are no baseline."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(HERE, "**", "*.py"), recursive=True)
                    + glob.glob(os.path.join(HERE, "**", "*.scala"), recursive=True)):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, HERE).encode() + fh.read())
    return h.hexdigest()


def host_marker(seed, engine_digest):
    def jvms():
        n = 0
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    n += open(f"/proc/{d}/comm").read().strip() == "java"
                except OSError:
                    pass
        return n
    try:  # only this checkout's own repository, never an enclosing one
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True).stdout.split()
        head = out[1] if len(out) == 2 and os.path.samefile(out[0], ROOT) else ""
    except OSError:
        head = ""
    return {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0], "live_jvms": jvms(),
            "seed": seed, "git_head": head or None, "engine_src_sha256": engine_digest,
            "bench_src_sha256": bench_digest()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-drop-row", action="store_true",
                    help="self-test only: drop one output row before checking")
    ap.add_argument("--tiny", action="store_true", help="self-test only: tiny inputs")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources not found next to the benchmark")
    classpath, java_opts, engine_digest = build.build()
    host = host_marker(a.seed, engine_digest)
    cpus = os.cpu_count()
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    phases = {}

    def phase(name, t0):
        phases[name] = round(time.time() - t0, 3)

    try:
        t0 = time.time()
        inputs = prepare(a.workload, os.path.join(work, "in"), a.seed, a.plant_drop_row, a.tiny)
        phase("inputs_s", t0)
        # the traced run's overhead is measured against untraced runs of the
        # same engine and benchmark sources in this checkout, or against one
        # made now
        baseline = [] if not a.trace else [
            r["end_to_end"]["warm_p50_s"][0] for r in records()
            if r["workload"] == a.workload and r["trace"] == 0 and r["failed"] == 0
            and "end_to_end" in r and r.get("tiny") == a.tiny and not r.get("plant")
            and r["host"]["engine_src_sha256"] == engine_digest
            and r["host"].get("bench_src_sha256") == host["bench_src_sha256"]]
        modes = [1] if baseline else [0, 1] if a.trace else [0]
        results = {}
        for m in modes:
            t0 = time.time()
            r = run_jvm(classpath, java_opts, a.workload, os.path.join(work, f"run{m}"), inputs, m,
                        a.seconds, a.seed, cpus)
            phase(f"jvm{m}_s", t0)
            t0 = time.time()
            if r is not None:
                r["attempted"], r["failed"] = check(a.workload, r, inputs, a.plant_drop_row)
            phase(f"check{m}_s", t0)
            if r is not None:
                host[f"cpu_steal_frac_jvm{m}"] = round(r["cpu_steal_frac"], 4)
            results[m] = r
        ok = all(r is not None for r in results.values())
        attempted = sum(r["attempted"] for r in results.values() if r)
        failed = sum(r["failed"] for r in results.values() if r)
        if ok:
            main_result = results[0] if 0 in results else results[1]
            e2e = metrics.end_to_end(a.workload, main_result)
            if a.trace:
                if 0 in results:
                    baseline = [e2e["warm_p50_s"][0]]
                kept = os.path.join(ROOT, ".bench_build", "spans")
                os.makedirs(kept, exist_ok=True)
                spans_path = shutil.copy(os.path.join(work, "run1", "spans.jsonl"), os.path.join(
                    kept, f"{a.workload}-{a.seed}-{os.getpid()}.jsonl"))
                spans = report.with_self_times(report.load(spans_path))
                shown = metrics.per_layer(a.workload, results[1], spans,
                                          statistics.median(baseline))
                print(report.format_table(spans))
            else:
                shown = {k: v for k, v in e2e.items() if k in metrics.GATED}
            recorded = {k: v for k, v in e2e.items() if k != "_n"}
            print(metrics.report_end_to_end(a.workload, e2e, failed, attempted))
            if a.trace:
                print(metrics.report_layers(shown))
        else:
            shown, recorded = {}, {}
            attempted, failed = max(1, attempted), max(1, failed)
        print(json.dumps({"host": host, "phases": phases}))
        with open(RECORDS, "a") as f:
            f.write(json.dumps({"workload": a.workload, "trace": a.trace, "tiny": a.tiny,
                                "plant": a.plant_drop_row, "time": time.time(),
                                "host": host, "phases": phases, "end_to_end": recorded,
                                "failed": failed, "attempted": attempted}) + "\n")
        print(json.dumps({
            "correct": ok and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in shown.items()}}))
        sys.exit(0 if ok else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
