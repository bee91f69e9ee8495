"""Self-test of the benchmark: each workload at a tiny size.

    python3 perfbench/selftest.py [workload ...]

For each workload it checks that
  - a planted wrong result (one output row dropped before the check)
    is caught: the run reports `correct: false` and fail_frac > 0;
  - an untraced run prints every end-to-end metric of BENCHMARK.json, and
    a traced run every per-layer metric, each with its declared unit, and
    both pass their output checks.
Exits non-zero on the first failed expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, *flags):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--tiny", *flags]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload} {flags}: no output\n{p.stderr[-2000:]}")
    return p.stdout, json.loads(lines[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main(workloads):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in workloads or [x["name"] for x in bench["workloads"]]:
        out, res = run(w, "--trace", "0", "--plant-drop-row")
        expect(res["correct"] is False and res["failed"] > 0,
               f"{w}: a dropped output row fails the check ({res['failed']}/{res['attempted']})")
        frac = [float(l.split()[1]) for l in out.splitlines() if l.strip().startswith("fail_frac")]
        expect(frac and frac[0] > 0, f"{w}: fail_frac > 0 is printed ({frac})")
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            if trace:
                out, res = run(w, "--trace", "1")
            else:
                out, res = run(w, "--trace", "0")
            expect(res["correct"] is True and res["failed"] == 0, f"{w}: trace {trace} run is correct")
            for m in bench[group]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"],
                       f"{w}: {group} metric {m['name']} printed in {m['unit']}")
            extra = set(res["metrics"]) - {m["name"] for m in bench[group]}
            expect(not extra, f"{w}: no {group} metric outside BENCHMARK.json {sorted(extra)}")


if __name__ == "__main__":
    main(sys.argv[1:])
