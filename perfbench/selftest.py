#!/usr/bin/env python3
"""Self-test of the benchmark at a small scale (an sf0.001-sized input).

    python3 perfbench/selftest.py

Checks, for every workload declared in BENCHMARK.json:
  * the untraced run prints every end-to-end metric (each above 0) and the
    traced run every per-layer metric, each with its declared unit, and
    both modes complete with every output matching the oracle;
  * a corrupted expectation of a timed operation is counted as a failure
    (correct false, failed > 0), not as a fast operation.
Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 5
SCALE = "0.001"
# the timed output whose expectation is corrupted: a registry row of the
# batch pass, a probe of the first timed standing pass
VICTIM = {"kg_etl": "j6_fuzzy_name_join", "standing_state": "hb_probe/2"}


def run(workload, trace, expect=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE]
    if expect:
        cmd += ["--expect", expect]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []

    def expect_metrics(res, declared, what):
        got = res["metrics"]
        for m in declared:
            if m["name"] not in got:
                problems.append(f"{what}: missing {m['name']}")
            elif got[m["name"]].get("unit") != m["unit"]:
                problems.append(f"{what}: {m['name']} unit "
                                f"{got[m['name']].get('unit')} != {m['unit']}")
        extra = set(got) - {m["name"] for m in declared}
        if extra:
            problems.append(f"{what}: undeclared metrics {sorted(extra)}")

    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            what = f"{w} trace={trace}"
            print(what, json.dumps(res)[:300], flush=True)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{what}: outputs did not all match the oracle")
            expect_metrics(res, bench[key], what)
            if key == "end_to_end":
                problems += [f"{what}: {m} reads {v['value']}"
                             for m, v in res["metrics"].items() if not v["value"] > 0]
        # corrupt one expected digest: the run must count a failure
        exp_dir = os.path.join(HERE, ".work", "expect")
        src = next(os.path.join(exp_dir, f) for f in sorted(os.listdir(exp_dir))
                   if f.startswith(f"sf{SCALE}x1-seed{SEED}-") and f.endswith(f"-{w}.json"))
        exp = json.load(open(src))
        victim = VICTIM[w]
        exp[victim] = exp[victim].replace("sum:", "sum:1")
        bad = os.path.join(HERE, ".work", f"corrupt-{w}.json")
        json.dump(exp, open(bad, "w"))
        res = run(w, 0, expect=bad)
        print(f"{w} corrupted {victim}:", json.dumps(res)[:200], flush=True)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: a corrupted expectation for {victim} was not counted")

    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
