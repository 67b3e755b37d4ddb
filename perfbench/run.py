#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <kg_etl|graph_x10|standing_state>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark
program from source on first use (sbt, into perfbench/target), generates
the seeded inputs (gen.py), evaluates the expected output digests with the
DuckDB oracle (oracle.py, untimed, once per seed), then runs the workload
as a closed loop in one JVM and prints the result as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from the traced run. Everything the run writes stays under
perfbench/.work; a per-run artifact with the box identity, every sample
and (traced) every span lands in perfbench/.work/artifacts.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# input scale per workload: (scale factor, key-stride replicas)
SCALES = {
    "kg_etl": (0.01, 1),
    "graph_x10": (0.01, 10),
    "standing_state": (0.01, 1),
}
DEADLINE_S = 170
HEAP = "3g"
# the export rows k1, k3, k4 and k11 write under /tmp, at paths named
# after the input directory; these are removed after every run
ENGINE_TMP = ["graft_k1_", "graft_csv_rt_", "graft_json_rt_",
              "graft_merge_base_", "graft_merge_out_"]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "gen.py"),
                 os.path.join(HERE, "oracle.py")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            with open(p, "rb") as f:
                h.update(p.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state (the generator and
    the oracle count as sources); dump the oracle SQL."""
    bdir = os.path.join(WORK, "build")
    stamp = source_stamp()
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sql_file = os.path.join(bdir, "oracle_sql.json")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(cp_file) and os.path.exists(sql_file)):
        return open(cp_file).read().strip(), sql_file
    # inputs and expectations of an older source state are stale
    for d in ("inputs", "expect"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark (sbt compile)")
    t0 = time.time()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=out,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"build failed (see {bdir}/sbt.log)")
    cp = open(cp_file).read().strip()
    rc = subprocess.call(java_cmd(cp, ["--mode", "oracle-sql", "--out", sql_file]),
                         cwd=bdir, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit("oracle SQL dump failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp, sql_file


def java_cmd(cp, args, tmp=None):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def inputs(workload, seed, scale=None):
    import gen
    sf, reps = SCALES[workload]
    sf = scale or sf
    tag = f"sf{sf}x{reps}-seed{seed}"
    d = os.path.join(WORK, "inputs", tag)
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, sf, reps)
        open(os.path.join(d, "done"), "w").close()
    return d, tag


def expectations(workload, input_dir, tag, sql_file, seed):
    import oracle
    f = os.path.join(WORK, "expect", f"{tag}-{workload}.json")
    if not os.path.exists(f):
        sql = json.load(open(sql_file))
        t0 = time.time()
        exp = oracle.expected(input_dir, sql[workload])
        if workload == "standing_state":
            exp.update(oracle.standing_expected(
                input_dir, sql["standing_templates"], sql["standing_plan"], seed))
        log(f"oracle digests for {len(exp)} rows in {time.time() - t0:.1f}s")
        os.makedirs(os.path.dirname(f), exist_ok=True)
        with open(f + ".tmp", "w") as out:
            json.dump(exp, out, indent=1)
        os.replace(f + ".tmp", f)
    return f


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect", help="use this digest file instead of the oracle's")
    ap.add_argument("--scale", type=float,
                    help="override the workload's scale factor (self-test)")
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources not found next to the benchmark; nothing to run")
        return 2
    cp, sql_file = build()
    input_dir, tag = inputs(a.workload, a.seed, a.scale)
    expect = a.expect or expectations(a.workload, input_dir, tag, sql_file, a.seed)

    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    artifact = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = java_cmd(cp, [
        "--workload", a.workload, "--input", input_dir, "--expect", expect,
        "--work", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--seed", str(a.seed), "--artifact", artifact],
        tmp=os.path.join(run_dir, "tmp"))
    budget = max(10.0, DEADLINE_S - (time.time() - start))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {budget:.0f}s; killed")
        return 3
    finally:
        for p in ENGINE_TMP:
            shutil.rmtree(os.path.join("/tmp", p + tag), ignore_errors=True)
    if proc.returncode != 0:
        log(f"benchmark JVM exited with {proc.returncode}")
        return 4
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1])
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
