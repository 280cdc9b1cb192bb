#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Each run gets its own work
directory (java.io.tmpdir, spark.local.dir, outputs, caches), deleted
afterwards. The result line is also kept under .bench_out/results/ for
perfbench/compare.py, and a traced run writes its spans to
.bench_out/traces/.

Extra options: --sf <dir> (the sf0.1 tables described in TESTDATA.md;
default $PERFBENCH_SF_DIR or ~/testdata/sf0.1) and --sabotage answer|fingerprint, which corrupts
one stub answer or one stored fingerprint so that the output check must
fail (a self-test of the checks).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
DEFAULT_SF = os.path.expanduser("~/testdata/sf0.1")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds with sbt unless the last build used the same sources; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("run.py: no engine sources under ./src/main/scala; run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                               "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    # the same Spark jars as the repository's own build
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if jars:
        env["PERFBENCH_SPARK_JARS"] = jars.group(1)
    elif "SPARK_HOME" not in env:
        sys.exit("run.py: the root build.sbt names no unmanagedBase and SPARK_HOME is unset")
    log("building engine and harness with sbt")
    t = time.time()
    p = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                  cwd=BENCH, env=env, timeout=BUILD_TIMEOUT_S, capture=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"run.py: build failed with exit code {p.returncode}")
    cp = [line for line in p.stdout.splitlines() if line.startswith("/") and ".jar" in line]
    if not cp:
        sys.exit("run.py: build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return cp[-1].strip()


class Result:
    def __init__(self, returncode, stdout):
        self.returncode, self.stdout = returncode, stdout


def run_group(cmd, cwd, env, timeout, capture=False, stdout=None):
    """Runs cmd in its own process group; on timeout the whole group is
    killed, and in every case waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, text=True,
                         stdout=subprocess.PIPE if capture else stdout,
                         stderr=subprocess.STDOUT if (capture or stdout) else None)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return Result(-1, out or "")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return Result(p.returncode, out or "")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=os.environ.get("PERFBENCH_SF_DIR", DEFAULT_SF))
    ap.add_argument("--sabotage", choices=["answer", "fingerprint"])
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"run.py: unknown workload {a.workload}")
    cp = build()
    if not os.path.isdir(a.sf):
        sys.exit(f"run.py: no sf0.1 tables at {a.sf}")

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", a.sf, "--work", work, "--out", result_file,
            "--trace-out", trace_file, "--bench-dir", BENCH, "--cpus", str(cpus)])
    if a.sabotage:
        cmd += ["--sabotage", a.sabotage]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    log_file = os.path.join(work, "jvm.log")
    try:
        with open(log_file, "w") as lf:
            p = run_group(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT_S, stdout=lf)
        with open(log_file, errors="replace") as lf:
            lines = lf.read().splitlines()
        for line in lines:
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if p.returncode != 0 or not os.path.exists(result_file):
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            sys.exit(f"run.py: harness exited with {p.returncode}")
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer" if a.trace else "end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    if not a.trace and missing:
        sys.exit(f"run.py: harness reported no {missing}")
    # a per-layer metric that does not apply to this workload reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in declared}
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(line, workload=a.workload, seed=a.seed, trace=a.trace,
                       iterations=res.get("iterations"),
                       all_metrics=got), f, indent=1)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
