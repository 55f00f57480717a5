#!/usr/bin/env python3
"""Citibike load + query-mix benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: citibike_load and query_mix (see
perfbench/METRICS.md). The first run in a checkout compiles the
program's sources and the benchmark's into .bench_build/ with the
Scala compiler that ships with Spark. Inputs are generated from the
seed; each run works in its own scratch directory under
.bench_build/work/ and removes it at the end. The last line of standard
output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("citibike_load", "query_mix")
# query_mix input size in documents
MIX_DOCS = 1000
DEADLINE_S = 170
# no hsperfdata files outside the checkout
JVM_FLAGS = ["-XX:-UsePerfData"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return jars


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def compile_once(name, srcs, classpath, build_dir, jars):
    """Compile `srcs` into build_dir/<name>-<hash of inputs>, reusing an
    earlier build of the same inputs."""
    h = hashlib.sha256()
    for p in srcs + classpath:
        h.update(p.encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(build_dir, f"{name}-{h.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{k}-2.*.jar"))[0]
                        for k in ("compiler", "library", "reflect"))
    cmd = ["java"] + JVM_FLAGS + ["-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join(classpath + [jars + "/*"])] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compiling {name} failed")
    for old in glob.glob(os.path.join(build_dir, f"{name}-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build(root):
    """Classpath entries for the benchmark: its classes, the program's
    classes, the Spark jars."""
    program = scala_sources(os.path.join(root, "src", "main", "scala"))
    if not program:
        fail(f"no program sources under {root}/src/main/scala; run from a checkout root")
    jars = spark_jars()
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    prog = compile_once("program", program, [], build_dir, jars)
    bench = compile_once("bench", scala_sources(os.path.join(HERE, "src", "main", "scala")),
                         [prog], build_dir, jars)
    return [bench, prog, jars + "/*"]


def run_jvm(classpath, main, argv, cwd, deadline):
    log_path = os.path.join(cwd, "jvm.log")
    # a fixed heap and young generation, so collections fall at about
    # the same points in every run
    cmd = (["java"] + JVM_FLAGS + ADD_OPENS +
           ["-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={os.path.join(cwd, 'tmp')}",
            "-cp", ":".join(classpath), main] + argv)
    os.makedirs(os.path.join(cwd, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if not l.startswith("\tat ")][-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{main} exited with {rc}")


def oracle_check(root, data, results, names):
    """Compare the query results in `results` with the DuckDB oracle
    through the program's own checker, `scripts/check.py`, narrowed to
    `names`. Returns one problem line per failure."""
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(names))
    r = subprocess.run([sys.executable, os.path.join(root, "scripts", "check.py"), data, results],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=env,
                       timeout=120)
    problems = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
    if r.returncode != 0 and not problems:
        problems = [f"scripts/check.py exited with {r.returncode}: {r.stdout[-500:]}"]
    return problems


def summarize(raw, out):
    """Human-readable lines for standard error."""
    ops = {}
    for it in raw["iterations"]:
        for name, s in it["ops"]:
            ops.setdefault(name, []).append(s)
    print(f"{raw['workload']}: {len(raw['iterations'])} timed iterations, "
          f"set-up rounds {['%.2f' % s for s in [raw['cold_setup_s']] + raw['setup_s']]}, "
          f"input {raw['input_bytes']} bytes", file=sys.stderr)
    print("  phases (s since JVM start): " +
          ", ".join(f"{k} {v:.1f}" for k, v in raw["phases"]), file=sys.stderr)
    print("  iterations (wall s / JVM cpu s / of it JIT s): " + ", ".join(
        "%.2f/%.2f/%.2f" % (it["wall_s"], it["cpu_s"], it["jit_s"]) for it in raw["iterations"]),
        file=sys.stderr)
    for name, xs in sorted(ops.items()):
        print(f"  op {name}: n={len(xs)} median {metrics.median(xs):.3f} s", file=sys.stderr)
    for p in raw["problems"]:
        print(f"  PROBLEM: {p}", file=sys.stderr)
    for k, v in out.items():
        print(f"  {k} = {v}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    classpath = build(root)
    # the first run in a checkout may spend its budget on the build
    deadline = max(deadline, time.monotonic() + 150)

    work_root = os.path.join(root, ".bench_build", "work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=work_root)
    try:
        argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(len(os.sched_getaffinity(0))),
                "--work", work, "--out", os.path.join(work, "raw.json")]
        if a.workload == "query_mix":
            import tables
            data = os.path.join(work, "mix")
            os.makedirs(data)
            tables.generate(a.seed, data, MIX_DOCS)
            argv += ["--data", data]
        run_jvm(classpath, "perfbench.Main", argv, work, deadline)
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)
        failed = raw["failed"]
        if a.workload == "query_mix":
            bad = oracle_check(root, data, os.path.join(work, "results"), raw["checked_queries"])
            raw["problems"] += bad
            failed += len(bad)
        values = metrics.per_layer(raw) if a.trace else metrics.end_to_end(raw)
        units = {n: u for n, u, _ in (metrics.PER_LAYER if a.trace else metrics.END_TO_END)}
        out = {n: {"value": v, "unit": units[n]} for n, v in values.items()}
        summarize(raw, {n: v for n, v in values.items() if v} if a.trace else values)
        correct = failed == 0 and not raw["problems"]
        print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
