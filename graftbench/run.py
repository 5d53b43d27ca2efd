#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

Usage (from the repository root):
  python3 graftbench/run.py --workload {curate,serve}
      --seed N --seconds S --trace {0,1}

Builds the harness and the library from source on first use (sbt, offline),
generates the workload's inputs from the seed (gen.py), runs one JVM with
Spark at local[nproc] and one client thread, then runs the DuckDB oracle
(scripts/check.py) on the analytics answers. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}.
Everything it writes stays under graftbench/ (target/ for the build,
.runs/ for per-run records); see README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("curate", "serve")
DEADLINE_S = 170          # a run must end within 180 s
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def sources_stamp():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env, deadline):
    """Compile harness + library once per source state; returns the runtime
    classpath."""
    cp_file = os.path.join(HERE, "target", "graftbench.classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            got, cp = f.read().split("\n", 1)
        if got == stamp:
            return cp.strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(30, deadline - time.time()))
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, work, log, env, deadline):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
    return proc.returncode


def oracle(data, answers, keys, deadline):
    """DuckDB oracle compare of the analytics answers: (attempted, failed)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"), data,
         answers] + keys, cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True,
        timeout=max(10, deadline - time.time()))
    passed = {l.split()[1] for l in proc.stdout.splitlines()
              if l.startswith("PASS ")}
    bad = [k for k in keys if k not in passed]
    for line in proc.stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"graftbench: oracle {line}", file=sys.stderr)
    return len(keys), len(bad)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    for need in ("src/main/scala/graft/SparkEntry.scala", "scripts/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a full checkout of the "
                 "repository")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    cp = build(env, deadline)
    # the first run in a fresh checkout builds; its window still fits
    deadline = max(deadline, time.time() + 150)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    runs = os.path.join(HERE, ".runs")
    work = os.path.join(runs, tag)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    import gen
    t = time.time()
    gen.generate(a.seed, a.workload, data)
    phases = {"generate_s": time.time() - t}
    t = time.time()

    result = os.path.join(work, "result.json")
    code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--data", data, "--work", work, "--out", result],
                   work, os.path.join(work, "jvm.log"), env, deadline)
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("run timed out" if code is None else f"JVM exited with {code}")
    phases["jvm_s"] = time.time() - t
    t = time.time()
    with open(result) as f:
        r = json.load(f)
    attempted, failed = r["attempted"], r["failed"]
    if r["oracle_keys"]:
        n, bad = oracle(data, os.path.join(work, "verify"), r["oracle_keys"],
                        deadline)
        attempted += n
        failed += bad
    phases["oracle_s"] = time.time() - t
    host = dict(r["host"], oracle_keys=r["oracle_keys"], run_phases=phases)
    with open(os.path.join(work, "host.json"), "w") as f:
        json.dump(host, f, indent=1, sort_keys=True)
    print("graftbench host: " + json.dumps(host, sort_keys=True),
          file=sys.stderr)
    # keep the run's records, drop its bulk
    for bulky in ("data", "tmp", "spark-local", "results", "tx", "verify",
                  "warehouse"):
        shutil.rmtree(os.path.join(work, bulky), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": r["metrics"]}))


if __name__ == "__main__":
    main()
