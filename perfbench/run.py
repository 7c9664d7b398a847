#!/usr/bin/env python3
"""Runs one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload ingest|maintain|serve \
        --seed N --seconds S --trace 0|1

Builds the library and the benchmark from source with sbt when the
sources changed since the last build (classes land in .bench_build/),
generates the seeded input tables, runs the JVM and prints its report
as the last line of stdout: one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics, or with
`--trace 1` the per-layer ones).

Exits non-zero without a report when the library sources are missing,
the build fails, the run crashes or times out, or a correctness gate
fails (the report is still printed then).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# Table scale per workload (documents: 50 000 x sf, line items ~ 600 000 x sf).
SCALE = {"ingest": None, "maintain": 0.0048, "serve": 0.01}
# serve compares row hashes recorded on one fixed table set, so its
# tables do not depend on the run seed (the seed orders the passes).
SERVE_TABLE_SEED = 42
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group and
    waits for it on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out, err


def sources_digest():
    h = hashlib.sha256()
    roots = [LIBRARY, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the classes match the sources; returns
    the runtime classpath."""
    stamp_file = os.path.join(OUT, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building with sbt", file=sys.stderr)
    code, out, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Compile/fullClasspath"], BENCH, BUILD_TIMEOUT_S,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("sbt build failed")
    classpath = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(LIBRARY, "graft", "SparkEntry.scala")):
        die("library sources not found under src/main/scala; run from the repository root")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            die(f"{tool} not found on PATH")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set (the build takes the Spark jars from it)")

    classpath = build()
    work = os.path.join(OUT, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "tables")
    os.makedirs(os.path.join(work, "tmp"))
    sys.path.insert(0, BENCH)
    import gen_tables
    if a.workload == "serve":
        gen_tables.main(data, SERVE_TABLE_SEED, SCALE["serve"])
    elif a.workload == "maintain":
        gen_tables.main(data, a.seed, SCALE["maintain"], {"documents"})
    else:
        os.makedirs(data)

    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work,
            "--expected", os.path.join(BENCH, "serve_expected.txt")])
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log_path = os.path.join(OUT, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        code, out, _ = run(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                           stderr=log, text=True)
    with open(log_path) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    spans = os.path.join(work, "trace")
    if os.path.isdir(spans):
        dest = os.path.join(OUT, "trace")
        os.makedirs(dest, exist_ok=True)
        for f in os.listdir(spans):
            shutil.move(os.path.join(spans, f), os.path.join(dest, f))
            print(f"perfbench: spans in {os.path.relpath(os.path.join(dest, f), ROOT)}",
                  file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        die(f"run failed (exit {code}); log in {os.path.relpath(log_path, ROOT)}")
    report = json.loads(lines[-1])
    for name, m in report["metrics"].items():
        print(f"{name:40s} {m['value']:>16.4f} {m['unit']}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed}: correct={report['correct']} "
          f"attempted={report['attempted']} failed={report['failed']} "
          f"in {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(report))
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()
