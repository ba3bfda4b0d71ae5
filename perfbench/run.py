#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 10 --trace 0

Builds the repository and the harness from source on first use (sbt,
offline), then runs the harness JVM. The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}; the line
before it is the run's context (seed, cores, calibration, loadavg and
workload-specific numbers). The full record, with per-layer numbers and
spans of a traced run, goes to perfbench/out/. See perfbench/README.md.
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
WORKLOADS = ("ingest_pipeline", "knn_serve")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "sources.sha256")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    """Stop without a result line; exit status 2."""
    log(msg)
    sys.exit(2)


def source_files():
    """Every file whose change means the harness must be rebuilt."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))
                      or "resources" in d]
    return sorted(f for f in files if os.path.isfile(f))


def run_group(cmd, cwd, timeout, env=None):
    """Run `cmd` with its output on standard error, in its own process
    group, so a timeout stops it and every process it started."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s")


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the harness unless the sources are unchanged."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/; "
                 "run from a checkout of the repository")
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log("building graft and the harness (sbt)")
    t0 = time.time()
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "writeClasspath"],
                     HERE, BUILD_TIMEOUT_S, env=env)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(args, work, out):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and the parallel collector keep the resident set a
    # function of the program's allocations rather than of adaptive
    # heap sizing
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", work, "--out", out,
            "--tiny", "1" if args.tiny else "0",
            "--corrupt-truth", "1" if args.corrupt_truth else "0"]
    return run_group(cmd, work, RUN_TIMEOUT_S)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the smoke test")
    ap.add_argument("--corrupt-truth", action="store_true",
                    help="corrupt the ground truth; the run must then fail")
    args = ap.parse_args()

    build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-"
                        f"{args.trace}-{os.getpid()}")
    out = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-"
                       f"trace{args.trace}{'-tiny' if args.tiny else ''}.json")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(out):
        os.remove(out)
    os.makedirs(work)
    try:
        code = run_jvm(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code not in (0, 1) or not os.path.exists(out):
        fail(f"harness exited {code} without a record")
    with open(out) as fh:
        record = json.load(fh)
    if (code == 0) != record["correct"]:
        fail(f"harness exited {code} but recorded correct={record['correct']}")
    # BENCHMARK.json names the metrics: end-to-end for a timed run,
    # per-layer for a traced one
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = record["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in listed
               if not isinstance(values.get(m["name"]), (int, float))]
    if missing:
        fail(f"harness reported no value for {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed}
    compact = {"separators": (",", ":")}
    print(json.dumps({"context": record["context"]}, **compact))
    print(json.dumps({"correct": record["correct"],
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics},
                     **compact), flush=True)
    sys.exit(0 if record["correct"] else 1)


if __name__ == "__main__":
    main()
