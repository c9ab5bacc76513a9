#!/usr/bin/env python3
"""Benchmark of the change-stream relay's live lag and of batch queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library with
the benchmark (perfbench/build.sbt, sbt offline); later runs reuse the
build while no source changed. Each run is one JVM on one workload with
a fresh scratch directory, deleted when the run ends.

Prints the end-to-end figures under their per-workload names, then, as
the last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1 (the traced run also writes its spans to
perfbench/out/trace-<workload>-<seed>.json). Exits non-zero when an
output check fails or the run cannot be made.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("relay_live", "queries")
BUILD = os.path.join(HERE, "target", "bench")
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "sf0.1.json")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds when the sources changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the library sources (src/main/scala) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        fail("build failed, see " + log)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def run_jvm(args, cp, work):
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # The heap is fixed and touched up front, so that peak RSS measures
    # what the process holds beyond it (netty, generated code, threads)
    # rather than when the collector chose to grow the heap; heap demand
    # shows as exec.gc_s and in the latencies.
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", FIXTURE, "--expected", EXPECTED,
              "--work", os.path.join(work, "run"), "--out", raw])
    log = os.path.join(work, "jvm.log")
    launched_ms = time.time() * 1000.0
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(raw):
        with open(log) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail("the benchmark process %s" %
             ("timed out" if code is None else "exited with %s" % code))
    with open(raw) as fh:
        return json.load(fh), launched_ms


def fmt(v):
    return "n/a" if v is None else "%.6g" % v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for path in (FIXTURE, EXPECTED, SPEC):
        if not os.path.exists(path):
            fail("missing " + os.path.relpath(path, ROOT))
    cp = classpath()
    scratch = os.path.join(HERE, "target", "runs")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=scratch)
    try:
        raw, launched_ms = run_jvm(args, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["measured"]["ops"]
    if args.trace:
        ops = ops + raw["traced"]["baseline"]["ops"] + raw["traced"]["measured"]["ops"]
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"])
    for op in ops:
        if not op["ok"]:
            print("check failed: %s" % json.dumps(
                {k: v for k, v in op.items() if k not in ("rows", "latency")}))

    for name, (v, unit) in stats.named_metrics(raw, launched_ms).items():
        print("%s %s %s" % (name, fmt(v), unit))
    with open(SPEC) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        values = stats.per_layer(raw, launched_ms)
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "trace-%s-%d.json" % (args.workload, args.seed)), "w") as fh:
            json.dump({"spans": raw["traced"]["spans"], "metrics": values}, fh)
    else:
        values = stats.end_to_end(raw, launched_ms)
    if {m["name"] for m in spec} != set(values):
        fail("metrics do not match BENCHMARK.json: %s" % sorted(
            {m["name"] for m in spec} ^ set(values)))
    missing = [k for k, v in values.items() if v is None]
    if missing:
        print("unmeasured: " + ", ".join(missing))
    metrics = {m["name"]: {"value": values[m["name"]] or 0.0, "unit": m["unit"]}
               for m in spec}
    correct = failed == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
