#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload remote --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness (an sbt
package of its own in this directory, compiling the repository's
sources) and caches the classpath under perfbench/.build; later runs
start the JVM directly. Every run works in perfbench/.work/<workload>.

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (0 for a layer the workload does not run). The lines before it
stamp the run (cores, heap, JDK, git SHA, seed) and give the
workload's own named metrics with their units and sample counts.

Test hooks: --scale tiny runs each workload at toy size; --sabotage
corrupt-hash|delete-dest makes one check fail on purpose. --record
prints the result hashes of every benchmark query (see README.md).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("remote", "corpus_batch")
# scale factor of the fixed input tables (see TESTDATA.md); README.md
# says why the smallest one
SF = "0.001"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the harness build depends on, in a stable order."""
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "src", "test", "scala", "graft", "ftp",
                         "MiniFtpServer.scala")]
    for p in need:
        if not os.path.exists(p):
            die(f"missing {os.path.relpath(p, ROOT)}: run from a checkout "
                "of the repository")
    files = [need[0], need[2], os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (need[1], os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{cmd[0]} exceeded {timeout}s", 3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build():
    """Compile the harness once per source state; return the classpath."""
    digest = source_hash()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True)
        log.write(out)
    cp = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not cp:
        die(f"build failed (exit {code}); see {os.path.relpath(BUILD, ROOT)}/build.log", 4)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1], digest


def tables_dir(sf):
    """The fixed input tables: TESTDATA.md's directory for scale `sf`,
    unless GRAFT_BENCH_DATA names a directory holding sf<sf>/."""
    if os.environ.get("GRAFT_BENCH_DATA"):
        d = os.path.join(os.environ["GRAFT_BENCH_DATA"], f"sf{sf}")
    else:
        doc = os.path.join(ROOT, "TESTDATA.md")
        if not os.path.exists(doc):
            die("missing TESTDATA.md (it names the input tables)")
        rows = re.findall(r"^\|\s*([\d.]+)\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
        d = dict(rows).get(sf)
        if d is None:
            die(f"TESTDATA.md lists no sf {sf}")
    d = d.rstrip("/")
    if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
        die(f"input tables not found at {d}")
    return d


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def java_cmd(cp, work, heap=HEAP):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *flags, f"-Xmx{heap}", f"-Xms{heap}",
            "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main"]


def harness(cmd, work):
    """Run the JVM; return its PERFBENCH payload (None on failure)."""
    with open(os.path.join(work, "harness.log"), "w") as log:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if code != 0 or not lines:
        tail = open(os.path.join(work, "harness.log")).read()[-3000:]
        print(tail, file=sys.stderr)
        die(f"harness exited {code} without a result", 5)
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--sabotage", choices=("", "corrupt-hash", "delete-dest"), default="")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--sf", help="with --record: scale factor to hash")
    ap.add_argument("--dump", help="with --record: a Verify dump to hash too")
    ap.add_argument("--repeat", action="store_true",
                    help="with --record: hash each query a second time")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("missing BENCHMARK.json")
    spec = json.load(open(spec_path))
    cp, digest = build()
    work = os.path.join(WORK, "record" if a.record else a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    if a.record:
        sf = a.sf or SF
        cmd = java_cmd(cp, work) + ["--record", "--work", work, "--sf", tables_dir(sf)]
        if a.dump:
            cmd += ["--dump", os.path.abspath(a.dump)]
        if a.repeat:
            cmd += ["--repeat", "1"]
        for row in harness(cmd, work):
            print(json.dumps(row))
        return

    cores = os.cpu_count() or 1
    launch_ms = int(time.time() * 1000)
    cmd = java_cmd(cp, work) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--sf", tables_dir(SF),
        "--scale", a.scale, "--expected", os.path.join(HERE, "expected.json"),
        "--launch-ms", str(launch_ms), "--cores", str(cores)]
    if a.sabotage:
        cmd += ["--sabotage", a.sabotage]
    r = harness(cmd, work)

    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "scale": a.scale, "nproc": cores, "heap": HEAP,
             "heap_max_mb": r["detail"]["heap_max_mb"], "jdk": r["detail"]["jdk"],
             "git_sha": git_sha(), "source_sha256": digest}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"named": r["named"], "notes": r["notes"]}))
    with open(os.path.join(work, "detail.json"), "w") as f:
        json.dump({"stamp": stamp, **r}, f, indent=1)

    if a.trace:
        metrics = {m["name"]: {"value": r["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in r["e2e"]]
        if missing:
            die(f"no value for {', '.join(missing)}", 6)
        metrics = {m["name"]: {"value": r["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": r["correct"] == "true" or r["correct"] is True,
                      "attempted": int(r["attempted"]), "failed": int(r["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
