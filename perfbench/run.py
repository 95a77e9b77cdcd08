#!/usr/bin/env python3
"""Runs one workload of the graft benchmark for one seed.

    python3 perfbench/run.py --workload glm --seed 1 --seconds 3 --trace 0

Builds graft and the benchmark once with sbt (no build tool runs while
anything is timed), writes the seed's inputs once, then starts a single
JVM on the built classpath with a fixed heap and a fixed number of task
slots. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 1` runs the same
rounds with the Spark listener on, prints the per-layer metrics and
writes the spans to perfbench/.out/; `--self-test 1` instead perturbs each
checked output and reports how many perturbations the checks missed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402

WORKLOADS = ("glm", "corpus_curation")
SLOTS = min(4, os.cpu_count() or 1)
HEAP_MB = 2048
DEADLINE_S = 170          # a run ends within this, build excluded
BUILD_TIMEOUT_S = 850
KEEP_SEEDS = 8            # generated input sets kept per workload

# Spark on JDK 17 outside spark-submit needs these (as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def sources():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def classpath():
    """Compiles graft and the benchmark unless a build of exactly these
    sources exists; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    marker = os.path.join(BENCH, ".build", "classpath-%s.txt" % h.hexdigest()[:16])
    if not os.path.exists(marker):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
        log("building graft and the benchmark with sbt")
        t = time.time()
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        sys.stderr.write(out.stdout)
        lines = [ln for ln in out.stdout.splitlines()
                 if ln and not ln.startswith("[") and ".jar" in ln]
        if out.returncode != 0 or not lines:
            sys.exit("build failed")
        shutil.rmtree(os.path.dirname(marker), ignore_errors=True)
        os.makedirs(os.path.dirname(marker))
        with open(marker, "w") as f:
            f.write(lines[-1].strip())
        log("built in %.0f s" % (time.time() - t))
    with open(marker) as f:
        return f.read().strip()


def inputs(workload, seed):
    data = os.path.join(BENCH, ".data")
    out = os.path.join(data, "%s-%d" % (workload, seed))
    if not os.path.exists(os.path.join(out, "truth.json")):
        os.makedirs(data, exist_ok=True)
        t = time.time()
        gen.generate(workload, seed, out)
        log("generated %s seed %d in %.1f s" % (workload, seed, time.time() - t))
        old = sorted(glob.glob(os.path.join(data, workload + "-*")),
                     key=os.path.getmtime)
        for d in old[:-KEEP_SEEDS]:
            shutil.rmtree(d, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("graft sources not found next to perfbench/")
    cp = classpath()
    start = time.time()
    data = inputs(a.workload, a.seed)
    work = os.path.join(BENCH, ".work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    outdir = os.path.join(BENCH, ".out")
    os.makedirs(work)
    os.makedirs(outdir, exist_ok=True)
    trace_out = os.path.join(outdir, "trace-%s-%d.json" % (a.workload, a.seed))
    # C1 only: with C2 the first timed rounds of a short run still drift
    # down by a third while hot code recompiles, and the cold round pays
    # twice the CPU. The rounds are bound by per-job overhead, not by code
    # that only C2 would speed up.
    cmd = (["java", "-Xms%dm" % HEAP_MB, "-Xmx%dm" % HEAP_MB, "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + work,
              "-Dlog4j.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--self-test", str(a.self_test),
              "--slots", str(SLOTS), "--work", work, "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S - (time.time() - start))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("benchmark JVM exceeded %d s" % DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit("benchmark JVM failed with code %d" % proc.returncode)
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
