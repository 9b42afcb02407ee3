#!/usr/bin/env python3
"""Benchmark of a setu run: Pipeline.runAndWrite on generated corpora.

    python3 perfbench/run.py --workload indic_crawl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first call builds the engine and the
benchmark from source with sbt (offline) into the checkout; later calls
reuse that build until a source file changes. Every run writes its report
(and, traced, its spans) under .bench_build/results/. The last line of
standard output is the summary JSON.

--trace 0 prints the end-to-end metrics. setup_s is the median of three
process start-ups: the measured run's own and two set-up-only runs.
--trace 1 prints the per-layer metrics from a run with listeners and spans.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("indic_crawl", "web_neardup")
# The engine files the benchmark cannot run without.
REQUIRED = (
    "build.sbt",
    "project/build.properties",
    "src/main/scala/graft/pipeline/Pipeline.scala",
    "configs/graft_hindi_config.json",
    "configs/graft_english_config.json",
)
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main")
SETUP_PROBES = 2
BUILD_TIMEOUT_S = 840
# A run (the measured JVM and the set-up probes) must end within
# RUN_TIMEOUT_S plus twice the measured --seconds.
RUN_TIMEOUT_S = 150
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these module openings (the
# engine's build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fingerprint():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log("building engine and benchmark with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout)
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    log("built in %.1f s" % (time.time() - t0))
    return cp


def jvm(cp, args, echo, deadline):
    """Run perfbench.Main, killed at `deadline`; return its stdout lines."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(BUILD, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(BUILD, "warehouse"),
        "-cp", cp, "perfbench.Main",
        "--launch-epoch-us", str(time.time_ns() // 1000)] + args)
    out = []
    with subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True) as proc:
        killed = threading.Event()

        def kill():
            killed.set()
            proc.kill()

        timer = threading.Timer(max(0.0, deadline - time.time()), kill)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                out.append(line)
                if echo:
                    print(line, flush=True)
            proc.wait()
        finally:
            timer.cancel()
        if killed.is_set():
            raise SystemExit("benchmark run killed at its deadline")
    if proc.returncode != 0:
        raise SystemExit("benchmark JVM exited with %d" % proc.returncode)
    return out


def last_json(lines):
    for line in reversed(lines):
        if line.startswith("{"):
            return json.loads(line)
    raise SystemExit("benchmark JVM printed no summary line")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    missing = [r for r in REQUIRED if not os.path.isfile(os.path.join(ROOT, r))]
    if missing:
        raise SystemExit("not a setu checkout, missing: " + ", ".join(missing))

    cp = build()
    tag = "%s-s%d-t%s" % (a.workload, a.seed, a.trace)
    results = os.path.join(BUILD, "results")
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", os.path.join(BUILD, "work", tag), "--results", results]
    deadline = time.time() + RUN_TIMEOUT_S + 2 * a.seconds
    summary = last_json(jvm(cp, common, echo=True, deadline=deadline))
    if a.trace == "0":
        samples = [summary["metrics"]["setup_s"]["value"]]
        for _ in range(SETUP_PROBES):
            probe = last_json(jvm(cp, common + ["--setup-only"], echo=False,
                                  deadline=deadline))
            samples.append(probe["setup_s"])
        summary["metrics"]["setup_s"]["value"] = statistics.median(samples)
        print("setup_s samples: " + " ".join("%.4f" % s for s in samples))
        report_path = os.path.join(results, tag + ".json")
        with open(report_path) as fh:
            report = json.load(fh)
        report["setup_samples_s"] = samples
        report["summary"] = summary
        with open(report_path, "w") as fh:
            json.dump(report, fh)
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
