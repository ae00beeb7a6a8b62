#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_range --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the program and the
benchmark drivers with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run starts one JVM, which writes its
result and run record under perfbench/results/. The last line printed on
stdout is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is non-zero when the program cannot be built or run, or when an
output check fails.
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
BUILD_DIR = os.path.join(HERE, ".build")
RESULTS_DIR = os.path.join(HERE, "results")
WORK_DIR = os.path.join(HERE, "work")

WORKLOADS = ("dashboard_range", "live_ingest", "curation_batch")
# JVM settings every run records; the heap is set explicitly so a host's
# default (or the program's own build default) never decides it
HEAP = "3g"
CPUS = 4
SHUFFLE_PARTITIONS = 4
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
LONG_TIMEOUT_S = 1800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's build and sources plus the
    benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout and
    wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def ensure_build():
    """Compile with sbt unless the stamped build matches the sources.
    Returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "--no-server", "-J-Xmx2g", "-J-Djava.io.tmpdir=" + tmp,
           "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        rc = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0:
        fail("build failed (rc=%s), see %s" % (rc, log))
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if not cps:
        fail("build printed no classpath, see " + log)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def tracing_overhead(traced, args):
    """Traced minus untraced end-to-end figures, against the newest untraced
    run of the same workload, seed and sources in perfbench/results."""
    prefix = "%s-s%d-t0-" % (args.workload, args.seed)
    digest = traced["record"]["source_digest"]
    best = None
    for name in os.listdir(RESULTS_DIR):
        if not (name.startswith(prefix) and name.endswith(".json")):
            continue
        path = os.path.join(RESULTS_DIR, name)
        try:
            with open(path) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if r.get("record", {}).get("source_digest") == digest and "end_to_end" in r:
            if best is None or os.path.getmtime(path) > best[0]:
                best = (os.path.getmtime(path), name, r)
    if best is None:
        return {"against": None, "note": "no untraced run of this workload, seed and source"}
    plain = best[2]["end_to_end"]
    return {"against": best[1], "delta": {
        k: traced["end_to_end"][k]["value"] - v["value"]
        for k, v in plain.items() if k in traced["end_to_end"]}}


def git_commit():
    """HEAD of the checkout, or None when the checkout is not itself a git
    work tree (git would otherwise report an enclosing repository)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests at a tiny size")
    ap.add_argument("--record-curation", type=int, default=0, metavar="N",
                    help="record curation_batch's expected outputs for N seeds from --seed")
    args = ap.parse_args()
    mode = "selftest" if args.selftest else "record" if args.record_curation else "run"
    if mode == "run" and args.workload is None:
        ap.error("--workload is required")

    classpath = ensure_build()
    os.makedirs(RESULTS_DIR, exist_ok=True)
    name = args.workload if mode == "run" else mode
    run_id = "%s-s%d-t%d-%s-%d" % (name, args.seed, args.trace,
                                   time.strftime("%Y%m%dT%H%M%S"), os.getpid())
    work = os.path.join(WORK_DIR, run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result_file = os.path.join(RESULTS_DIR, run_id + ".json")
    log_file = os.path.join(RESULTS_DIR, run_id + ".log")
    record = {
        "run_id": run_id, "commit": git_commit(), "source_digest": source_digest(),
        "cpus_host": os.cpu_count(), "cpus": CPUS, "heap": HEAP,
        "shuffle_partitions": SHUFFLE_PARTITIONS, "loadavg_before": os.getloadavg(),
    }
    jvm = ["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    jvm += ["-cp", classpath, "perfbench.Main",
            "--mode", mode, "--count", str(args.record_curation),
            "--workload", args.workload or "", "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(CPUS), "--shuffle-partitions", str(SHUFFLE_PARTITIONS),
            "--work", work, "--out", result_file,
            "--record", json.dumps(record)]
    timeout = RUN_TIMEOUT_S if mode == "run" else LONG_TIMEOUT_S
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would move Spark's scratch space out of the checkout
    try:
        with open(log_file, "w") as log:
            rc = run_bounded(jvm, timeout, cwd=ROOT, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail("run exceeded %d s, see %s" % (timeout, log_file))
    if rc != 0 or not os.path.isfile(result_file):
        fail("run failed (rc=%s), see %s" % (rc, log_file))
    with open(result_file) as fh:
        res = json.load(fh)
    res["record"]["loadavg_after"] = os.getloadavg()
    if mode == "run" and args.trace:
        res["tracing_overhead"] = tracing_overhead(res, args)
    with open(result_file, "w") as fh:
        json.dump(res, fh, indent=1)
    if mode == "selftest":
        print(json.dumps(res["selftest"]))
        sys.exit(0 if res["selftest"]["passed"] else 1)
    if mode == "record":
        print(json.dumps({"recorded": res["recorded"]}))
        sys.exit(0)
    out = {"correct": res["correct"], "attempted": res["attempted"],
           "failed": res["failed"], "metrics": res["metrics"]}
    print(json.dumps(out))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
