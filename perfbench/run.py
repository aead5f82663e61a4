#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) and keeps the classpath, so later runs start
the JVM directly and `setup_s` never includes the build. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Run records and span files go to perfbench/out/; scratch data to
perfbench/.work/<run id>/, removed when the run succeeds (both ignored by
git).
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
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ["analytics", "migration", "stream_dedup"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


CHILD = None


def stop_child(signum, _frame):
    """Stop the build or the JVM this script started, then exit."""
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are missing; run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the Spark installation whose bin/ is on the PATH
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.abspath(d))
            if os.path.isfile(os.path.join(d, "spark-submit")) and \
                    os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    env.setdefault("COURSIER_MODE", "offline")
    # offline, from the pre-warmed caches, as the repository's own build runs
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    print("[bench] building the engine and the harness", file=sys.stderr)
    global CHILD
    CHILD = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = CHILD.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        CHILD.kill()
        CHILD.communicate()
        fail("build timed out")
    lines = out.strip().splitlines()
    if CHILD.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def heap():
    """MemTotal/2, clamped to [2g, 8g], as the repository's tests use."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_one(cp, workload, seed, seconds, trace, extra=()):
    """One JVM run; returns the parsed result, or None on failure."""
    run_id = f"{workload}-s{seed}-t{trace}-{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:6]}"
    work = os.path.join(WORK, run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dgraftbench.dir={BENCH}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
              "--work", work, "--out", OUT, "--run-id", run_id, "--git-head", git_head()]
           + list(extra))
    global CHILD
    proc = CHILD = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                                    stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"[bench] {workload} exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        return None
    result = None
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH_RESULT "):
            result = json.loads(line[len("GRAFTBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        print(f"[bench] {workload} failed (exit {proc.returncode}); scratch data kept in {work}",
              file=sys.stderr)
        return None
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record-digests", metavar="FILE",
                    help="analytics only: write every query's result digest to FILE")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    cp = classpath()
    extra = ["--record-digests", os.path.abspath(args.record_digests)] if args.record_digests else []
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in names:
        r = run_one(cp, w, args.seed, args.seconds, args.trace, extra)
        if r is None:
            sys.exit(1)
        results[w] = r
        failed_frac = r["failed"] / max(1, r["attempted"])
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              f"failed_frac={failed_frac:.4f}", file=sys.stderr)
        for name, m in r["metrics"].items():
            print(f"  {w:13s} {name:45s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    if len(names) == 1:
        print(json.dumps(results[names[0]]))
    else:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{n}": m for w, r in results.items() for n, m in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
