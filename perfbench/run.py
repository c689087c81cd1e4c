#!/usr/bin/env python3
"""Build the engine and the benchmark from this checkout, run one workload,
and print its result as the last line of standard output.

    python3 perfbench/run.py --workload battery --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles both sbt builds
(the engine at the root, the benchmark in perfbench/) and caches the
classpath under perfbench/target/; later runs reuse it until a source file
changes. The full artifact of each run (result, host provenance, details,
and with --trace 1 a span file and the tracing overhead) is written to
perfbench/target/results/.
"""
import argparse
import glob
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
RESULTS = os.path.join(TARGET, "results")
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, under 900 s for a first run that builds
RUN_TIMEOUT_S = 170
WORKLOADS = ("battery", "stream-feedback")

# Spark on JDK 17 needs these outside spark-submit (as the root build.sbt
# passes them to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    pats = ["build.sbt", "project/*.properties", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*.scala"]
    h = hashlib.sha256()
    for p in sorted(f for pat in pats for f in glob.glob(os.path.join(ROOT, pat), recursive=True)):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build():
    """Build unless the cached classpath matches the sources; return their digest."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        sys.exit(f"[perfbench] build failed (exit {code})")
    cp = [ln.strip() for ln in out.splitlines() if ln.strip().startswith("/") and ".jar" in ln]
    if not cp:
        sys.stderr.write(out)
        sys.exit("[perfbench] build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return digest


def tracing_overhead(workload, digest, traced):
    """Traced closed-loop time over the median of this checkout's untraced
    runs of the same workload built from the same sources, minus one; None
    without such runs."""
    base = []
    for p in glob.glob(os.path.join(RESULTS, f"{workload}-seed*-trace0.json")):
        try:
            with open(p) as f:
                art = json.load(f)
            if art.get("sources_digest") == digest and art["result"]["correct"]:
                base.append(art["end_to_end"]["closed_loop_s"])
        except (OSError, ValueError, KeyError):
            pass
    if not base or traced is None:
        return None
    return {"traced_closed_loop_s": traced, "untraced_median_s": statistics.median(base),
            "untraced_runs": len(base), "overhead": traced / statistics.median(base) - 1.0}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and os.path.exists(engine)):
        sys.exit("[perfbench] no engine sources next to perfbench/: run from a full checkout")
    digest = build()

    cores = max(1, len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count())
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--out", RESULTS])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    if code is None:
        sys.exit(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s and was killed")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if code != 0 or not lines:
        sys.exit(f"[perfbench] run failed (exit {code})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("[perfbench] malformed result line")
    stem = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json") as f:
        art = json.load(f)
    art["sources_digest"] = digest
    if a.trace == "1":
        art["tracing_overhead"] = tracing_overhead(
            a.workload, digest, art["end_to_end"].get("closed_loop_s"))
        log(f"tracing overhead: {art['tracing_overhead']}; spans: {stem}-spans.json")
    with open(stem + ".json", "w") as f:
        json.dump(art, f)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
