#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark with sbt on first use (or when a source
changed), runs the workload in one JVM on local[4], keeps the run's data in a
scratch directory that is deleted afterwards, writes a per-run artifact to
perfbench/results/, prints each metric with its unit and sample count, and
prints the result as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Exits non-zero, without printing a result, when the build or the run fails.
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
WORKLOADS = ["cdc_trickle", "corpus_serve"]
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "sources.sha1")
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked runs).
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, cwd, env=None, timeout=None):
    """Run a child process in its own process group and return its exit code,
    or None on timeout. The whole group is stopped on timeout and when this
    script is told to stop, and waited for either way."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)

    def on_signal(signum, _frame):
        sys.exit(128 + signum)  # the finally clause below stops the group

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        for s, h in old.items():
            signal.signal(s, h)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless the recorded classpath matches the sources."""
    fp = fingerprint()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return True
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    try:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, timeout=max(1, deadline - time.time()))
    except OSError as e:
        log(f"build failed: {e}")
        return False
    if rc != 0 or not os.path.isfile(CLASSPATH):
        log("build timed out" if rc is None else f"build failed with exit code {rc}")
        return False
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    t0 = time.time()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("the program's sources (build.sbt, src/main/scala) are not here")
        return 2
    if not build(t0 + BUILD_DEADLINE_S):
        return 3
    # the first run in a checkout may spend its time building; the run
    # itself gets the same budget either way
    run_start = t0 if time.time() - t0 < 5 else time.time()
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    # Run data stays out of the sources: a scratch dir under the benchmark
    # (ignored by git) unless PERFBENCH_DATA_DIR names another place, e.g.
    # a RAM-backed /dev/shm to take disk throughput out of the figures.
    data_root = os.environ.get("PERFBENCH_DATA_DIR") or os.path.join(HERE, ".work")
    os.makedirs(data_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-t{args.trace}-",
                               dir=data_root)
    result_file = os.path.join(run_dir, "result.json")
    results_dir = os.path.join(HERE, "results")
    os.makedirs(results_dir, exist_ok=True)
    artifact = os.path.join(
        results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                     f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # The program's own JVM options (build.sbt), with a heap sized for this
    # benchmark's small inputs.
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", run_dir, "--result", result_file, "--artifact", artifact])
    try:
        rc = run_child(cmd, cwd=run_dir,
                       timeout=max(1, run_start + RUN_DEADLINE_S - time.time()))
        if rc is None:
            log("the run exceeded its deadline; stopped it")
            return 4
        if rc != 0 or not os.path.isfile(result_file):
            log(f"the run failed with exit code {rc}")
            return 5
        with open(result_file) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None and not args.trace:
            log(f"the run did not produce end-to-end metric {m['name']}")
            return 6
        if got is not None and got["unit"] != m["unit"]:
            log(f"metric {m['name']} came in {got['unit']}, not {m['unit']}")
            return 6
        # a per-layer metric of a layer this workload does not exercise is 0
        metrics[m["name"]] = {"value": got["value"] if got else 0, "unit": m["unit"]}
        print(f"{m['name']:34s} {metrics[m['name']]['value']:14.6g} {m['unit']:10s} "
              f"n={got['n'] if got else 0}")
    result["metrics"] = metrics
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
