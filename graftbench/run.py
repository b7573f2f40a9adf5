#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 graftbench/run.py --workload cql_read|cql_write|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the library and
the harness with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. The harness then runs in one JVM with Spark
`local[<cores>]`; for `analytics` this script also checks the query outputs
(checks.py). The last line of stdout is the JSON result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

The exit code is 0 only for a run whose every checked result was correct.
Build products, run directories and traces live under `.bench_build/`.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("cql_read", "cql_write", "analytics")
# a run (after the one-off build) must end within 180 s; leave room for the
# checks and shutdown
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# What spark-submit would add on JDK 17 (the library's build.sbt passes the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile library + harness once per source state; return the classpath."""
    cp_file = BUILD / f"classpath-{source_stamp()}.txt"
    if cp_file.is_file():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log("building library and harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dgraftbench.classpath={cp_file}", "writeClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not cp_file.is_file():
        tail = (BUILD / "build.log").read_text().splitlines()[-30:]
        log("build failed:\n" + "\n".join(tail))
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f} s")
    return cp_file.read_text().strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cp, run_dir, main_args):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation: the resident set then follows the
    # run's live data, not when G1 chose to grow the heap
    return (["java", *opens, "-Xms3g", "-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "graftbench.Main", *main_args])


def run_jvm(cmd, log_path, timeout):
    """Run the harness JVM in its own process group; kill the group on
    timeout, or when this script is terminated, so no Spark thread outlives
    the run."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)

        def terminate(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, terminate)
        signal.signal(signal.SIGINT, terminate)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"harness timed out after {timeout} s")
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="alter one checked result, to prove the checker fails the run")
    ap.add_argument("--record-digests", action="store_true",
                    help="analytics: rewrite expected_digests.json from this run's outputs")
    a = ap.parse_args(argv)

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no graft sources at {ROOT}: run from the root of a graft checkout")
        return 2
    cp = build()

    run_dir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    # inputs that depend only on the generator's source are cached per checkout
    gen = HERE / "src" / "main" / "scala" / "graftbench" / "AnalyticsWorkload.scala"
    cache = BUILD / "cache" / hashlib.sha256(gen.read_bytes()).hexdigest()[:16]
    cache.mkdir(parents=True, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", str(run_dir / "out"), "--cache", str(cache)]
    if a.plant:
        args += ["--plant", "1"]
    try:
        code = run_jvm(java_cmd(cp, run_dir, args), run_dir / "jvm.log", JVM_TIMEOUT_S)
        result_file = run_dir / "out" / "result.json"
        if code != 0 or not result_file.is_file():
            tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-40:]
            log(f"harness failed (exit {code}):\n" + "\n".join(tail))
            return 4
        res = json.loads(result_file.read_text())
        attempted, failed = res["attempted"], res["failed"]
        for m in res["mismatches"]:
            log(f"mismatch: {m}")
        if a.workload == "analytics":
            import checks
            # the harness counted each query's checked execution in `attempted`
            problems = checks.check_analytics(run_dir / "out", plant=a.plant,
                                              record=a.record_digests)
            failed += len(problems)
            for p in problems:
                log(f"mismatch: {p}")
        if a.trace:
            summary = run_dir / "out" / "summary.json"
            if summary.is_file():
                log(f"trace summary: {summary.read_text().strip()}")
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            for name in ("spans.jsonl", "summary.json"):
                src = run_dir / "out" / name
                if src.is_file():
                    shutil.copy(src, traces / f"{a.workload}-s{a.seed}-{name}")
            log(f"spans and summary in {traces}")
        log(f"notes: {json.dumps(res['notes'])}")
        for name, xs in res["latencies_ms"].items():
            log(f"{name}: {len(xs)} samples, ms: {xs[:40]}")
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": res["metrics"]}
        print(json.dumps(line), flush=True)
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
