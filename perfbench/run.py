#!/usr/bin/env python3
"""graft benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {curate,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The first run builds the harness and the
repository with sbt (offline) into `.bench_build/` and the sbt `target/`
directories; later runs reuse the build while the sources are unchanged.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.  The line
before it holds the run's details (contention witness, sample counts,
check results).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 150
SBT_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key():
    """Hash of everything the build compiles, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built():
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    key = source_key()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == key:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt (offline) ...")
    t = time.time()
    with open(os.path.join(BUILD, "sbt-build.txt"), "w") as logf:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=logf, timeout=SBT_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        log(f"build failed (rc={rc}); see .bench_build/sbt-build.txt")
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(key)
    log(f"built in {time.time() - t:.1f} s")
    return open(cp_file).read().strip()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=["curate", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no graft sources beside the benchmark: run it from a graft checkout")
        sys.exit(2)
    classpath = ensure_built()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    t_gen = time.time()
    truth = gen.generate(a.workload, a.seed, a.seconds, data)
    gen_s = time.time() - t_gen

    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # A fixed heap and young generation keep the resident size from
           # following the collector's adaptive sizing from run to run.
           ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:CICompilerCount=4",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--data", data, "--out", out,
            "--seconds", str(a.seconds), "--seed", str(a.seed),
            "--trace", str(a.trace)])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its scratch
    # inside the run directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm-stderr.txt"), "w") as errf:
        rc = run_child(cmd, timeout=JVM_TIMEOUT_S, cwd=run_dir, env=env, stdout=errf, stderr=errf)
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        log(f"harness JVM failed (rc={rc}); see {os.path.relpath(run_dir, ROOT)}/jvm-stderr.txt")
        sys.exit(4)
    with open(result_path) as f:
        result = json.load(f)

    if a.workload == "curate":
        failed, details = checks.curate(data, out, result, truth)
        attempted, lat = None, None
    else:
        failed, attempted, lat, details = checks.stream(data, out, result)
    e2e, attempted_ops, info = metrics.end_to_end(a.workload, result, lat)
    if attempted is None:
        attempted = attempted_ops
    details.update(info)
    details["generate_s"] = gen_s
    details["witness"] = result["witness"]
    if a.trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        out_metrics, tinfo, over = metrics.per_layer(a.workload, result, spans, details)
        details.update(tinfo)
        failed += over
    else:
        out_metrics = e2e
    details["failed_ratio"] = failed / max(attempted, 1)
    details["run_s"] = time.time() - T_START
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"details": details}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
