#!/usr/bin/env python3
"""graft benchmark: build the program from source, run one workload, print
every metric.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) into .bench_build/ (or $CARGO_TARGET_DIR); later
runs reuse the build while the sources are unchanged. Each run gets its own
directory under the build dir, used as java.io.tmpdir and spark.local.dir,
and deleted at exit.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics of BENCHMARK.json,
--trace 1 the per-layer ones. Lines before it are a report: the
environment, the seed and input row counts, the workload's metrics under
their per-workload names with tail percentiles and sample counts, figures
BENCHMARK.json does not list (`other_metrics`), and any failed checks. See
perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "refresh", "nightly")
HEAP = "1g"
RUN_LIMIT_S = 160           # a run must end within 180 s
BUILD_LIMIT_S = 840         # the first run may take 900 s, building
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(ROOT, p), recursive=True))
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(build_dir, digest, deadline):
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("digest") == digest:
            return got["classpath"]
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out")
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def wait_child(proc, limit_s):
    """Wait for proc; return (exit code, peak RSS in MB). Kills it at the limit."""
    end = time.time() + limit_s
    while True:
        pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid == proc.pid:
            proc.returncode = os.waitstatus_to_exitcode(status)
            return proc.returncode, ru.ru_maxrss / 1024.0
        if time.time() > end:
            os.killpg(proc.pid, signal.SIGKILL)
            _, status, ru = os.wait4(proc.pid, 0)
            proc.returncode = -signal.SIGKILL
            return None, ru.ru_maxrss / 1024.0
        time.sleep(0.05)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.02, help="input scale factor (0.1 = sf0.1 sizes)")
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    files = source_files()
    digest = source_digest(files)
    cp = build(build_dir, digest, t_start + BUILD_LIMIT_S)
    t_built = time.time()

    nproc = os.cpu_count() or 1
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or min(4, nproc))
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    out_json = os.path.join(run_dir, "result.json")
    trace_dir = os.path.join(build_dir, "traces")
    trace_out = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl")
    if a.trace:
        os.makedirs(trace_dir, exist_ok=True)

    load_before = os.getloadavg()[0]
    cmd = (["java", f"-Xmx{HEAP}"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", str(a.sf), "--cores", str(cores),
            "--run-dir", os.path.join(run_dir, "work"), "--out", out_json,
            "--trace-out", trace_out, "--digests", os.path.join(HERE, "curate_digests.json")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run_dir, "jvm.log")
    # a SIGTERM still runs the cleanup below: stop the JVM, delete the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            # the run limit excludes the build, which only the first run pays
            limit = RUN_LIMIT_S - (time.time() - t_built) if a.seconds <= 60 else 3600
            code, rss_mb = wait_child(proc, limit)
        leaked = len(glob.glob(os.path.join(tmp, "graft_*")))
        load_after = os.getloadavg()[0]
        if code != 0 or not os.path.exists(out_json):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail("timed out" if code is None else f"benchmark JVM exited with {code}")
        with open(out_json) as fh:
            rec = json.load(fh)
    finally:
        if proc is not None and proc.returncode is None:
            os.killpg(proc.pid, signal.SIGKILL)
            os.waitpid(proc.pid, 0)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    got = rec["metrics"]
    if a.trace:
        got["bench.leaked_tmp_dirs"] = float(leaked)
        got["bench.loadavg_1m"] = load_before
        names = [m["name"] for m in spec["per_layer"]]
    else:
        got["peak_rss_mb"] = rss_mb
        names = [m["name"] for m in spec["end_to_end"]]
    # a layer the workload does not exercise did no work: its figures are 0
    # (a failed phase can leave a figure undefined, which the JVM writes as null)
    metrics = {n: {"value": float(got.get(n) or 0.0), "unit": units[n]} for n in names}
    other = {k: v for k, v in got.items() if k not in units}

    print(json.dumps({"env": {
        "nproc": nproc, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "cores": cores,
        "jvm_heap": HEAP, "git_commit": git_commit(), "source_digest": digest,
        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
        "leaked_tmp_dirs": leaked, "wall_s": round(time.time() - t_start, 3)}}))
    print(json.dumps({"workload": rec["workload"], "seed": rec["seed"], "sf": rec["sf"],
                      "input_rows": rec["input_rows"], "setup_s_samples": rec["setup_s_samples"],
                      "report": rec.get("report", {}), "other_metrics": other, "spans": rec.get("spans"),
                      "failures": rec.get("failures", [])}))
    attempted = max(1, int(rec["attempted"]))
    print(json.dumps({"error_rate": rec["failed"] / attempted}))
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": attempted,
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
