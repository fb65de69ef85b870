#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at sf0.001, untraced and traced.

    python3 perfbench/selftest.py [workload ...]

Runs every workload run.py offers, including `refresh`, which BENCHMARK.json
leaves out. Asserts that each run exits 0, that its last line has exactly
the result keys, that every check passed, and that every metric
BENCHMARK.json names is emitted with its unit. The traced runs must also
write spans with parent ids, report the tracing overhead, and report
non-zero figures for the layers their workload exercises (in the result, or
among the report's `other_metrics`). Name workloads to test only those.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per workload: per-layer metrics that must be non-zero in its traced run
EXERCISED = {
    "dashboard": ["mart.exec_s", "mart.plan_s", "mart.jobs_per_query", "mart.records_read_per_query",
                  "spark.jobs", "spark.tasks"],
    "refresh": ["streaming.add_batch_s", "streaming.jobs_per_batch", "streaming.state_mb",
                "streaming.state_versions_live", "mart.serve_s", "streaming.pickup_wait_s",
                "bench.generator_lag_s", "spark.jobs"],
    "nightly": ["etl.extract_s_per_day", "etl.fact_build_s", "etl.jobs", "etl.quarantine_rows",
                "streaming.upsert_s_per_day", "streaming.upsert_fresh_ratio",
                "ops.rec_als_implicit.jobs", "ops.dedup_cascade.s", "ops.tasks_per_job", "spark.jobs"],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), [json.loads(l) for l in lines[:-1]]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    assert set(names) <= set(EXERCISED), names
    for wl in sys.argv[1:] or EXERCISED:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res, report = run(wl, trace)
            tag = f"{wl} trace={trace}"
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, tag
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, \
                f"{tag}: checks failed: {report}"
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{tag}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], float) for v in res["metrics"].values()), tag
            assert "env" in report[0] and report[0]["env"]["nproc"] >= 1, tag
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), f"{tag}: {res['metrics']}"
            else:
                figures = {k: v["value"] for k, v in res["metrics"].items()}
                figures.update(report[1]["other_metrics"])
                zero = [m for m in EXERCISED[wl] if not figures.get(m, 0) > 0]
                assert not zero, f"{tag}: zero figures for exercised layers: {zero}"
                assert res["metrics"]["bench.trace_overhead"]["value"] > 0, tag
                spans_path = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                          "traces", f"{wl}-seed1.spans.jsonl")
                with open(spans_path) as fh:
                    spans = [json.loads(l) for l in fh]
                ids = {s["id"] for s in spans}
                assert spans and any(s["parent"] in ids for s in spans), f"{tag}: no child spans"
            print(f"ok  {tag}: {len(res['metrics'])} metrics, {res['attempted']} operations")
    print("selftest passed")


if __name__ == "__main__":
    main()
