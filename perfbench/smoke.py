#!/usr/bin/env python3
"""Smoke check of the benchmark harness at smoke size (tiny inputs; the
numbers are not timings to compare).

For every workload in BENCHMARK.json it runs perfbench/run.py
  - untraced: every end-to-end metric is printed with its unit, all output
    checks pass, and the report names each crawl or query figure with its unit;
  - traced: every per-layer metric is printed with its unit, the span file
    is written, and the crawl's round spans cover its wall time within 5%;
  - with --inject-failure: the forced failure shows in fail_ratio with its
    base, and the result is not correct.

Usage: python3 perfbench/smoke.py          (about ten minutes on 4 cores)
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent

# The end-to-end figures the report must name, with their units.
REPORTED = {
    "crawl": [("crawl_pps", "pages/s"), ("crawl_cpu_s", "CPU-s"),
              ("round_s.p50", "s"), ("resume_s", "s"), ("warehouse_mb", "MB"),
              ("live_heap_mb", "MB"), ("setup_s", "s"), ("fail_ratio", "ratio")],
    "analytics": [("query_total_s", "s"), ("query_s.p50", "s"),
                  ("query_s.p75", "s"), ("query_cpu_s", "CPU-s"),
                  ("live_heap_mb", "MB"), ("setup_s", "s"), ("fail_ratio", "ratio")],
}


def run(workload, trace, inject=False):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    if inject:
        cmd.append("--inject-failure")
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         check=True).stdout.strip().splitlines()
    return out[:-1], json.loads(out[-1])


def check_metrics(res, metrics):
    want = {m["name"]: m["unit"] for m in metrics}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"metrics {got} != {want}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), (k, v)


def report_value(report, name, unit):
    for line in report:
        parts = line.split()
        if parts and parts[0] == name and parts[2] == unit:
            return parts[1]
    raise AssertionError(f"report has no line '{name} <value> {unit}'")


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        wl = w["name"]
        report, res = run(wl, 0)
        assert res["correct"] and res["failed"] == 0, res
        check_metrics(res, spec["end_to_end"])
        for name, unit in REPORTED[wl]:
            report_value(report, name, unit)
        print(f"{wl}: untraced ok, {res['attempted']} ops", flush=True)

        report, res = run(wl, 1)
        assert res["correct"] and res["failed"] == 0, res
        check_metrics(res, spec["per_layer"])
        spans_line = next(l for l in report if l.split()[0] == "spans")
        spans = json.loads((ROOT / spans_line.split()[1]).read_text())
        ops = [s for s in spans["spans"] if s["parent"] != 0 and "traced" in s]
        cold = min(ops, key=lambda s: s["start"])
        if wl == "crawl":
            assert 0.95 <= cold["steps_cover"] <= 1.05, cold
        print(f"{wl}: traced ok, {len(spans['spans'])} spans", flush=True)

        report, res = run(wl, 0, inject=True)
        assert not res["correct"] and res["failed"] >= 1, res
        assert res["attempted"] > res["failed"], res
        report_value(report, "fail_ratio", "ratio")
        print(f"{wl}: injected failure counted "
              f"({res['failed']} failed of {res['attempted']})", flush=True)
    print("smoke ok")


if __name__ == "__main__":
    main()
