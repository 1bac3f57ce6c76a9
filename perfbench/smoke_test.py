#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny size, untraced and
traced. Asserts that the output checks pass and that every named metric
prints with its unit. Run from the root of a checkout:

  python3 perfbench/smoke_test.py
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)

# workload-specific names the report prints next to the shared metrics
NAMED = {
    "iot_warehouse": ["queries_per_s", "query_p50_s", "query_p90_s", "etl_rows_per_s", "ops_failed_frac"],
    "curation_session": ["queries_per_s", "query_p50_s", "query_p90_s", "cold_pass_s", "warm_pass_s",
                         "first_pass_s", "build_passes_s", "ops_failed_frac"],
    "stream_ingest": ["event_latency_p50_s", "event_latency_p99_s", "drain_events_per_s",
                      "gen.late_ms_p99", "ops_failed_frac"],
}
TRACE_LAYERS = {
    "iot_warehouse": ["warehouse.build_s", "warehouse.artifact_build_s", "batch.run_s", "batch.output_mb"],
    "curation_session": ["warehouse.build_s", "warehouse.artifact_builds", "warehouse.cache_resident_mb"],
    "stream_ingest": ["streaming.start_s", "streaming.raw.trigger_ms_p99", "streaming.agg.state_rows",
                      "streaming.backlog_files"],
}


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def main():
    failures = []
    for w in [x["name"] for x in CONTRACT["workloads"]]:
        for trace, spec in ((0, CONTRACT["end_to_end"]), (1, CONTRACT["per_layer"])):
            try:
                res, report = run(w, trace)
                assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
                assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
                for m in spec:
                    got = res["metrics"][m["name"]]
                    assert got["unit"] == m["unit"], (m, got)
                    assert isinstance(got["value"], (int, float)), got
                    assert re.search(rf"{w} {re.escape(m['name'])} = \S+ {re.escape(m['unit'])}$",
                                     report, re.M), m["name"]
                assert set(res["metrics"]) == {m["name"] for m in spec}, res["metrics"].keys()
                names = NAMED[w] + (TRACE_LAYERS[w] if trace else [])
                for n in names:
                    assert re.search(rf"{w} {re.escape(n)} = \S+", report), f"{n} not reported"
                if trace:
                    assert re.search(rf"{w} self \S+ = \S+ s$", report, re.M), "no self times"
                print(f"ok   {w} trace={trace}")
            except AssertionError as e:
                failures.append(f"{w} trace={trace}: {e}")
                print(f"FAIL {w} trace={trace}: {e}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
