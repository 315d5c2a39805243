#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at a tiny size (about two minutes).

    python3 perfbench/smoke.py

Runs every workload untraced and traced on small inputs and asserts that
each run prints every metric BENCHMARK.json names, with its unit and a
finite value; that every workload prints its per-op named metrics with their
units; and that all output checks pass.
"""
import json
import math
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMED = {
    "record_morph": {"setup_s": "s", "ops_failed_ratio": "ratio", "morph_records_per_s": "1/s",
                     "morph_p50_us": "us", "morph_p99_us": "us",
                     "record_sql_p50_ms": "ms", "record_sql_p90_ms": "ms"},
    "table_read": {"setup_s": "s", "ops_failed_ratio": "ratio",
                   "full_scan_p50_ms": "ms", "full_scan_p90_ms": "ms",
                   "pruned_read_p50_ms": "ms", "pruned_read_p99_ms": "ms"},
    "table_write": {"setup_s": "s", "ops_failed_ratio": "ratio",
                    "append_p50_ms": "ms", "append_p90_ms": "ms",
                    "readback_p50_ms": "ms", "readback_p90_ms": "ms",
                    "bulk_load_rows_per_s": "1/s"},
}
LINE = re.compile(r"^# (\S+) (\S+)\s+(\S+) (\S+)\s+n=(\d+)$")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                                "--seed", "7", "--seconds", "3", "--trace", str(trace),
                                "--scale", "0.05", "--setup-reps", "1"],
                               cwd=ROOT, capture_output=True, text=True)
            tag = f"{name} trace={trace}"
            lines = p.stdout.splitlines()
            try:
                r = json.loads(lines[-1])
            except (IndexError, ValueError):
                problems.append(f"{tag}: no result line (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(r)}")
            if not r.get("correct") or r.get("failed") != 0 or r.get("attempted", 0) < 1:
                problems.append(f"{tag}: correct={r.get('correct')} failed={r.get('failed')} "
                                f"attempted={r.get('attempted')}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = r.get("metrics", {})
            if set(got) != set(want):
                problems.append(f"{tag}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            for m, unit in want.items():
                v = got.get(m, {})
                if v.get("unit") != unit or not isinstance(v.get("value"), (int, float)) \
                        or not math.isfinite(v["value"]):
                    problems.append(f"{tag}: {m} = {v}")
                elif key == "end_to_end" and v["value"] <= 0:
                    problems.append(f"{tag}: {m} is not positive: {v['value']}")
            named = {}
            for l in lines:
                mt = LINE.match(l)
                if mt and mt.group(1) == name:
                    named[mt.group(2)] = (float(mt.group(3)), mt.group(4))
            for m, unit in NAMED[name].items():
                if m not in named or named[m][1] != unit or not math.isfinite(named[m][0]):
                    problems.append(f"{tag}: named metric {m} [{unit}] printed as {named.get(m)}")
            print(f"{tag}: {len(got)} metrics, attempted={r.get('attempted')} failed={r.get('failed')}")
    if problems:
        print("\n".join(["SMOKE FAILED"] + problems))
        sys.exit(1)
    print("smoke ok")


if __name__ == "__main__":
    main()
