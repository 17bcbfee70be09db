#!/usr/bin/env python3
"""Self-test of the benchmark on the tiny `selftest` workload (sf0.001).

    python3 perfbench/selftest.py

Two runs, about a minute and a half in all. The untraced run must be
correct and emit every end-to-end metric of BENCHMARK.json with its unit.
The traced run must emit every per-layer metric with its unit; before its
check, the test drops a row from one key's output, and the run must then
count that key as failed, so that check.failed_frac rises above the clean
run's. The failure is injected here only, through run()'s test hook.
"""
import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

VICTIM = "b2_filter_complex"


def drop_a_row(run_dir, result):
    out = os.path.join(run_dir, "outputs", VICTIM)
    (name,) = [n for n in os.listdir(out) if n.endswith(".parquet")]
    table = pq.read_table(os.path.join(out, name))
    assert table.num_rows > 0, f"{VICTIM} has no rows to drop at sf0.001"
    pq.write_table(table.slice(1), os.path.join(out, name))


def assert_metrics(result, declared):
    emitted = {name: m["unit"] for name, m in result["metrics"].items()}
    expected = {m["name"]: m["unit"] for m in declared}
    assert emitted == expected, f"metrics {emitted} != declared {expected}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), f"{name} is not a number"


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    clean = run.run("selftest", seed=1, seconds=1, trace=0)
    assert clean["correct"] and clean["failed"] == 0, f"clean run failed: {clean}"
    assert clean["attempted"] >= 1
    assert_metrics(clean, bench["end_to_end"])

    broken = run.run("selftest", seed=1, seconds=1, trace=1, before_check=drop_a_row)
    assert_metrics(broken, bench["per_layer"])
    assert not broken["correct"], "a wrong output passed the check"
    frac = broken["metrics"]["check.failed_frac"]["value"]
    assert broken["failed"] > 0 and frac > clean["failed"] / clean["attempted"], \
        f"injected failure did not raise failed_frac: {broken}"
    print(f"selftest ok: {len(bench['end_to_end'])} end-to-end and "
          f"{len(bench['per_layer'])} per-layer metrics emitted; injected failure "
          f"raised failed_frac from 0 to {frac:.3f}")


if __name__ == "__main__":
    main()
