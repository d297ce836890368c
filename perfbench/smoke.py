#!/usr/bin/env python3
"""Self-test of the benchmark, about three minutes on 4 cores.

    python3 perfbench/smoke.py

Runs ``run.py --smoke`` (sf0.001 tables, a tiny corpus) and asserts that

* every metric ``BENCHMARK.json`` names is printed, with its unit, both as
  a ``name = value unit`` line and in the final JSON object: the end-to-end
  metrics untraced, the per-layer metrics traced on every workload;
* every output matched, so ``failed`` is 0 and the exit code is 0;
* a deliberately corrupted expected result, for a query item and for a
  MapReduce job, raises ``failed`` above 0, sets ``correct`` to false and
  makes the exit code nonzero: the check bites.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seed", "3",
           "--seconds", "1", *args]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{' '.join(args)}: no output (exit {res.returncode})")
    return res.returncode, json.loads(lines[-1]), lines[:-1]


def expect_metrics(args, declared):
    rc, result, text = bench(*args)
    assert rc == 0 and result["correct"] and result["failed"] == 0, \
        f"{args}: exit {rc}, {result['failed']} of {result['attempted']} failed:\n" + \
        "\n".join(text)
    assert set(result["metrics"]) == {m["name"] for m in declared}, \
        f"{args}: metrics {sorted(result['metrics'])} differ from BENCHMARK.json"
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{args}: {m['name']} unit {got['unit']}"
        assert any(t.startswith(f"perfbench: {m['name']} = ") and t.endswith(" " + m["unit"])
                   for t in text), f"{args}: no printed line for {m['name']}"
    print(f"ok   {' '.join(args)}: {len(declared)} metrics, "
          f"{result['attempted']} items checked")


def expect_failure(args):
    rc, result, _ = bench(*args)
    assert rc != 0 and not result["correct"] and result["failed"] > 0, \
        f"{args}: a corrupted expected result was not caught (exit {rc}, {result})"
    print(f"ok   {' '.join(args)}: exit {rc}, {result['failed']} of "
          f"{result['attempted']} items failed, as intended")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expect_metrics(["--workload", "mr_corpus", "--trace", "0"], spec["end_to_end"])
    for w in spec["workloads"]:
        expect_metrics(["--workload", w["name"], "--trace", "1"], spec["per_layer"])
    expect_failure(["--workload", "sql_tpch", "--trace", "0", "--corrupt", "q6_forecast"])
    expect_failure(["--workload", "mr_corpus", "--trace", "0", "--corrupt", "wc"])
    print("smoke OK")


if __name__ == "__main__":
    main()
