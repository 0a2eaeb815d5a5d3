"""Self-test of the benchmark itself, on tiny inputs.

    python3 graftbench/run.py --selftest

For every workload, one untraced and one traced run on the `tiny` input
profile (the sf 0.001 tables, one small drop) with two extra
ops that must fail: one throws, one returns a result whose digest cannot
match. It asserts that
  * every metric named in BENCHMARK.json is printed, with its unit, as a
    number;
  * every real op's digest matches its stored expected value;
  * each injected op is counted as failed on every execution, never
    enters a timing, and makes the run report correct=false.
Then one run with only two timed rounds, whose executions are too few for
any tail percentile: it must be refused, not reported.
Exits non-zero on the first check that fails.
"""
import json
import os

import run as bench

FAULTS = ("fault_throws", "fault_mismatch")


def check(workload, trace, spec):
    r = bench.run(workload, 0, 1, trace, profile="tiny", variant=0, faults=True)
    line = bench.final_line(r, trace)
    problems = []
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = line["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            problems.append(f"metric {m['name']}: {got}")
    if set(line["metrics"]) != {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}:
        problems.append(f"metric names {sorted(line['metrics'])}")
    real = [f for f in r["failures"] if f["op"] not in FAULTS]
    if real:
        problems.append(f"real ops failed: {real[:3]}")
    rounds = len(r["rounds"])
    for op in FAULTS:
        n = sum(1 for f in r["failures"] if f["op"] == op)
        if n != rounds:
            problems.append(f"{op}: {n} failures counted in {rounds} rounds")
        if r["ops"][op]["measured"] or r["ops"][op]["cold_ms"]:
            problems.append(f"{op} entered a timing: {r['ops'][op]}")
    if line["failed"] != 2 * rounds or line["correct"] or line["attempted"] != rounds * len(r["ops"]):
        problems.append(f"accounting: {({k: line[k] for k in ('correct', 'attempted', 'failed')})}")
    return problems


def main():
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in sorted(bench.WORKLOADS):
        for trace in (0, 1):
            problems = check(workload, trace, spec)
            print(f"{workload} trace={trace}: {'ok' if not problems else 'FAILED'}")
            if problems:
                raise SystemExit("\n".join(problems))
    r = bench.run("lake_serve", 0, 1, 0, profile="tiny", variant=0, timed_rounds=2)
    try:
        line = bench.final_line(r, 0)
    except SystemExit as e:
        print(f"two timed rounds: refused ({e})")
    else:
        raise SystemExit(f"two timed rounds gave a result: {line}")
    print("selftest passed")
