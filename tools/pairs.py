#!/usr/bin/env python3
"""Alternating benchmark pairs between a parent checkout and this tree.

    python3 tools/pairs.py --parent /path/to/parent --workload lake_write \\
        --pairs 10 --seed 101 [--workload lake_serve] [--json pairs.json]

Run from the repository root. Pair i runs graftbench (`graftbench/run.py`,
untraced) once in the parent checkout and once in this tree on seed
`seed + i`; even pairs run the parent first, odd pairs the change first,
so a drift in host load does not favour one side. Both sides run the
benchmark code of their own checkout, which must be the same.

For each pair it prints both sides' end-to-end metrics, the tail
percentile and its sample count, host steal and the failed ops. At the end,
for each workload and end-to-end metric of BENCHMARK.json: each side's
median and quartiles, how many pairs the change won (ties count for
neither side), the change of the median against the metric's bound, and
the gain verdict: the change wins at least nine tenths of the pairs and
the medians differ, in the better direction, by more than the distance
between the parent's quartiles.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_run(tree, workload, seed):
    """One untraced benchmark run in `tree`: its run summary and final line."""
    p = subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload,
                        "--seed", str(seed)], cwd=tree, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"benchmark run failed in {tree} (seed {seed}):\n{p.stderr[-3000:]}")
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    summary = next(x["run"] for x in lines if "run" in x)
    return summary, lines[-1]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def side_line(name, summary, final):
    m = {k: v["value"] for k, v in final["metrics"].items()}
    tail = summary["tail"]
    return (f"  {name:6s} " + " ".join(f"{k}={v:.4g}" for k, v in m.items()) +
            f" tail=p{tail['percentile']}/{tail['n']}"
            f" steal={summary['host']['host.steal_pct']:.1f}%"
            f" failed={final['failed']}/{final['attempted']} correct={final['correct']}")


def verdicts(workload, pairs, metrics):
    print(f"== {workload}: {len(pairs)} pairs")
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum((c < q) if lower else (c > q) for q, c in zip(par, chg))
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        gap = (pm - cm) if lower else (cm - pm)
        rel = (cm - pm) / pm if pm else 0.0
        worse = rel if lower else -rel
        gain = wins >= 0.9 * len(pairs) and gap > p3 - p1
        out[name] = dict(parent=par, change=chg, wins=wins, parent_median=pm, change_median=cm,
                         parent_iqr=[p1, p3], change_iqr=[c1, c3], rel=rel, gain=gain,
                         within_bound=worse <= m["bound"])
        print(f"  {name:20s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} [{c1:.4g}, {c3:.4g}]"
              f"  {rel:+.1%} (bound {m['bound']:.2f}: {'ok' if worse <= m['bound'] else 'WORSE'})"
              f"  wins {wins}/{len(pairs)}  gain {'MET' if gain else 'not met'}"
              f" (gap {gap:.4g} vs parent IQR {p3 - p1:.4g})")
    failed = sum(p[s]["failed"] for p in pairs for s in ("parent", "change"))
    print(f"  failed ops over all runs: {failed}")
    return out


def main():
    a = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    a.add_argument("--parent", required=True, help="a checkout of the parent commit")
    a.add_argument("--workload", action="append", required=True)
    a.add_argument("--pairs", type=int, default=10)
    a.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    a.add_argument("--json", help="also write every run and verdict to this file")
    args = a.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    trees = {"parent": os.path.abspath(args.parent), "change": ROOT}
    report = {}
    for w in args.workload:
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            print(f"pair {i + 1}/{args.pairs} {w} seed {seed}, {order[0]} first", flush=True)
            for side in order:
                summary, final = bench_run(trees[side], w, seed)
                pair[side] = dict(final, tail=summary["tail"], host=summary["host"],
                                  rounds=summary["rounds"], suspect=summary["suspect"])
                print(side_line(side, summary, final), flush=True)
            pairs.append(pair)
        report[w] = dict(pairs=pairs, verdicts=verdicts(w, pairs, metrics))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
