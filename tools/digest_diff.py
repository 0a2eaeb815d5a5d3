#!/usr/bin/env python3
"""Compare two Bench sidecars' per-query output digests.

Usage: tools/digest_diff.py A B

A and B are Bench sidecars (BENCH_SIDECAR.json or a committed BENCH_r*.json):
three JSON lines, one of which is {"metric": "queries", ...} with a
(rows, hash) digest per query, or {"error": ...} for a query that threw.
Prints every query whose digest differs, that failed on either side, or
that only one side ran, and exits 1 if there is any such query; EXEMPT
excuses a digest difference only, never a failure. Two runs of the same
engine over the same data must agree.
"""
import json
import sys

# Queries whose digest may differ between runs of the same code, with why.
EXEMPT = {
    "q_percentiles_stored": "KLL sketches use randomized compaction, so the "
                            "stored percentiles differ between runs",
}


def digests(path):
    for line in open(path):
        if line.strip():
            d = json.loads(line)
            if d.get("metric") == "queries":
                return d["queries"]
    sys.exit(f"{path}: no \"queries\" line; is it a Bench sidecar?")


def main(a_path, b_path):
    a, b = digests(a_path), digests(b_path)
    problems = []  # (query, what differs, whether EXEMPT may excuse it)
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            problems.append((q, f"only in {a_path if q in a else b_path}", False))
        elif "error" in a[q] or "error" in b[q]:
            problems.append((q, f"failed: {a[q].get('error', 'ok')} | {b[q].get('error', 'ok')}", False))
        elif (a[q]["rows"], a[q]["hash"]) != (b[q]["rows"], b[q]["hash"]):
            problems.append((q, f"({a[q]['rows']}, {a[q]['hash']}) != ({b[q]['rows']}, {b[q]['hash']})",
                             q in EXEMPT))
    for q, why, exempt in problems:
        note = f"  [exempt: {EXEMPT[q]}]" if exempt else ""
        print(f"DIFF {q:32} {why}{note}")
    blocking = sum(1 for p in problems if not p[2])
    print(f"== {len(set(a) | set(b)) - len(problems)} equal, {len(problems)} differ "
          f"({blocking} not exempt)")
    return 1 if blocking else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
