"""Records the expected digests of one workload's ops for one input variant.

    python3 graftbench/run.py --record --workload lake_serve [--variant 0]

A record run executes every op once and keeps its full output. Before a
digest is stored, each output that has an independent oracle is checked
against it, and the record is refused on any difference:
  * queries with DuckDB oracle SQL in graft.SparkEntry.oracleSql are
    re-computed by DuckDB over the same tables;
  * ingest validation reports must show exactly the violations the
    generator injected into each drop;
  * missing_periods must list every month of the year but the ingested one.
Ops without an oracle (the approximate dedup and ANN operators, the
leaderboard) are stored as the program produced them, so a later change to
their output is reported as a mismatch and must be reviewed.
"""
import json
import math
import os

import duckdb

import run as bench

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def rows(con, sql):
    r = con.sql(sql)
    return list(r.columns), r.fetchall()


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b or str(a) == str(b)


def canon(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = lambda r: tuple((v is None, str(v)) for v in r)
    return [cols[i] for i in order], sorted((tuple(r[i] for i in order) for r in data), key=key)


def check(result, run_dir, tables):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(run_dir, "in", "drops.json")) as f:
        drops = json.load(f)
    out = os.path.join(run_dir, "out")
    problems, checked = [], []

    def spark(op):
        return rows(con, f"SELECT * FROM read_parquet('{out}/{op}/*.parquet')")

    for op, sql in sorted(result.get("oracle_sql", {}).items()):
        sc, sd = canon(*spark(op))
        dc, dd = canon(*rows(con, sql))
        if sc != dc:
            problems.append(f"{op}: columns {sc} != oracle {dc}")
        elif len(sd) != len(dd):
            problems.append(f"{op}: {len(sd)} rows != oracle {len(dd)}")
        else:
            bad = [(x, y) for x, y in zip(sd, dd) if not same(list(x), list(y))]
            if bad:
                problems.append(f"{op}: {len(bad)} rows differ, e.g. {bad[0]}")
        checked.append(op)
    for op in ("ingest", "backfill_overwrite"):
        if op not in result["ops"]:
            continue
        _, data = spark(op)
        got = {f"{d[1]}:{d[2]}": d[3] for d in data}
        if got != drops["violations"]:
            problems.append(f"{op}: report {got} != injected {drops['violations']}")
        checked.append(op)
    if "missing_periods" in result["ops"]:
        year, month = drops["period"]
        _, data = spark("missing_periods")
        want = [(year, m) for m in range(1, 13) if m != month]
        if sorted(tuple(d) for d in data) != want:
            problems.append(f"missing_periods: {sorted(data)} != {want}")
        checked.append("missing_periods")
    result["oracle_checked"] = checked
    result["oracle_problems"] = problems


def main(workload, variant, profile=None):
    for w in [workload] if workload else bench.WORKLOADS:
        key = bench.key(w, profile or w)
        p = bench.PROFILES[profile or w]
        tables = os.path.join(bench.HERE, "data", p["tables"])
        for v in [variant] if variant is not None else range(p["variants"]):
            r = bench.run(w, v, 1, 0, profile=profile, variant=v,
                          record=lambda res, run_dir: check(res, run_dir, tables))
            if r["failed"] or r["oracle_problems"]:
                raise SystemExit(f"{key} variant {v}: not recorded: failures {r['failures']} "
                                 f"oracle {r['oracle_problems']}")
            with open(bench.EXPECTED) as f:
                expected = json.load(f)
            expected.setdefault(key, {})[str(v)] = r["digests"]
            with open(bench.EXPECTED, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
            print(f"{key} variant {v}: {len(r['digests'])} digests, "
                  f"oracle-checked {', '.join(r['oracle_checked']) or 'none'}; cold ms " +
                  ", ".join(f"{k}={o['cold_ms']:.0f}" for k, o in r["ops"].items()))
