#!/usr/bin/env python3
"""Build BENCH_r{N}_scale.json from two Bench sidecars (sf0.1 and sf1
legs of the scaling decade): per-query min-over-trials growth ratios,
suite growth, and the quiet/contamination stamps of both legs."""
import json, statistics, sys

sf01_sidecar, sf1_sidecar, out, notes = sys.argv[1], sys.argv[2], sys.argv[3], \
    (sys.argv[4] if len(sys.argv) > 4 else "")

def load(path):
    lines = [json.loads(l) for l in open(path) if l.strip()]
    detail = next(l for l in lines if l.get("metric") == "detail")
    return detail

a, b = load(sf01_sidecar), load(sf1_sidecar)
# A failed query has no time, so a leg with failures is not comparable:
# refuse it, and refuse two legs that disagree on which queries failed.
# (Sidecars from before the failure accounting carry neither field.)
fa, fb = set(a.get("failed", {})), set(b.get("failed", {}))
if fa != fb:
    sys.exit(f"refused: the legs disagree on which queries failed: only in "
             f"{sf01_sidecar}: {sorted(fa - fb)}; only in {sf1_sidecar}: {sorted(fb - fa)}")
for path, d in ((sf01_sidecar, a), (sf1_sidecar, b)):
    if d.get("correct") is False:
        sys.exit(f"refused: {path} reads \"correct\": false "
                 f"(failed: {d.get('failed', {})})")
qa, qb = a["queries_min"], b["queries_min"]
common = sorted(set(qa) & set(qb))
growth = {q: round(qb[q] / max(qa[q], 1e-9), 2) for q in common}
tot_a = sum(qa[q] for q in common)
tot_b = sum(qb[q] for q in common)

def stamp(d):
    return {"total_min_sec": round(sum(d["queries_min"][q] for q in common), 3),
            "loadavg_pre": d["loadavg_pre"],
            "max_competing_cores": d["max_competing_cores"],
            "quiet_load_bound": d["quiet_load_bound"],
            "contaminated": d["contaminated"]}

import os
# SCALE_WHAT overrides the decade description (the second decade
# sf1 -> sf10 reuses this builder over a query subset).
what = os.environ.get("SCALE_WHAT", "").strip()
art = {
    "what": (what % len(common) if "%d" in what else what) if what else (
             "Scaling decade sf0.1 -> sf1 over the FULL %d-query surface: "
             "sf1 = deterministic 10x replication of the driver's sf0.1 "
             "testdata via graft.ScaleUp (id strides preserve every modulus "
             "selection; documents get per-replica zzr<r>zz token "
             "namespaces; embeddings get orthogonal dimension rotations)."
             % len(common)),
    "machine": "local[32], 128 GiB (per-query min over interleaved trials = warm serve)",
    "suite_growth_for_10x_data": round(tot_b / tot_a, 2),
    "median_per_query_growth": round(statistics.median(growth.values()), 2),
    "per_query_growth_min_over_trials": growth,
    "per_query_min_sec_" + os.environ.get("SCALE_LEG_A", "sf01"):
        {q: round(qa[q], 3) for q in common},
    "per_query_min_sec_" + os.environ.get("SCALE_LEG_B", "sf1"):
        {q: round(qb[q], 3) for q in common},
    os.environ.get("SCALE_LEG_A", "sf01"): stamp(a),
    os.environ.get("SCALE_LEG_B", "sf1"): stamp(b),
    # Flat growth that is a DOMAIN CONTRACT, not engine scaling: readers
    # of the suite-growth figure must not credit these to the engine.
    "bounded_anchor_queries": {
        "dedup_embedding": (
            "exact all-pairs anchor over the FIXED vec_id < 2000 slice "
            "(the whole corpus at gate SFs, a constant-size slice of any "
            "larger lake) - its flat cost is the anchor's bounded-domain "
            "contract; the engine-scaling twins are dedup_embedding_lsh "
            "and dedup_semantic"),
        "text_fuzzy_pairs": (
            "diagnostic PAIR CENSUS whose output grows quadratically in "
            "duplicate density by problem statement; the linear "
            "production path is text_fuzzy_survivors"),
    },
    "notes": notes,
}
json.dump(art, open(out, "w"), indent=1, sort_keys=True)
print(f"wrote {out}: {len(common)} queries, suite growth "
      f"{art['suite_growth_for_10x_data']}x, median {art['median_per_query_growth']}x")
top = sorted(growth.items(), key=lambda kv: -kv[1])[:12]
for q, g in top:
    print(f"  {q:32} {g:6.2f}x  sf1 {qb[q]:.3f}s")
