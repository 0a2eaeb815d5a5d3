"""Seeded rating-drop generator for the graft benchmark.

Writes one FIDE-shaped zipped XML rating list (the reference's field names,
standard, rapid or blitz) with known injected rule violations. Everything
derives from the input variant, so the same variant always gives
byte-identical drops. The tables the queries read are not generated: they
are the project's test tables, kept under graftbench/data.
"""
import json
import os
import zipfile

import numpy as np

FEDERATIONS = ["USA", "GER", "FRA", "ESP", "IND", "CHN", "RUS", "NED", "ENG", "NOR",
               "POL", "HUN", "ITA", "ARM", "UKR", "SWE"]
TITLES = ["", "", "", "", "", "FM", "IM", "GM", "CM", "WGM", "WIM"]
FORMATS = ["standard", "rapid", "blitz"]


def drop(rng, out, fmt, year, month, n):
    """One month's zipped XML rating list for one format. Returns the
    rule-violation counts the validation report must show."""
    ids = 10_000_000 + rng.choice(5_000_000, n, replace=False)
    birth = rng.integers(1940, 2015, n).astype(object)
    rating = rng.integers(1000, 2850, n).astype(object)
    fed = np.array([FEDERATIONS[i] for i in rng.integers(0, len(FEDERATIONS), n)], dtype=object)
    picks = rng.permutation(n)
    k = max(1, n // 100)
    unknown_birth, bad_birth, no_rating, bad_fed, dup = (picks[i * k:(i + 1) * k] for i in range(5))
    birth[unknown_birth] = 0                   # FIDE's "unknown": nulled, not a violation
    birth[bad_birth] = 1850
    rating[no_rating] = ""
    fed[bad_fed] = "U5A"
    ids[dup] = ids[picks[5 * k:6 * k]]         # each duplicated id appears twice
    rows = []
    for i in range(n):
        rows.append(
            f"<player><fideid>{ids[i]}</fideid><name>Player{i}, Test</name>"
            f"<country>{fed[i]}</country><sex>{'MF'[i % 2]}</sex>"
            f"<title>{TITLES[i % len(TITLES)]}</title><rating>{rating[i]}</rating>"
            f"<games>{i % 9}</games><k>{(10, 20, 40)[i % 3]}</k>"
            f"<birthday>{birth[i]}</birthday><flag></flag></player>")
    xml = "<playerslist>" + "\n".join(rows) + "</playerslist>"
    path = os.path.join(out, fmt, f"{year}-{month:02d}")
    os.makedirs(path, exist_ok=True)
    with zipfile.ZipFile(os.path.join(path, f"{fmt}_{month:02d}{year % 100}frl_xml.zip"), "w",
                         zipfile.ZIP_DEFLATED) as z:
        z.writestr(f"{fmt}_rating_list.xml", xml)
    return {"xml_bytes": len(xml.encode()), "rows": n,
            "violations": {"not_null:rating": k, "regex:fide_federation": k,
                           "range:birth_year": k, "unique:fide_id": 2 * k,
                           "range:period_month": 0}}


def generate(players, variant, out):
    """Write the rating drop of input variant `variant`, with `players`
    rows, under `out`; return its metadata. The variant also picks the
    drop's rating format and month."""
    rng = np.random.default_rng([variant, players])
    year, month, fmt = 2024, 1 + variant % 12, FORMATS[variant % len(FORMATS)]
    meta = {"period": [year, month], "format": fmt,
            **drop(rng, os.path.join(out, "drops"), fmt, year, month, players)}
    with open(os.path.join(out, "drops.json"), "w") as f:
        json.dump(meta, f)
    return meta
