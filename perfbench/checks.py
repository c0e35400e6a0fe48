"""Output checks, run outside the timed section.

- Batch queries: rows compared with the query's registered DuckDB
  oracle on the same generated inputs, the way ``tools/check_oracle.py``
  compares them (its ``canon``: cells normalised, floats at 6 decimals,
  columns ordered by name, rows as a sorted multiset).
  ``q_dedup_near``'s oracle is an all-pairs self-join (124 s for 2,000
  documents on 4 cores), so it is evaluated here in Python with the
  same definition and a lossless prefix filter.
- report_refresh: the last sink model compared with a pure-Python
  Counter over the generated clicks (Raport.py semantics).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from tools.check_oracle import canon

ORACLE_IN_PYTHON = ("q_dedup_near",)


def compare(name, scols, srows, dcols, drows) -> str | None:
    """None when the rows match, else a one-line reason."""
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        return f"{name}: columns {sorted(scols)} != oracle {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"{name}: {len(srows)} rows != oracle {len(drows)}"
    sc, dc = canon(srows, scols), canon(drows, dcols)
    if sc != dc:
        diff = next((a, b) for a, b in zip(sc, dc) if a != b)
        return f"{name}: value mismatch, first {diff}"
    return None


def oracle_connection(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect(config={"threads": 4})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def run_oracle(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def near_dup_oracle(texts: dict[int, str], t: float = 0.95):
    """q_dedup_near's oracle, evaluated directly: every doc pair with
    token-set Jaccard >= t (tokens = ``text.split(' ')``), jaccard
    rounded to 6 places, ``in_lsh`` = 1. Candidates share a token of
    their prefix under a global rare-first order; the prefix length
    |A| - ceil(t|A|) + 1 makes this lossless for Jaccard >= t."""
    sets = {d: set(s.split(" ")) for d, s in texts.items()}
    freq = Counter(w for s in sets.values() for w in s)
    index: dict[str, list[int]] = defaultdict(list)
    pairs = set()
    for d in sorted(sets):
        toks = sorted(sets[d], key=lambda w: (freq[w], w))
        plen = len(toks) - math.ceil(t * len(toks)) + 1
        for w in toks[:plen]:
            for other in index[w]:
                pairs.add((other, d))
            index[w].append(d)
    rows = []
    for a, b in sorted(pairs):
        inter = len(sets[a] & sets[b])
        j = inter / len(sets[a] | sets[b])
        if j >= t:
            rows.append((a, b, round(j, 6), 1))
    return ["doc_a", "doc_b", "jaccard", "in_lsh"], rows


def report_reference(users, click_tables) -> dict:
    """The report Raport.py would draw from these clicks: clicks per
    service (``home`` dropped) with shares, and per service the age /
    city / gender histograms with shares. Values are strings (age as
    text), a NULL gender stays None."""
    demo = {
        u: (None if a is None else str(a), c, g)
        for u, a, c, g in zip(
            users.column("user_id").to_pylist(),
            users.column("age").to_pylist(),
            users.column("city").to_pylist(),
            users.column("gender").to_pylist(),
        )
    }
    per_service: Counter = Counter()
    hist: dict[tuple[str, str], Counter] = defaultdict(Counter)
    for tbl in click_tables:
        for uid, svc in zip(
            tbl.column("user_id").to_pylist(), tbl.column("service").to_pylist()
        ):
            if svc == "home" or uid not in demo:
                continue
            per_service[svc] += 1
            for dim, val in zip(("age", "city", "gender"), demo[uid]):
                hist[(svc, dim)][val] += 1
    total = sum(per_service.values())
    services: dict[str, dict] = defaultdict(dict)
    for (svc, dim), cnt in hist.items():
        n = sum(cnt.values())
        services[svc][dim] = _by_value((v, c, c / n) for v, c in cnt.items())
    return {
        "overall": sorted((s, c, c / total) for s, c in per_service.items()),
        "services": {s: services[s] for s in sorted(services)},
    }


def _by_value(rows):
    return sorted(rows, key=lambda r: (r[0] is None, r[0] or ""))


def compare_report(model: dict, ref: dict) -> str | None:
    """None when the sink's model equals the reference report: the same
    counts exactly, shares within 1.5e-6 (the engine rounds half-up at 6
    places, Python's ``round`` rounds the binary value)."""
    overall = sorted((e["service"], e["clicks"], e["share"]) for e in model["overall"])
    if [(s, c) for s, c, _ in overall] != [(s, c) for s, c, _ in ref["overall"]]:
        return "report: clicks per service differ from the reference"
    if any(abs(a[2] - b[2]) > 1e-9 for a, b in zip(overall, ref["overall"])):
        return "report: service shares differ from the reference"
    got = {s["service"]: s["histograms"] for s in model["services"]}
    if sorted(got) != sorted(ref["services"]):
        return "report: the services with histograms differ from the reference"
    for svc, dims in ref["services"].items():
        if sorted(got[svc]) != sorted(dims):
            return f"report: {svc} has dimensions {sorted(got[svc])}"
        for dim, want in dims.items():
            have = _by_value(got[svc][dim])
            if [(v, c) for v, c, _ in have] != [(v, c) for v, c, _ in want]:
                return f"report: {svc} {dim} histogram counts differ from the reference"
            if any(abs(h[2] - w[2]) > 1.5e-6 for h, w in zip(have, want)):
                return f"report: {svc} {dim} histogram shares differ from the reference"
    return None
