"""Correctness checks for the lakebench workloads.

Every expected answer is computed here, from the generator's own
records, never from graft. Each check returns a list of problems; an
empty list means the run's outputs are correct.
"""
import re

from gen import decimal_str

TAU = 0.5
KNOWN_FAILING = "travel_fail"


def check_ingest(rec, data):
    errs = []
    landed = data["batches"]
    if landed != list(range(len(landed))):
        return [f"batches landed out of order: {landed}"]
    batches = [rec["batches"][b] for b in landed]
    for b, (got, want) in enumerate(zip(data["quarantined"], (x["malformed"] for x in batches))):
        if got != want:
            errs.append(f"batch {b}: {got} rows quarantined, {want} malformed lines planted")
    gold, status = {}, {}
    for x in batches:
        for oid, cents, city in x["new"]:
            c, n = gold.get(city, (0, 0))
            gold[city] = (c + cents, n + 1)
        status.update(x["status"])
    want_gold = sorted([city, "INDIA", decimal_str(c), str(n)] for city, (c, n) in gold.items())
    if sorted(data["gold"]) != want_gold:
        errs.append(f"gold report differs: got {sorted(data['gold'])}, want {want_gold}")
    bronze = data["bronze"]
    ids = [r[0] for r in bronze]
    if len(ids) != len(set(ids)) or set(ids) != set(status):
        errs.append(f"bronze holds {len(ids)} rows / {len(set(ids))} ids, want {len(status)} distinct ids")
    wrong = [r for r in bronze if status.get(r[0]) != r[1]]
    if wrong:
        errs.append(f"{len(wrong)} bronze orders do not show their last status, e.g. {wrong[:3]}")
    return errs


def check_catalog(rec, data):
    errs = []
    expect = rec["expect"]
    seen = {}
    for s in data["statements"]:
        e = expect[s["id"]]
        if "err" in s:
            if e["kind"] != KNOWN_FAILING:
                errs.append(f"{s['id']} ({e['path']} {e['kind']}) failed: {s['err']}")
            continue
        rows = s["rows"]
        if e["kind"] == "show":
            ok = {r[1] for r in rows} == e["rows"] and len(rows) == len(e["rows"])
        else:
            ok = rows == e["rows"]
        if not ok:
            errs.append(f"{s['id']} ({e['path']} {e['kind']}): got {rows[:5]}, want {list(e['rows'])[:5]}")
        seen[(e["round"], e["kind"], e["path"])] = rows
    for (rnd, kind, path), rows in seen.items():
        if path == "view" and kind not in ("show", "travel"):
            other = seen.get((rnd, kind, "dsv2"))
            if other is not None and other != rows:
                errs.append(f"round {rnd} {kind}: the two read paths disagree")
    return errs


def _shingles(text):
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def check_curate(rec, data):
    errs = []
    texts = rec["texts"]
    admitted_total = 0
    for op in data["ops"]:
        b = rec["batches"][op["batch"]]
        ids = set(b["ids"])
        gated, admitted = op["gated"], op["admitted"]
        if sorted(gated) != sorted(ids):
            errs.append(f"batch {op['batch']}: gates scored {len(gated)} rows for {len(ids)} documents")
        dropped = ids - set(admitted)
        if not set(admitted) <= ids or len(admitted) + len(dropped) != len(ids):
            errs.append(f"batch {op['batch']}: admitted {len(admitted)} + dropped {len(dropped)} != {len(ids)}")
        admitted_total += len(admitted)
        pairs = {(a, c): j for a, c, j in op["pairs"]}
        for src, dup in b["planted"]:
            if (src, dup) not in pairs:
                errs.append(f"batch {op['batch']}: planted near-duplicate ({src}, {dup}) not reported")
            if dup in admitted:
                errs.append(f"batch {op['batch']}: near-duplicate {dup} admitted")
        for (a, c), j in pairs.items():
            if a not in ids and c not in ids:
                errs.append(f"batch {op['batch']}: pair ({a}, {c}) has no side in the batch")
            sa, sc = _shingles(texts[a]), _shingles(texts[c])
            want = len(sa & sc) / len(sa | sc) if sa | sc else 0.0
            if abs(round(want, 6) - j) > 1.5e-6 or j < TAU:
                errs.append(f"batch {op['batch']}: pair ({a}, {c}) reported {j}, recomputed {want:.6f}")
    if data["train_rows"] != admitted_total:
        errs.append(f"training table holds {data['train_rows']} rows, {admitted_total} admitted")
    return errs


CHECKS = {"medallion_ingest": check_ingest, "catalog_query": check_catalog, "curate_admit": check_curate}
