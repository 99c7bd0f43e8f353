#!/usr/bin/env python3
"""Seeded input generators for the lakebench workloads.

Each generator writes the files graft reads and returns the records the
checks in check.py compute their answers from. The same seed gives the
same files. To regenerate a run's inputs:

    python3 lakebench/gen.py --workload catalog_query --seed 3 --seconds 10 --out inputs-dir
"""
import argparse
import json
import os
import random

CITIES = [("Mumbai", "MH"), ("Delhi", "DL"), ("Bengaluru", "KA"), ("Chennai", "TN"),
          ("Kolkata", "WB"), ("Hyderabad", "TS"), ("Pune", "MH"), ("Ahmedabad", "GJ"),
          ("Jaipur", "RJ"), ("Lucknow", "UP"), ("Kochi", "KL"), ("Indore", "MP")]
COUNTRY = "INDIA"  # the literal the reference's silver job adds
STATUSES = ["PLACED", "PACKED", "SHIPPED", "DELIVERED"]
SEGMENTS = ["consumer", "corporate", "home office", "small business"]

# medallion_ingest: documents per batch, and the planted faults in each
INGEST_SETUP_DOCS = 300
INGEST_BATCH_DOCS = 150
INGEST_RESENT = 15      # orders landed by an earlier batch, sent again with a new status
INGEST_MALFORMED = 5    # truncated JSON lines

# catalog_query: q_orders history = GROUPS x (SLICES appends + 1 merge-on-read delete)
CAT_GROUPS = 2
CAT_SLICES = 3
CAT_SLICE_ROWS = 300
CAT_DELETES = 30
CAT_CUSTOMERS = 300
CAT_TRAVEL = 6           # q_travel snapshots; a run reads each at most once (see README)
CAT_TRAVEL_ROWS = 10
CAT_ROUNDS = 40

# curate_admit
CUR_CORPUS = 200
CUR_BATCH = 60
CUR_NEAR_DUPS = 6        # per batch: an earlier document with one token appended
CUR_SPANISH = 3
CUR_LOW_QUALITY = 3
CUR_DOC_TOKENS = 120

STOP_EN = ["the", "and", "of", "to", "a", "in", "is", "you", "that", "it"]
STOP_ES = ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"]
STOP_ALL = set(STOP_EN) | set(STOP_ES) | {
    "le", "et", "les", "des", "du", "une", "der", "die", "und", "den", "von", "zu",
    "das", "mit", "sich"}


def batches_for(seconds, per_second):
    """Batches to generate for a write path: more than a run lands, with
    room for the path to get several times faster."""
    return 10 + per_second * seconds


def decimal_str(c):
    return f"{c // 100}.{c % 100:02d}"


def _write_lines(path, lines):
    with open(path, "w") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


# ---------------------------------------------------------------- ingest

def gen_ingest(seed, out, seconds):
    rng = random.Random(f"ingest/{seed}")
    d = os.path.join(out, "ingest")
    os.makedirs(d, exist_ok=True)
    next_id = [1]
    landed = []  # valid docs landed so far, as dicts (for re-sends)

    def order():
        n = next_id[0]
        next_id[0] += 1
        items, cents = [], 0
        for _ in range(rng.randint(1, 4)):
            q, price = rng.randint(1, 5), rng.randint(199, 49999)
            items.append({"product_id": f"P{rng.randint(1, 5000):05d}",
                          "product_name": f"product {rng.randint(1, 5000)}",
                          "quantity": q, "unit_price": price / 100})
            cents += q * price
        city, state = rng.choice(CITIES)
        doc = {"order_id": f"O{n:08d}", "customer_id": f"C{rng.randint(1, 20000):05d}",
               "order_date": f"2026-{rng.randint(1, 9):02d}-{rng.randint(1, 28):02d}",
               "status": STATUSES[0], "items": items, "total_amount": cents / 100,
               "shipping_address": {"city": city, "state": state,
                                    "zip": str(rng.randint(110000, 859999))}}
        return doc, cents

    batches = []
    for b in range(batches_for(seconds, 5) + 1):
        new = [order() for _ in range(INGEST_SETUP_DOCS if b == 0 else INGEST_BATCH_DOCS)]
        resent = []
        if b > 0:
            for doc in rng.sample(landed, INGEST_RESENT):
                # PACKED -> SHIPPED -> DELIVERED -> PACKED ...
                doc["status"] = STATUSES[STATUSES.index(doc["status"]) % (len(STATUSES) - 1) + 1]
                resent.append(dict(doc))
        malformed = []
        if b > 0:
            for _ in range(INGEST_MALFORMED):
                text = json.dumps(order()[0])
                malformed.append(text[:rng.randint(1, len(text) - 2)])
        lines = [json.dumps(doc) for doc, _ in new] + [json.dumps(doc) for doc in resent] + malformed
        rng.shuffle(lines)
        path = os.path.join(d, f"batch-{b:05d}.json")
        _write_lines(path, lines)
        batches.append({
            "path": path,
            "new": [(doc["order_id"], cents, doc["shipping_address"]["city"]) for doc, cents in new],
            "status": {doc["order_id"]: doc["status"] for doc, _ in new}
            | {doc["order_id"]: doc["status"] for doc in resent},
            "malformed": len(malformed)})
        landed.extend(dict(doc) for doc, _ in new)
    return {"batches": batches}


# --------------------------------------------------------------- catalog

def gen_catalog(seed, out, seconds):
    rng = random.Random(f"catalog/{seed}")
    d = os.path.join(out, "catalog")
    os.makedirs(d, exist_ok=True)
    commits = []  # per q_orders snapshot: ("append", rows) | ("delete", ids)
    n = 0
    live = {}
    for g in range(CAT_GROUPS):
        rows = []
        for s in range(CAT_SLICES):
            slice_rows = []
            for _ in range(CAT_SLICE_ROWS):
                n += 1
                city, _ = rng.choice(CITIES)
                r = {"order_id": f"O{n:07d}", "customer_id": rng.randint(1, CAT_CUSTOMERS),
                     "city": city, "country": COUNTRY, "status": rng.choice(STATUSES),
                     "cents": rng.randint(100, 99999), "batch": g * CAT_SLICES + s}
                slice_rows.append(r)
                live[r["order_id"]] = r
            commits.append(("append", slice_rows))
            rows.extend(slice_rows)
        _write_lines(os.path.join(d, f"orders-{g}.json"), [json.dumps({
            "order_id": r["order_id"], "customer_id": r["customer_id"], "city": r["city"],
            "country": r["country"], "status": r["status"], "amount": decimal_str(r["cents"]),
            "batch": r["batch"]}) for r in rows])
        ids = sorted(rng.sample(sorted(live), CAT_DELETES))
        for i in ids:
            del live[i]
        commits.append(("delete", set(ids)))
        _write_lines(os.path.join(d, f"deletes-{g}.txt"), ids)
    customers = {c: rng.choice(SEGMENTS) for c in range(1, CAT_CUSTOMERS + 1)}
    _write_lines(os.path.join(d, "customers.json"),
                 [json.dumps({"customer_id": c, "segment": s}) for c, s in customers.items()])
    travel = []
    for s in range(CAT_TRAVEL):
        for _ in range(CAT_TRAVEL_ROWS):
            travel.append({"k": len(travel) + 1, "v": rng.randint(1, 1000), "batch": s})
    _write_lines(os.path.join(d, "travel.json"), [json.dumps(r) for r in travel])

    def orders_at(snap):
        state = {}
        for kind, x in commits[:snap]:
            if kind == "append":
                state.update((r["order_id"], r) for r in x)
            else:
                for i in x:
                    state.pop(i, None)
        return state

    current = orders_at(len(commits))
    all_ids = sorted(r["order_id"] for kind, x in commits if kind == "append" for r in x)
    rotation = rng.sample(range(1, CAT_TRAVEL + 1), CAT_TRAVEL)
    statements, expect = [], {}
    names = {"view": ("q_orders", "q_customers"), "dsv2": ("lakecat.q_orders", "lakecat.q_customers")}
    for rnd in range(CAT_ROUNDS):
        limit = rng.randint(5, 25)
        oid = rng.choice(all_ids)
        status = rng.choice(STATUSES)
        snap = rng.randint(1, len(commits))
        stmts = []
        for path, (t, c) in names.items():
            stmts += [
                (path, "limit", f"SELECT order_id, amount FROM {t} ORDER BY order_id LIMIT {limit}",
                 [[r["order_id"], decimal_str(r["cents"])]
                  for _, r in sorted(current.items())[:limit]]),
                (path, "point", "SELECT order_id, customer_id, city, status, amount "
                 f"FROM {t} WHERE order_id = '{oid}'",
                 [[r["order_id"], str(r["customer_id"]), r["city"], r["status"], decimal_str(r["cents"])]
                  for r in [current.get(oid)] if r]),
                (path, "agg", f"SELECT count(*) AS n, min(amount) AS lo, max(amount) AS hi FROM {t}",
                 [[str(len(current)), decimal_str(min(r["cents"] for r in current.values())),
                   decimal_str(max(r["cents"] for r in current.values()))]]),
                (path, "report", "SELECT city, country, sum(amount) AS revenue, count(*) AS orders "
                 f"FROM {t} GROUP BY city, country ORDER BY revenue DESC, city",
                 _report(current.values())),
                (path, "join", "SELECT c.segment, count(*) AS orders, sum(o.amount) AS revenue "
                 f"FROM {t} o JOIN {c} c ON o.customer_id = c.customer_id "
                 f"WHERE o.status = '{status}' GROUP BY c.segment ORDER BY c.segment",
                 _join(current.values(), customers, status)),
            ]
        stmts += [
            ("view", "show", "SHOW TABLES LIKE 'q_orders|q_customers'", {"q_orders", "q_customers"}),
            ("dsv2", "show", "SHOW TABLES IN lakecat", {"q_orders", "q_customers", "q_travel"}),
            ("view", "travel", f"SELECT count(*) AS n, sum(amount) AS total FROM q_orders VERSION AS OF {snap}",
             _count_sum(orders_at(snap).values())),
        ]
        ts = rotation[rnd % CAT_TRAVEL]
        stmts.append(("dsv2", "travel_cold",
                      f"SELECT count(*) AS n, sum(v) AS total FROM lakecat.q_travel VERSION AS OF {ts}",
                      [[str(ts * CAT_TRAVEL_ROWS), str(sum(r["v"] for r in travel if r["batch"] < ts))]]))
        # Fails today: the front end rewrites `q_orders VERSION AS OF 1` inside the
        # catalog-qualified name because q_orders is also registered in the session.
        stmts.append(("dsv2", "travel_fail", "SELECT count(*) AS n FROM lakecat.q_orders VERSION AS OF 1",
                      [[str(len(orders_at(1)))]]))
        rng.shuffle(stmts)
        for i, (path, kind, sql, rows) in enumerate(stmts):
            sid = f"r{rnd:03d}s{i:02d}"
            statements.append((sid, path, kind, sql))
            expect[sid] = {"path": path, "kind": kind, "rows": rows, "round": rnd}
    per_round = len(statements) // CAT_ROUNDS
    _write_lines(os.path.join(d, "statements.tsv"), ["\t".join(s) for s in statements])
    _write_lines(os.path.join(d, "plan.txt"), [
        f"groups={CAT_GROUPS}", f"slices={CAT_SLICES}", f"travel={CAT_TRAVEL}", f"per_round={per_round}"])
    data = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".json")]
    return {"expect": expect, "snapshots": len(commits), "data_files": data}


def _report(rows):
    acc = {}
    for r in rows:
        k = (r["city"], r["country"])
        cents, count = acc.get(k, (0, 0))
        acc[k] = (cents + r["cents"], count + 1)
    return [[city, country, decimal_str(c), str(n)]
            for (city, country), (c, n) in sorted(acc.items(), key=lambda kv: (-kv[1][0], kv[0][0]))]


def _join(rows, customers, status):
    acc = {}
    for r in rows:
        if r["status"] == status:
            seg = customers[r["customer_id"]]
            n, c = acc.get(seg, (0, 0))
            acc[seg] = (n + 1, c + r["cents"])
    return [[seg, str(n), decimal_str(c)] for seg, (n, c) in sorted(acc.items())]


def _count_sum(rows):
    rows = list(rows)
    return [[str(len(rows)), decimal_str(sum(r["cents"] for r in rows))]]


# ---------------------------------------------------------------- curate

def gen_curate(seed, out, seconds):
    rng = random.Random(f"curate/{seed}")
    d = os.path.join(out, "curate")
    os.makedirs(d, exist_ok=True)
    syll = ["ka", "lo", "mi", "ru", "ten", "zor", "vi", "pa", "shu", "ne", "gra", "bo", "tel", "fi",
            "dra", "qu", "sen", "mor", "xi", "wal"]
    vocab = set()
    while len(vocab) < 800:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 3)))
        if w not in STOP_ALL:
            vocab.add(w)
    vocab = sorted(vocab)

    def prose(stops, tokens):
        words = [rng.choice(stops) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(tokens)]
        out = []
        for i, w in enumerate(words):
            out.append(w + ("." if i % 15 == 14 else ""))
        return " ".join(out)

    def low_quality():
        return " ".join(rng.choice(STOP_EN) + "!!#" if rng.random() < 0.5 else rng.choice(vocab) + "?!"
                        for _ in range(12))

    texts = {}
    originals = []  # ids of long English documents, candidates to copy
    next_id = [1]

    def add(text, original):
        i = next_id[0]
        next_id[0] += 1
        texts[i] = text
        if original:
            originals.append(i)
        return i

    corpus = [add(prose(STOP_EN, CUR_DOC_TOKENS), True) for _ in range(CUR_CORPUS)]
    _write_lines(os.path.join(d, "corpus.json"),
                 [json.dumps({"doc_id": i, "text": texts[i]}) for i in corpus])
    batches = []
    for b in range(batches_for(seconds, 2)):
        kinds = (["en"] * (CUR_BATCH - CUR_NEAR_DUPS - CUR_SPANISH - CUR_LOW_QUALITY)
                 + ["dup"] * CUR_NEAR_DUPS + ["es"] * CUR_SPANISH + ["low"] * CUR_LOW_QUALITY)
        rng.shuffle(kinds)
        ids, planted = [], []
        for k in kinds:
            if k == "en":
                ids.append(add(prose(STOP_EN, CUR_DOC_TOKENS), True))
            elif k == "es":
                ids.append(add(prose(STOP_ES, CUR_DOC_TOKENS), False))
            elif k == "low":
                ids.append(add(low_quality(), False))
            else:
                src = rng.choice(originals)
                i = add(texts[src] + " " + rng.choice(vocab), False)
                ids.append(i)
                planted.append((src, i))
        path = os.path.join(d, f"batch-{b:05d}.json")
        _write_lines(path, [json.dumps({"doc_id": i, "text": texts[i]}) for i in ids])
        batches.append({"path": path, "ids": ids, "planted": planted})
    return {"texts": texts, "batches": batches, "corpus": os.path.join(d, "corpus.json")}


GENERATORS = {"medallion_ingest": gen_ingest, "catalog_query": gen_catalog, "curate_admit": gen_curate}


def generate(workload, seed, out, seconds):
    return GENERATORS[workload](seed, out, seconds)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.seconds)


if __name__ == "__main__":
    main()
