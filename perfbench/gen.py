"""Seeded input generator for the benchmark.

Writes, under one directory:

* the corpus tables every registry query reads (`region nation customer
  supplier part orders lineitem events documents embeddings`, one parquet
  file each) in the column layout of the engine's test corpus, scaled by
  `sf` (sf 0.01 = 1,500 customers, 15,000 orders, 60,000 lineitems);
* for `daily_etl` only, the bronze snapshot files the daily cycle parses
  (squad / injury / FBref match HTML pages, REST squad JSON), the player
  master table the parsed squads are resolved against, and
  `expected.json` with every count and total the run checks.

Squad rows are seeded into four classes whose entity-resolution outcome
is known before the engine runs: exact master names and one-letter typos
(auto-matched), heavier typos (review) and unseen names (create), plus
rows without a market value that validation quarantines. Each drawn name
is checked against its whole nation block with a replica of the engine's
fuzzy ratio and redrawn until it lands in its class, so the expected
counts are the seeded counts.

The same seed always gives byte-identical inputs.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "en", "en", "zh", "de", "fr", "es", "de", "fr", "es"]

DAY_US = 86_400_000_000
EPOCH_1995 = 9131 * DAY_US  # 1995-01-01
EPOCH_2024 = 19723 * DAY_US  # 2024-01-01


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def corpus(rng, out, sf):
    """The ten corpus tables at scale factor `sf`."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(10, int(15_000 * sf)), int(50_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, NATIONS, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, NATIONS, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    days = 2404  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, days, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, days + 95, n_li) * DAY_US)})
    # 30 days of events, strictly increasing timestamps
    gaps = rng.integers(1, 2 * (30 * DAY_US // n_ev), n_ev)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word salad; one in twenty is an earlier document
    # with a two-word suffix (the near-duplicates the dedup queries find)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec = max(100, n_docs)
    centers = rng.normal(0, 0.2, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_vec, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return {"customers": n_cust, "orders": n_ord, "lineitems": n_li}


# ---- daily_etl bronze ------------------------------------------------

FIRST = ("Adam Bruno Carlo Dario Emil Fabio Goran Hugo Ivan Jonas Karel Luca "
         "Marco Nils Oscar Pavel Rafael Stefan Tomas Viktor").split()
LAST = ("Albers Brandt Castillo Dominguez Eriksen Ferreira Gundersen "
        "Hoffmann Ibarra Jankowski Kowalczyk Lindqvist Moreira Novak "
        "Oliveira Petrovic Quintero Rasmussen Schneider Tanaka Urbanski "
        "Valverde Weinberg Yamamoto Zielinski").split()
# unseen names share no spelling pattern with the master lists
NEW_FIRST = "Xu Qi Yi Oz Ek Ul Ay Iq Ro Zu".split()
NEW_LAST = "Phthx Quyyz Wrrgk Xyvvb Jjzqp Kkxwy Zzqvt Vvjxh".split()
POSITIONS = ["GK", "CB", "LB", "RB", "DM", "CM", "AM", "LW", "RW", "ST"]


def _indel(a, b):
    """Edit distance with substitution cost 2 (the engine's ratio core)."""
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        ca = a[i - 1]
        for j in range(1, len(b) + 1):
            cur[j] = min(cur[j - 1] + 1, prev[j] + 1,
                         prev[j - 1] + (0 if ca == b[j - 1] else 2))
        prev = cur
    return prev[-1]


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        for j in range(1, len(b) + 1):
            cur[j] = min(cur[j - 1] + 1, prev[j] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[-1]


def fuzzy_ratio(a, b):
    """Replica of graft.functions.Normalize.ratio on normalized names."""
    a, b = a.lower(), b.lower()
    n = len(a) + len(b)
    return int(round(100.0 * (n - _indel(a, b)) / n)) if n else 100


def approx_ratio(a, b):
    """Replica of Normalize.fuzzyRatioApprox (the resolve pre-filter)."""
    a, b = a.lower(), b.lower()
    m = max(len(a), len(b))
    return int(math.floor(100.0 * (1.0 - _lev(a, b) / m) + 0.5))


def _typo(rng, name, edits):
    """Replace `edits` distinct letters of the surname with other letters."""
    chars = list(name)
    first_len = name.index(" ") + 1
    pos = rng.choice(np.arange(first_len + 1, len(chars)), edits, replace=False)
    for p in pos:
        chars[p] = "xkqzvw"[(ord(chars[p]) + int(rng.integers(1, 6))) % 6]
    return "".join(chars)


def _best(name, block):
    """(score, entity id) of the best master candidate that survives the
    approx pre-filter, or None: the engine's per-row resolve outcome."""
    best = None
    for eid, mname in block:
        if approx_ratio(name, mname) < 60:
            continue
        s = fuzzy_ratio(name, mname)
        if s >= 75 and (best is None or (s, -eid) > (best[0], -best[1])):
            best = (s, eid)
    return best


def _html_table(header, rows):
    cells = "".join(f"<th>{h}</th>" for h in header)
    body = "\n".join("<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>"
                     for r in rows)
    return f"<html><body><table class=\"items\">\n<tr>{cells}</tr>\n{body}\n</table></body></html>\n"


def bronze(rng, out, squad_pages, squad_rows, match_pages):
    """Bronze snapshot files + master table + expected counts."""
    b = os.path.join(out, "bronze")
    for sub in ("squad", "injuries", "fbref", "rest"):
        os.makedirs(os.path.join(b, sub))

    # master: distinct names per nation block
    master, blocks = [], {}
    eid = 0
    for nat in range(NATIONS):
        names = set()
        while len(names) < 24:
            names.add(f"{rng.choice(FIRST)} {rng.choice(LAST)}")
        for nm in sorted(names):
            master.append((eid, nm, f"NATION_{nat}"))
            blocks.setdefault(f"NATION_{nat}", []).append((eid, nm))
            eid += 1
    _write(out, "master", {
        "id": np.array([m[0] for m in master], dtype=np.int64),
        "name": [m[1] for m in master],
        "country": [m[2] for m in master]})

    # staged squad rows by class
    n = squad_pages * squad_rows
    classes = rng.choice(["exact", "typo", "review", "create", "invalid"], n,
                         p=[0.45, 0.2, 0.15, 0.12, 0.08])
    used, rows = set(), []
    counts = {c: 0 for c in ("exact", "typo", "review", "create", "invalid")}
    gold = 0.0
    for cls in classes:
        while True:
            country = f"NATION_{int(rng.integers(0, NATIONS))}"
            block = blocks[country]
            oid, oname = block[int(rng.integers(0, len(block)))]
            if cls == "exact":
                name = oname
            elif cls == "typo":
                name = _typo(rng, oname, 1)
            elif cls == "review":
                name = _typo(rng, oname, 3)
            else:
                name = f"{rng.choice(NEW_FIRST)} {rng.choice(NEW_LAST)}{int(rng.integers(10, 99))}"
            if name in used:
                continue
            best = _best(name, block)
            if cls in ("exact", "typo"):
                ok = best is not None and best[0] >= 90 and best[1] == oid and oid not in used
            elif cls == "review":
                ok = best is not None and 75 <= best[0] < 90
            elif cls == "create":
                ok = best is None
            else:
                ok = True
            if ok:
                break
        used.add(name)
        if cls in ("exact", "typo"):
            used.add(oid)
        value = int(rng.integers(1, 400)) * 0.25  # € millions, exact in binary
        if cls in ("exact", "typo"):
            gold += value * 1e6
        counts[cls] += 1
        rows.append((name, country, value, cls))
    for p in range(squad_pages):
        page = []
        for i, (name, country, value, cls) in enumerate(rows[p * squad_rows:(p + 1) * squad_rows]):
            mv = "-" if cls == "invalid" else f"€{value:.2f}m"
            born = f"{int(rng.integers(1, 28)):02d}.{int(rng.integers(1, 13)):02d}.{int(rng.integers(1985, 2006))}"
            page.append((i + 1, name, rng.choice(POSITIONS), born, country, mv))
        with open(os.path.join(b, "squad", f"page_{p:04d}.html"), "w") as f:
            f.write(_html_table(["#", "Player", "Pos", "Born", "Nat", "Value"], page))

    # injuries: one page per squad page
    n_inj = 0
    reasons = ["Hamstring injury", "Red card suspension", "Flu illness",
               "National team duty", "Knee surgery"]
    for p in range(squad_pages):
        page = []
        for i in range(int(rng.integers(5, 15))):
            name = rows[int(rng.integers(0, len(rows)))][0]
            page.append((name, rng.choice(reasons),
                         f"{int(rng.integers(1, 28)):02d}.0{int(rng.integers(1, 9))}.2024",
                         f"{int(rng.integers(1, 28)):02d}.0{int(rng.integers(1, 9))}.2025",
                         int(rng.integers(0, 20))))
        n_inj += len(page)
        with open(os.path.join(b, "injuries", f"page_{p:04d}.html"), "w") as f:
            f.write(_html_table(["Player", "Reason", "From", "Until", "Games"], page))

    # FBref match pages from the lineitem table: one page per order, one
    # player row per distinct part (player) of the order
    li = pq.read_table(os.path.join(out, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey", "l_quantity",
                                "l_linenumber", "l_discount"]).to_pydict()
    by_order = {}
    for o, pk, q, ln, d in zip(li["l_orderkey"], li["l_partkey"], li["l_quantity"],
                               li["l_linenumber"], li["l_discount"]):
        by_order.setdefault(o, {}).setdefault(pk, (int(q), ln, d))
    orders = sorted(by_order)[:match_pages]
    n_pm, minutes = 0, 0
    for o in orders:
        trs = []
        for pk, (q, ln, d) in sorted(by_order[o].items()):
            trs.append(
                f'<tr><th data-stat="player" data-append-csv="p{pk}"><a href="/en/players/p{pk}/">P {pk}</a></th>'
                f'<td data-stat="minutes">{q}</td><td data-stat="shots">{ln}</td>'
                f'<td data-stat="xg">{d * 10:.1f}</td><td data-stat="passes">{q * 3}</td>'
                f'<td data-stat="cards_yellow">{ln % 2}</td></tr>')
            n_pm += 1
            minutes += q
        with open(os.path.join(b, "fbref", f"match_{o:08d}.html"), "w") as f:
            f.write(f'<html><body><table id="stats_{o}_summary"><thead><tr><th>Player</th></tr></thead>'
                    f'<tbody>{"".join(trs)}</tbody></table></body></html>\n')

    # REST squad responses
    n_rest = 0
    for t in range(squad_pages):
        squad = []
        for i in range(int(rng.integers(15, 30))):
            squad.append({"id": t * 100 + i, "firstName": str(rng.choice(FIRST)),
                          "lastName": str(rng.choice(LAST)),
                          "dateOfBirth": f"{int(rng.integers(1985, 2006))}-0{int(rng.integers(1, 10))}-1{int(rng.integers(0, 10))}",
                          "nationality": f"NATION_{int(rng.integers(0, NATIONS))}",
                          "position": str(rng.choice(POSITIONS))})
        n_rest += len(squad)
        with open(os.path.join(b, "rest", f"team_{t:04d}.json"), "w") as f:
            json.dump({"id": t, "squad": squad}, f)

    return {
        "squad_rows": n, "quarantined": counts["invalid"],
        "matched": counts["exact"] + counts["typo"], "review": counts["review"],
        "create": counts["create"], "silver_rows": counts["exact"] + counts["typo"],
        "gold_market_value": round(gold, 2), "injury_rows": n_inj,
        "player_match_rows": n_pm, "player_match_minutes": minutes,
        "rest_players": n_rest}


def generate(out, seed, sf, etl=None):
    """Write every input of one run into `out` (which must not exist)."""
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    expected = {"corpus": corpus(rng, out, sf)}
    if etl:
        expected["etl"] = bronze(rng, out, **etl)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
