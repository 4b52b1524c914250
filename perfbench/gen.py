"""Seeded, deterministic inputs for the benchmark workloads.

Two input families, both written as parquet and never timed:

* ``registry``: the ten tables the ``SparkEntry`` registry reads (a small
  TPC-H-like star plus ``events``, ``documents`` and ``embeddings``), with the
  column names, types and value domains the registry queries expect.
* ``glamira``: a raw ``countly_summary`` export as the reference ships it
  (every column a string, nested ``cart_products`` as JSON, locale-junk
  prices, fake-null user ids, ambiguous currencies), the crawled product JSON,
  ``ip_location``, an FX seed, and a day-2 delta derived from the same seed.
  The generator also works out what the nightly job must produce from these
  inputs (row counts and measure sums) so the benchmark can check it.

Same seed, same bytes: every random draw comes from ``numpy`` generators,
or for the per-event draws of the raw export Python's ``random.Random``,
seeded with the workload seed.
"""
import json
import os
import random
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Registry table sizes: the sf0.01 shape of the test data (TESTDATA.md), the
# scale at which the registry is planning-bound rather than data-bound.
REGISTRY_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _write(table, path):
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_registry(out, seed, rows=REGISTRY_ROWS):
    """Write the registry tables under ``out``; return {table: rows/bytes}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    stats = {}
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li = rows["orders"], rows["lineitem"]

    stats["region"] = _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    stats["nation"] = _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    stats["customer"] = _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    stats["supplier"] = _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")

    colors = ["red", "blue", "green", "black", "white", "small", "large", "gold"]
    nouns = ["ring", "widget", "bolt", "chain", "gear", "nut", "pin", "valve"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    stats["part"] = _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), f"{out}/part.parquet")

    statuses = np.array(["F", "O", "P"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    stats["orders"] = _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": statuses[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    stats["lineitem"] = _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")

    n_ev = rows["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    stats["events"] = _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev * 3 // 200), n_ev), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")

    # documents: ~5% near-duplicates (an earlier document plus a marker
    # token) and a few exact copies, so the dedup families find work
    n_doc = rows["documents"]
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    stats["documents"] = _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    n_emb = rows["embeddings"]
    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    stats["embeddings"] = _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), f"{out}/embeddings.parquet")
    return stats


# ---- Glamira raw export -------------------------------------------------

# (raw currency label, URL TLD). '$' and 'kr' are ambiguous and resolved
# from the TLD; 'XYZ' is unmapped.
CURRENCIES = [("USD", "com"), ("€", "de"), ("£", "co.uk"), ("$", "com.au"),
              ("$", "ca"), ("kr", "se"), ("kr", "dk"), ("usd $", "com"),
              ("r$", "com.br"), ("zł", "pl"), ("XYZ", "com"), ("₹", "in")]
FX_CODES = ["USD", "EUR", "GBP", "AUD", "CAD", "SEK", "DKK", "BRL", "PLN", "INR", "NOK"]
FAKE_NULLS = ["null", "N/A", "none", "undefined", ""]
OPTION_LABELS = ["size", "color", "metal", "stone", "engraving"]
COLLECTIONS = ["view_product_detail", "select_product_option", "add_to_cart_action"]
LOCATIONS = [("US", "United States", "CA", "San Francisco"), ("US", "United States", "NY", "New York"),
             ("DE", "Germany", "BE", "Berlin"), ("GB", "United Kingdom", "ENG", "London"),
             ("SE", "Sweden", "AB", "Stockholm"), ("AU", "Australia", "NSW", "Sydney"),
             ("CA", "Canada", "ON", "Toronto"), ("BR", "Brazil", "SP", "Sao Paulo"),
             ("PL", "Poland", "MZ", "Warsaw"), ("IN", "India", "MH", "Mumbai")]
# (first epoch second, days covered): day 1 is a week-long first load from
# 2024-03-01 UTC, day 2 the following day's delta
DAYS = {1: (1709251200, 7), 2: (1709251200 + 7 * 86400, 1)}
SUMMARY_COLS = ["order_id", "time_stamp", "local_time", "collection", "ip", "user_agent",
                "resolution", "user_id_db", "device_id", "api_version", "store_id",
                "show_recommendation", "current_url", "referrer_url", "email_address",
                "cart_products"]


def _price(rnd, cents):
    """A locale-junk price string and the value the staging parse yields."""
    v = Decimal(cents) / 100
    plain = f"{v:.2f}"
    grouped = f"{v:,.2f}"
    form = rnd.randrange(0, 8)
    if form == 0:
        return plain, v
    if form == 1:
        return plain.replace(".", ","), v
    if form == 2:
        return grouped.replace(",", "_").replace(".", ",").replace("_", "."), v
    if form == 3:
        return grouped, v
    if form == 4:
        return f" {plain} ", v
    if form == 5:
        return plain.replace(".", "٫"), v
    if form == 6:
        return grouped.replace(",", " "), v
    return "n/a", None


class _Day:
    """Raw rows of one day plus the expectations the nightly job must meet."""

    def __init__(self):
        self.rows = {c: [] for c in SUMMARY_COLS}
        self.fact_rows = 0
        self.orders = set()
        self.qty_sum = 0
        self.price_sum = Decimal(0)
        self.dates = set()
        self.scd_keys = []         # feed keys (user, email, ts), one per fact row

    def add(self, rec, cart, valid_user, email_ok):
        """Append one raw row; return the fact rows it must yield."""
        for c in SUMMARY_COLS[:-1]:
            self.rows[c].append(rec[c])
        self.rows["cart_products"].append(None if cart is None else json.dumps(
            [{k: v for k, v in cp.items() if not k.startswith("_")} for cp in cart],
            ensure_ascii=False))
        if rec["collection"] != "checkout_success":
            return 0
        self.orders.add(rec["order_id"])
        self.dates.add(int(rec["time_stamp"]) // 86400)
        n = 0
        for cp in (cart or [None]):
            opts = 1 if cp is None else max(1, len(cp["option"] or []))
            n += opts
            if cp is not None:
                if cp["_qty"] is not None:
                    self.qty_sum += cp["_qty"] * opts
                if cp["_price"] is not None:
                    self.price_sum += cp["_price"] * opts
        self.fact_rows += n
        if valid_user and email_ok:
            key = (rec["user_id_db"], rec["email_address"].strip().lower(), rec["time_stamp"])
            self.scd_keys.extend([key] * n)
        return n


def _order(rnd, n_products):
    """One raw cart: None, empty, or one to three products with options."""
    n_cp = rnd.choice([0, 1, 1, 2, 2, 3])
    r = rnd.random()
    if r < 0.04:
        return None
    if r < 0.08 or n_cp == 0:
        return []
    cart = []
    for _ in range(n_cp):
        cur = CURRENCIES[rnd.randrange(0, len(CURRENCIES))][0]
        price, pval = _price(rnd, rnd.randrange(500, 500000))
        qty = rnd.randrange(1, 6)
        qty_s, qty_v = (str(qty), qty) if rnd.random() > 0.03 else ("x", None)
        k = rnd.random()
        opts = None if k < 0.1 else [] if k < 0.2 else [
            {"option_label": OPTION_LABELS[j], "option_id": str(100 + j),
             "value_label": f"v{j}", "value_id": str(rnd.randrange(1, 50))}
            for j in sorted(rnd.sample(range(len(OPTION_LABELS)), rnd.randrange(1, 3)))]
        pid = str(rnd.randrange(1, n_products + 1)) if rnd.random() > 0.02 else "abc"
        cart.append({"product_id": pid, "amount": qty_s, "price": price, "currency": cur,
                     "option": opts, "_qty": qty_v, "_price": pval})
    return cart


def gen_glamira(out, seed, n_events):
    """Write the nightly job's day-1 and day-2 inputs under ``out``.

    Returns {"inputs": {name: rows/bytes}, "expect": {...}}.
    """
    rng = np.random.default_rng([seed, 2])
    # per-event draws: Python's generator is far cheaper per scalar draw
    rnd = random.Random(seed * 1000 + 2)
    os.makedirs(out, exist_ok=True)
    n_users = max(10, n_events // 8)
    n_products = max(10, n_events // 20)
    n_ips = max(10, n_events // 40)
    ips = [f"10.{i // 65536 % 256}.{i // 256 % 256}.{i % 256}" for i in range(1, n_ips + 1)]
    ip_loc = rng.integers(0, len(LOCATIONS), n_ips)
    # distinct email per user and per day, so the customer dim stays
    # one row per resolved email and the fact's unique test holds
    changed = rng.random(n_users + 1) < 0.1

    def email(uid, day, messy):
        base = f"u{uid}{'.v2' if day == 2 and changed[uid] else ''}@example.com"
        return f"  {base.upper()} " if messy else base

    days = {1: _Day(), 2: _Day()}
    redelivered = []
    for day, n in ((1, n_events), (2, n_events // 4)):
        d = days[day]
        for i in range(n):
            uid = rnd.randrange(1, n_users + 1)
            r = rnd.random()
            user = (str(uid) if r < 0.88 else FAKE_NULLS[rnd.randrange(0, 5)] if r < 0.96 else None)
            valid = r < 0.88
            collection = "checkout_success" if rnd.random() < 0.6 else COLLECTIONS[rnd.randrange(0, 3)]
            ip_i = rnd.randrange(0, n_ips)
            cart = _order(rnd, n_products)
            tld = CURRENCIES[rnd.randrange(0, len(CURRENCIES))][1]
            messy = uid % 7 == 2
            em = email(uid, day, messy) if rnd.random() > 0.03 else None
            ts = DAYS[day][0] + rnd.randrange(0, DAYS[day][1] * 86400)
            rec = {"order_id": f"d{day}-o{i}", "time_stamp": str(ts),
                   "local_time": time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts)),
                   "collection": collection, "ip": ips[ip_i], "user_agent": "Mozilla/5.0",
                   "resolution": ["1920x1080", "1366x768", "390x844"][i % 3],
                   "user_id_db": user, "device_id": f"dev{uid}", "api_version": "1.0",
                   "store_id": str(1 + uid % 9), "show_recommendation": ["true", "false"][i % 2],
                   "current_url": f"https://www.glamira.{tld}/p/{i}",
                   "referrer_url": None if i % 3 else "https://www.google.com/",
                   "email_address": em}
            d.add(rec, cart, valid, em is not None and em.strip() != "")
            if day == 1 and collection == "checkout_success" and rnd.random() < 0.05:
                redelivered.append((rec, cart, valid, em is not None and em.strip() != ""))
    # the day-2 delta re-delivers a slice of day-1 checkouts unchanged: the
    # merge must replace them, not duplicate them, and the SCD2 snapshot
    # must see them as already-captured versions
    overlap = sum(days[2].add(*r) for r in redelivered)

    inputs = {}
    for day in (1, 2):
        t = pa.table({c: pa.array(days[day].rows[c], pa.string()) for c in SUMMARY_COLS})
        inputs[f"countly_summary_day{day}"] = _write(t, f"{out}/countly_summary_day{day}.parquet")

    product_json, n_valid_products = [], 0
    id_paths = ["product_id", "productId", "id", "_id"]
    for pid in range(1, n_products + 1):
        r = rng.random()
        if r < 0.02:
            body = {"product_id": "null", "name": "bad"}
        elif r < 0.03:
            body = {"name": "no id"}
        else:
            n_valid_products += 1
            body = {id_paths[pid % 4]: str(pid), "name": f"Ring {pid}", "sku": f"R-{pid}",
                    "gender": ["f", "m"][pid % 2], "category_name": "rings",
                    "product_type": "ring", "store_code": "uk", "attribute_set": "jewel",
                    "category": f"c{pid % 7}", "material_design": "gold",
                    "gold_weight": f"{pid % 10}.5"}
        product_json.append(json.dumps({"product": body}))
    inputs["product"] = _write(pa.table({"product_json": pa.array(product_json, pa.string())}),
                               f"{out}/product.parquet")
    inputs["ip_location"] = _write(pa.table({
        "ip": ips,
        "country_code": [LOCATIONS[j][0] for j in ip_loc],
        "country_name": [LOCATIONS[j][1] for j in ip_loc],
        "region": [LOCATIONS[j][2] for j in ip_loc],
        "city": [LOCATIONS[j][3] for j in ip_loc],
        "isp": [f"isp{j % 5}" for j in range(n_ips)],
    }), f"{out}/ip_location.parquet")
    fx_rows = [(date, "USD", code, round(float(rng.uniform(0.5, 90.0)), 6) if code != "USD" else 1.0)
               for date in ("2024-02-29", "2024-03-01") for code in FX_CODES]
    inputs["fx_seed"] = _write(pa.table({
        "fx_date": pa.array(np.array([r[0] for r in fx_rows], "datetime64[D]"), pa.date32()),
        "base_code": [r[1] for r in fx_rows],
        "currency_code": [r[2] for r in fx_rows],
        "usd_to_ccy": [r[3] for r in fx_rows],
    }), f"{out}/fx_seed.parquet")

    d1, d2 = days[1], days[2]
    day1_scd = set(d1.scd_keys)
    expect = {
        "fact_rows": d1.fact_rows,
        "fact_orders": len(d1.orders),
        "fact_quantity_sum": d1.qty_sum,
        "fact_price_sum": f"{d1.price_sum:.9f}",
        "dim_product_rows": n_valid_products,
        "dim_location_rows": len({LOCATIONS[j] for j in ip_loc}),
        "dim_date_rows": 13149,
        "scd_rows_day1": len(d1.scd_keys),
        "scd_rows_day2": len(d1.scd_keys) + len(set(d2.scd_keys) - day1_scd),
        "merged_rows": d1.fact_rows + d2.fact_rows - overlap,
        "fact_dates": len(d1.dates),
        "written_rows": d1.fact_rows,
    }
    return {"inputs": inputs, "expect": expect}


def gen_tiny(out):
    """The fixed warm-up input: the registry tables at a few dozen rows."""
    tiny = {k: max(5, v // 100) for k, v in REGISTRY_ROWS.items()}
    return gen_registry(out, 0, tiny)
