"""Seeded input generators for the benchmark.

`tables(dir, sf, seed)` writes the ten parquet tables the query surface
reads (the same schemas, physical types and value distributions as the
TPC-H-ish test data the queries were written against: uniform keys and
attributes, a 31-word document vocabulary with 5 % "copy + ' dup'"
near-duplicates, unit-norm 64-d embeddings).

`Feed(seed, keys)` produces one day's product CSV per call to `day()`,
shaped like the reference's daily extract: 10 string columns, every key
twice (the reference's 200-row / 100-key file), trailing-space prices,
Vietnamese text, some null cells, and a seeded churn of changed, added
and absent keys. It also predicts what the SCD2 warehouse and the mart
must hold after each day, so the benchmark can check them exactly.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]


def _ts(days_from, lo, hi, rng, n):
    """n timestamps (µs, no zone) at midnight, uniform over [lo, hi] days."""
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, name + ".parquet"))


def tables(d, sf, seed):
    """Write the ten tables for scale factor `sf` into directory `d`."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = pa.int32()

    _write(d, "region", {"r_regionkey": pa.array(range(5), i32),
                         "r_name": REGIONS})
    _write(d, "nation", {"n_nationkey": pa.array(range(25), i32),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(d, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(d, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(d, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    _write(d, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", 0, 2404, rng, n_ord),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)]})
    _write(d, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", 0, 2498, rng, n_line)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(d, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_ev),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    _write(d, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[x] for x in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(d, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


BRANDS = ["TITANTEC", "RAYBAN", "OAKLEY", "PARIM", "MOLSION", "HELEN KELLER",
          "EXFASH", "CHARMANT", "LINDBERG", "SILHOUETTE"]
MATERIALS = ["Titanium", "Nhựa dẻo TR90", "Kim loại", "Vàng nguyên khối 18K",
             "Acetate", "Nhôm Magie"]
SHAPES = ["Chữ nhật", "Vuông", "Tròn", "Mắt mèo", "Đa giác", "Phi công"]
ORIGINS = ["Nhật", "Trung", "Hàn", "Ý", "Đức", "Việt"]
FEED_COLUMNS = ["sku", "product_name", "price", "brand", "material", "shape",
                "dimension", "origin", "quantity_available", "product_url"]


class Feed:
    """Daily product feeds with a known SCD2 outcome.

    Keys never leave the warehouse: a key absent from a day's feed keeps
    its open version, so after day d the open set is every key seen so
    far and the closed set grows by the keys whose tracked values changed.
    """

    CHANGED, ADDED, ABSENT = 0.04, 0.01, 0.03
    START = dt.date(2024, 12, 8)

    def __init__(self, seed, keys):
        self.rng = np.random.default_rng(seed)
        self.records = {}
        self.first_day = {}
        self.next_id = 0
        self.day_no = -1
        self.closed = 0
        self.seen = {}
        for _ in range(keys):
            self._add(0)

    def _add(self, day_no):
        r, i = self.rng, self.next_id
        self.next_id += 1
        brand = BRANDS[int(r.integers(0, len(BRANDS)))]
        maybe = lambda v: None if r.random() < 0.02 else v
        sku = f"{brand[:2]}-{1000 + i} {int(r.integers(48, 60))} C{i % 97:02d}"
        name = f"{brand} {'TF' if i % 2 else 'GK'}-{1000 + i}"
        self.records[i] = {
            "sku": sku, "product_name": name,
            "price": int(r.integers(5, 400)) * 10000,
            "brand": brand,
            "material": maybe(MATERIALS[int(r.integers(0, len(MATERIALS)))]),
            "shape": maybe(SHAPES[int(r.integers(0, len(SHAPES)))]),
            "dimension": maybe(f"{int(r.integers(48, 60))}-{int(r.integers(14, 22))}"
                               f"-{int(r.integers(135, 150))}"),
            "origin": maybe(ORIGINS[int(r.integers(0, len(ORIGINS)))]),
            "quantity_available": maybe(int(r.integers(0, 50))),
            "product_url": f"https://kinhmatviettin.vn/gong-kinh/{i}.html"}
        self.first_day[i] = day_no

    def date(self, day_no):
        return self.START + dt.timedelta(days=day_no)

    def day(self, path):
        """Write the next day's CSV to `path`; return what to expect."""
        self.day_no += 1
        d, r = self.day_no, self.rng
        keys = list(self.records)
        absent = set()
        if d > 0:
            n = len(keys)
            for k in r.choice(keys, int(n * self.CHANGED), replace=False):
                rec = self.records[int(k)]
                if r.random() < 0.5:
                    rec["price"] += int(r.integers(1, 20)) * 10000
                else:
                    q = rec["quantity_available"]
                    rec["quantity_available"] = (q or 0) + int(r.integers(1, 9))
            absent = {int(k) for k in r.choice(keys, int(n * self.ABSENT),
                                               replace=False)}
            for _ in range(int(n * self.ADDED)):
                self._add(d)
        present = [k for k in self.records if k not in absent]
        # the warehouse sees a change only when the key is present: a key
        # changed while absent closes its version on the day it returns
        for k in present:
            vals = tuple(self.records[k][c] for c in FEED_COLUMNS)
            if k in self.seen and self.seen[k] != vals:
                self.closed += 1
            self.seen[k] = vals
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(FEED_COLUMNS)
            for k in present:
                rec = self.records[k]
                row = [("" if rec[c] is None else
                        f"{rec[c]} " if c == "price" else str(rec[c]))
                       for c in FEED_COLUMNS]
                w.writerow(row)
                w.writerow(row)
        window = range(max(0, d - 6), d + 1)
        fact = sum(sum(1 for f in self.first_day.values() if f <= x)
                   for x in window)
        return {"day": d, "date": self.date(d).isoformat(),
                "rows_in": 2 * len(present), "present": len(present),
                "open": len(self.records), "closed": self.closed,
                "fact_rows": fact, "window_from": self.date(window[0]).isoformat(),
                "window_until": self.date(d).isoformat()}
