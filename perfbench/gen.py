"""Seeded input generators for the benchmark.

Two families, both deterministic in their seed:

* ``suite_tables`` writes the ten parquet tables the registered queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) with the column types and value distributions of the
  engine's TPC-H-ish test tables, at a chosen scale factor.
* ``Catalogue`` writes a reference-shaped dirty products CSV (the
  ``products_dirty`` shape of FIXTURES.md section A): dirty ratings (``Get``,
  empty, multi-dot), ``₹1,099``-style prices and ``₹0`` actual prices, null
  names, whole-row duplicates, and image/link URLs with and without the
  ``images/`` and ``amazon.in`` markers. Names draw their tokens from a Zipf
  vocabulary, so a few tokens are shared by many products, as in a real
  catalogue.

Every generator returns a dict of input statistics that the benchmark prints,
so a change of input shape is visible next to the timings.
"""
import csv
import datetime as dt
import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- suite tables -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def _days(rng, n, start, end):
    """n random midnight timestamps in [start, end] as µs since the epoch."""
    lo = (start - dt.date(1970, 1, 1)).days
    hi = (end - dt.date(1970, 1, 1)).days
    return rng.integers(lo, hi + 1, n).astype("int64") * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def suite_tables(out_dir, sf, seed):
    """Write the ten query tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ts_us = pa.timestamp("us")
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 5)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), ts_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), ts_us)})
    # events: increasing event time over 30 days at µs resolution
    t0 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    ts = t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts.astype("int64"), ts_us),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word bags; about 5% are near-duplicates of an
    # earlier document (its text plus " dup"), so the dedup queries
    # have real candidate pairs
    words = np.array(DOC_WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(10, 101)))]))
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype="int64"), "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    # embeddings: unit vectors around ten label centroids
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32")})
    return {"sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord,
            "documents_rows": n_doc, "events_rows": n_ev,
            "embeddings_rows": n_emb}


# -- products catalogue -----------------------------------------------------

CATEGORIES = {
    "accessories": ["mouse", "keyboard", "charger", "cable", "adapter", "hub",
                    "stand", "cover", "stylus", "webcam", "pad", "dock"],
    "audio": ["headphones", "speaker", "earbuds", "soundbar", "earphones",
              "microphone", "amplifier", "receiver", "subwoofer", "headset",
              "turntable", "radio"],
    "smartphones": ["phone", "smartphone", "mobile", "handset", "charger",
                    "case", "protector", "holder", "battery", "gimbal",
                    "lens", "mount"],
    "cameras": ["camera", "lens", "tripod", "flash", "filter", "gimbal",
                "drone", "camcorder", "strap", "bag", "battery", "monitor"],
    "networking": ["router", "switch", "extender", "modem", "repeater",
                   "antenna", "firewall", "access", "bridge", "gateway",
                   "powerline", "mesh"],
    "storage": ["drive", "card", "disk", "ssd", "pendrive", "enclosure",
                "nas", "reader", "array", "cartridge", "tape", "vault"],
}
REAL_BRANDS = ["Dell", "HP", "Logitech", "boAt", "Sony", "Samsung", "OnePlus",
               "JBL", "Canon", "Acme", "TP-Link", "Mi", "Lenovo", "Zebronics"]
N_BRANDS = 150
_SYL = ["ka", "to", "mi", "ru", "no", "pa", "shi", "vo", "lu", "ga", "do",
        "ni", "bo", "ta", "ku", "ro", "ma", "zu", "fi", "ho"]


@functools.lru_cache(maxsize=None)
def _word(i):
    """The i-th pronounceable vocabulary word (distinct for distinct i)."""
    s = ""
    i += len(_SYL)  # at least two syllables
    while i:
        i, r = divmod(i, len(_SYL))
        s += _SYL[r]
    return s


def _price(rng, v):
    """₹-formatted price with Indian thousands separators."""
    s = f"{int(v):,}"
    return "₹" + s if rng.random() > 0.02 else ""


class Catalogue:
    """A seeded stream of reference-shaped product rows.

    ``rows(n)`` yields fresh products; ``dirty_csv`` adds null names and
    whole-row duplicates and writes the CSV. Product names are
    ``brand + 2..4 Zipf vocabulary tokens + category noun + model code``,
    so every product shares at least its category noun with others.
    """

    def __init__(self, seed, vocab=20_000, zipf_s=0.7):
        self.rng = np.random.default_rng(seed)
        p = np.arange(1, vocab + 1, dtype="float64") ** -zipf_s
        self.cdf = np.cumsum(p / p.sum())
        self.zipf_s = zipf_s
        self.next_id = 0

    def _one(self):
        rng = self.rng
        sub = list(CATEGORIES)[int(rng.integers(0, len(CATEGORIES)))]
        noun = CATEGORIES[sub][int(rng.integers(0, len(CATEGORIES[sub])))]
        toks = [_word(int(t)) for t in
                np.searchsorted(self.cdf, rng.random(int(rng.integers(2, 5))))]
        pid = self.next_id
        self.next_id += 1
        model = f"{_SYL[pid % 20].upper()}{pid}"
        b = int(rng.integers(0, N_BRANDS))
        brand = REAL_BRANDS[b] if b < len(REAL_BRANDS) else _word(10**6 + b).capitalize()
        name = " ".join([brand, *toks, noun, model])
        slug = "-".join([brand.lower(), *toks, noun, model.lower()])
        img = f"IMG{pid}"
        image = (f"https://m.media-amazon.com/images/{img}._AC_UL320_.jpg"
                 if rng.random() > 0.05 else f"https://example.com/{img}.png")
        link = (f"https://www.amazon.in/{slug}/dp/B{pid:07d}"
                if rng.random() > 0.05 else f"http://example.com/{slug}")
        r = rng.random()
        ratings = ("Get" if r < 0.03 else "" if r < 0.06 else
                   f"{rng.integers(1, 5)}..{rng.integers(0, 10)}" if r < 0.08
                   else f"{rng.uniform(1.0, 5.0):.1f}")
        n_ratings = "" if rng.random() < 0.05 else f"{int(rng.integers(1, 100_000)):,}"
        actual = float(rng.integers(99, 60_000))
        actual_s = "₹0" if rng.random() < 0.01 else _price(rng, actual)
        disc_s = _price(rng, actual * rng.uniform(0.3, 1.0))
        return {"name": name, "main_category": "electronics",
                "sub_category": sub, "image": image, "link": link,
                "ratings": ratings, "no_of_ratings": n_ratings,
                "discount_price": disc_s, "actual_price": actual_s,
                "_slug": slug}

    def rows(self, n):
        return [self._one() for _ in range(n)]

    def dirty_csv(self, path, n, null_share=0.01, dup_share=0.04):
        """Write ``n`` fresh products plus dirt to ``path``; returns
        (stats, clean rows). Dirt: ``null_share`` rows lose their name,
        ``dup_share`` rows are repeated verbatim later in the file."""
        rows = self.rows(n)
        for r in rows:
            if self.rng.random() < null_share:
                r["name"] = None
        out = list(rows)
        n_dup = int(n * dup_share)
        for i in self.rng.choice(n, n_dup, replace=False):
            out.insert(int(self.rng.integers(int(i) + 1, len(out) + 1)), rows[int(i)])
        write_csv(path, out)
        return self.stats(out), [r for r in rows if r["name"] is not None]

    def stats(self, rows):
        named = [r for r in rows if r["name"] is not None]
        df = {}
        for r in named:
            for t in set(r["name"].lower().split()):
                df[t] = df.get(t, 0) + 1
        distinct = {tuple(sorted((k, v or "") for k, v in r.items())) for r in rows}
        return {"rows": len(rows),
                "dup_share": round(1 - len(distinct) / max(len(rows), 1), 4),
                "null_names": len(rows) - len(named),
                "vocab_size": len(df),
                "zipf_s": self.zipf_s,
                "sum_df2": sum(v * v for v in df.values())}


FIELDS = ["name", "main_category", "sub_category", "image", "link",
          "ratings", "no_of_ratings", "discount_price", "actual_price"]


def write_csv(path, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(FIELDS)
        for r in rows:
            w.writerow(["" if r[k] is None else r[k] for k in FIELDS])
