"""Seeded input generators.

`write_tables` writes the ten parquet tables the declared queries read, in
the shapes and physical types of the repository's synthetic test data
(FIXTURES.md section 4), at a small fixed size.

`write_alma` writes one Alma item-record CSV export and returns the truth
its rows were built from: which grammar made each description, what the
parser must extract from it, the year the group pins for it, and where the
update stage must route it.
"""
import csv
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge "
         "query group a vector hash slow stream filter fast the spark batch "
         "table small data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "cold small large blue old new hot red".split()
PART_NOUN = "widget bolt rod anvil ring gizmo plate gear".split()
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]

# Rows per table: the sf0.001 sizes, with the fixed-size text and vector
# tables at their usual 500 rows.
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000, "documents": 500,
         "embeddings": 500}

US_PER_DAY = 86400 * 1000000


def _days(rng, start, end, n):
    """n timestamps at midnight, uniform over [start, end] (datetime64[D])."""
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo) / np.timedelta64(1, "D"))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """Every table as a pyarrow Table, deterministic in `seed`."""
    rng = np.random.default_rng(seed)
    py = random.Random(seed)
    n = SIZES
    i32, i64, s = pa.int32(), pa.int64(), pa.string()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [py.choice(SEGMENTS) for _ in range(n["customer"])]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), i64),
        "p_name": [f"{py.choice(PART_ADJ)} {py.choice(PART_NOUN)}"
                   for _ in range(n["part"])],
        "p_brand": [f"Brand#{py.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [py.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": [round(900 + k / 10, 2) for k in range(n["part"])]})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": [py.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": [py.choice(PRIORITIES) for _ in range(n["orders"])]})
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [py.choice("ANR") for _ in range(m)],
        "l_linestatus": [py.choice("FO") for _ in range(m)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * US_PER_DAY, e))
    out["events"] = pa.table({
        "event_id": pa.array(range(e), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 15, e), i64),
        "event_type": [py.choice(EVENT_TYPES) for _ in range(e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {py.randint(0, 99)}}}' for _ in range(e)]})
    d = n["documents"]
    texts = [" ".join(py.choice(VOCAB) for _ in range(py.randint(10, 99)))
             for _ in range(d)]
    # one document in twenty is another one with a "dup" marker appended,
    # so the near-duplicate detectors have pairs to find
    for k in range(d):
        if py.random() < 0.05:
            texts[k] = texts[py.randrange(d)] + " dup" * py.randint(1, 2)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(d), i64),
        "text": pa.array(texts, s),
        "lang": py.choices(LANGS, LANG_WEIGHTS, k=d),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (v, 64)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(v), i64),
        "embedding": pa.array([list(x) for x in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write_tables(directory, seed):
    for name, table in tables(seed).items():
        pq.write_table(table, f"{directory}/{name}.parquet",
                       compression="snappy", row_group_size=1 << 30)


# --------------------------------------------------------------- Alma items

MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
SEASONS = ["Spring", "Summer", "Fall", "Winter"]
TITLES = ["Journal of Tests", "Annals of Batch Processing",
          "Review of Serials, Series B", "Library Quarterly",
          "Proceedings, Society of Catalogers", "Bulletin of Holdings"]
# Description grammars and their weights: the fixture mix of FIXTURES.md.
GRAMMARS = [("std4", 0.45), ("std2", 0.15), ("ybm", 0.12), ("split", 0.10),
            ("vol", 0.10), ("none", 0.08)]
HEADER = ["MMS ID", "Item PID", "Barcode", "title", "Library", "Description"]


def _description(py, grammar, vol, year, k):
    """(description, pattern, enum A, enum B, expected Chron I prefix)."""
    yy = f"{year % 100:02d}"
    if grammar == "std4":
        iss = py.randint(1, 12)
        return (f"v.{vol} no.{iss} ({py.choice(MONTHS)} {year})",
                "StdMatch", f"v.{vol}", f"no.{iss}", str(year))
    if grammar == "std2":
        a = py.randint(1, 10)
        m = py.randrange(11)
        return (f"v.{vol} nos.{a}-{a + 1} ({MONTHS[m]}-{MONTHS[m + 1]} {yy})",
                "StdMatch", f"v.{vol}", f"nos.{a}-{a + 1}", str(year))
    if grammar == "ybm":
        return (f"v.{vol} ({year} {py.choice(SEASONS)})",
                "YearBeforeMonth", f"v.{vol}", "", str(year))
    if grammar == "split":
        return (f"v.{vol} (Nov {yy}-Jan {(year + 1) % 100:02d})",
                "SplitYears", f"v.{vol}", "", str(year))
    if grammar == "vol":
        return (f"vol {vol} ({year})", "StdMatch", f"vol {vol}", "", str(year))
    return (f"suppl. index {k}", "N/A", "", "", "")


def alma_rows(seed, n_rows):
    """Rows and truth for one export of about `n_rows` items.

    Each MMS ID group holds 5-200 items whose volume and year rise
    together, so a two-digit year is pinned by the four-digit years around
    it; the first item of a group always carries a four-digit year. About
    2% of items have an i-barcode or a blank one. IDs are raw digits,
    without the apostrophe guard the format stage adds.
    """
    py = random.Random(seed)
    names, weights = zip(*GRAMMARS)
    rows, truth = [], []
    mms = 990000000000000 + py.randrange(10 ** 9) * 1000
    barcode = 31234000000000 + py.randrange(10 ** 6) * 10000
    while len(rows) < n_rows:
        mms += py.randint(1, 999)
        size = min(py.randint(5, 200), max(5, n_rows - len(rows)))
        title = py.choice(TITLES)
        vol0, year0 = py.randint(1, 60), py.randint(1890, 1990)
        for k in range(size):
            grammar = "std4" if k == 0 else py.choices(names, weights)[0]
            desc, pattern, enum_a, enum_b, chron_i = _description(
                py, grammar, vol0 + k, year0 + k, len(rows))
            barcode += py.randint(1, 9)
            r = py.random()
            bc = "" if r < 0.01 else (f"i{barcode}" if r < 0.02 else str(barcode))
            bad = bc == "" or bc.startswith("i") or pattern == "N/A"
            rows.append([str(mms), str(py.randrange(10 ** 15)), bc, title,
                         "Main", desc])
            truth.append({"mms": f"'{mms}", "description": desc,
                          "grammar": grammar, "pattern": pattern,
                          "enum_a": enum_a, "enum_b": enum_b,
                          "chron_i": chron_i,
                          "route": "error" if bad else "success"})
    return rows, truth


def write_alma(path, seed, n_rows):
    rows, truth = alma_rows(seed, n_rows)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)
    return truth
