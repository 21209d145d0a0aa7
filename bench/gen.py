"""Seeded input generator for the benchmark.

Follows the schema and distributions of ``tools/gen_sf.py`` (the TPC-H-ish
star schema plus events, documents and embeddings), but takes the seed as
an argument, so each run of the benchmark can draw fresh inputs that are
the same for the same seed.

``star(out, sf, seed)`` writes one parquet file per table.
``etl(out, sf, seed)`` writes the raw inputs of the ETL pipeline: the
``part`` and ``customer`` tables (the Postgres extract) as parquet, the
sales events as JSON lines (the Kafka drain), and an inventory CSV prefix
tree ``inventory/YYYY/MM/inventory_YYYY-MM-DD.csv`` whose rows carry no
date column (the MinIO listing).

Both return a manifest: rows and bytes per input, the base for the
benchmark's throughput and write-amplification ratios.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

DAY = np.timedelta64(1, "D")
US = np.timedelta64(1, "us")

SEGS = np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"])
ADJ = np.array(["large", "hot", "blue", "small", "dim", "cold", "red", "green"])
NOUN = np.array(["ring", "bolt", "gear", "cog", "pin", "rod", "cap", "nut"])
TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIO = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUS = np.array(["O", "P", "F"])
ETYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = ("spark line column order small sort fast value scan batch part "
         "vector query agg table hash the a join merge group filter big "
         "slow stream key customer").split()
LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _counts(sf):
    rel = sf / 0.1  # gen_sf.py's counts are the observed sf0.1 counts
    return {k: max(1, int(v * rel)) for k, v in {
        "customer": 15000, "part": 20000, "supplier": 1000, "orders": 150000,
        "events": 100000, "users": 1500, "documents": 5000,
        "embeddings": 2000}.items()}


def _labels(prefix, n, width):
    return pc.binary_join_element_wise(
        prefix, pc.utf8_lpad(
            pa.array(np.arange(n)).cast(pa.string()), width, "0"), "")


class _Manifest:
    def __init__(self, out):
        self.out = out
        self.inputs = {}

    def parquet(self, name, cols):
        path = os.path.join(self.out, name + ".parquet")
        table = pa.table(cols)
        pq.write_table(table, path)
        self.inputs[name] = {"rows": table.num_rows,
                             "bytes": os.path.getsize(path)}

    def add(self, name, rows, nbytes):
        self.inputs[name] = {"rows": rows, "bytes": nbytes}

    def finish(self, **extra):
        m = {"inputs": self.inputs,
             "rows": sum(v["rows"] for v in self.inputs.values()),
             "bytes": sum(v["bytes"] for v in self.inputs.values()), **extra}
        with open(os.path.join(self.out, "manifest.json"), "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        return m


def _customer(rng, n):
    return {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _labels("Customer#", n, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        "c_mktsegment": SEGS[rng.integers(0, 5, n)],
    }


def _part(rng, n):
    pk = np.arange(n)
    names = np.char.add(np.char.add(ADJ[rng.integers(0, 8, n)], " "),
                        NOUN[rng.integers(0, 8, n)])
    return {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", (rng.integers(0, 25, n) + 1).astype(str)),
        "p_type": TYPES[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }


def _events(rng, n, users):
    ebase = np.datetime64("2024-01-01T00:00:00.000000")
    ets = np.sort(rng.integers(0, 30 * 86400_000_000, n))  # µs over 30 days
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ebase + ets * US,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": ETYPES[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.exponential(60, n), 600), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    }


def star(out, sf, seed):
    """The parquet star schema at scale factor ``sf``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = _counts(sf)
    m = _Manifest(out)
    m.parquet("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    m.parquet("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    m.parquet("customer", _customer(rng, n["customer"]))
    ns = n["supplier"]
    m.parquet("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _labels("Supplier#", ns, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)})
    m.parquet("part", _part(rng, n["part"]))

    no = n["orders"]
    base = np.datetime64("1995-01-01")
    odate_days = rng.integers(0, 2405, no)  # through 2001-08-01
    m.parquet("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": STATUS[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array((base + odate_days * DAY).astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": PRIO[rng.integers(0, 5, no)]})

    lines_per = rng.integers(1, 8, no)  # avg ~4 lines/order
    okey = np.repeat(np.arange(no), lines_per)
    nl = len(okey)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    linenum = np.arange(nl) - starts + 1
    ship = base + (np.repeat(odate_days, lines_per) + rng.integers(1, 96, nl)) * DAY
    m.parquet("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})

    ev = _events(rng, n["events"], n["users"])
    ev["ts"] = pa.array(ev["ts"], pa.timestamp("us"))
    m.parquet("events", ev)

    nd = n["documents"]
    nw = rng.integers(8, 111, nd)
    docs = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)) for k in nw]
    # a sprinkle of exact duplicates (~0.2%), like the reference test data
    for i in rng.integers(nd // 2, nd, max(1, nd // 500)):
        docs[i] = docs[i - nd // 2]
    m.parquet("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": docs,
        "lang": LANGS[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(d) for d in docs]), pa.int64())})

    ne = n["embeddings"]
    emb = rng.normal(0, 1, (ne, 64))
    # ~1% near-duplicates of earlier rows (keeps dedup_embedding non-trivial)
    for i in rng.integers(ne // 2, ne, max(1, ne // 100)):
        emb[i] = emb[i - ne // 2] + rng.normal(0, 0.01, 64)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    m.parquet("embeddings", {
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32())})
    return m.finish(sf=sf, seed=seed)


INVENTORY_DAYS = 120
EVENT_FILES = 4  # like a topic's partitions


def etl(out, sf, seed):
    """Raw inputs of the ETL pipeline at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = _counts(sf)
    stage = os.path.join(out, "stage")
    os.makedirs(stage, exist_ok=True)
    m = _Manifest(stage)
    m.parquet("part", _part(rng, n["part"]))
    m.parquet("customer", _customer(rng, n["customer"]))

    # sales events as JSON lines over EVENT_FILES files; timestamps are UTC
    # wall-clock strings
    ev = _events(rng, n["events"], n["users"])
    ev["ts"] = np.datetime_as_string(ev["ts"], unit="us")
    table = pa.table(ev)
    edir = os.path.join(out, "raw", "events")
    os.makedirs(edir, exist_ok=True)
    nbytes = 0
    for k, idx in enumerate(np.array_split(np.arange(table.num_rows), EVENT_FILES)):
        path = os.path.join(edir, f"events-{k:05d}.jsonl")
        part = table.take(pa.array(idx)).to_pylist()
        with open(path, "w") as f:
            for row in part:
                f.write(json.dumps(row, separators=(",", ":")))
                f.write("\n")
        nbytes += os.path.getsize(path)
    m.add("events", table.num_rows, nbytes)

    # daily inventory snapshots: one CSV object per day, no date column
    ni = 4 * n["orders"]  # one row per lineitem (avg ~4 lines/order)
    day = np.sort(rng.integers(0, INVENTORY_DAYS, ni))
    inv = pa.table({
        "l_partkey": rng.integers(0, n["part"], ni).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], ni).astype(np.int64),
        "l_quantity": rng.integers(1, 51, ni).astype(np.float64)})
    bounds = np.searchsorted(day, np.arange(INVENTORY_DAYS + 1))
    base = np.datetime64("2024-01-01")
    nbytes = 0
    for d in range(INVENTORY_DAYS):
        date = str(base + d * DAY)
        ddir = os.path.join(out, "raw", "inventory", date[:4], date[5:7])
        os.makedirs(ddir, exist_ok=True)
        path = os.path.join(ddir, f"inventory_{date}.csv")
        pcsv.write_csv(inv.slice(bounds[d], bounds[d + 1] - bounds[d]), path)
        nbytes += os.path.getsize(path)
    m.add("inventory", ni, nbytes)
    return m.finish(sf=sf, seed=seed, inventory_days=INVENTORY_DAYS)
