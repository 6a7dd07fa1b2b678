"""Seeded input generators for the benchmark workloads.

The benchmark writes its own inputs from the seed, inside the run
directory; the program sees only the generated files. Listings come from
the package's own fixture generator (`manifold_spark.sources.fixtures`);
everything else here is pure Python with a `random.Random` stream, so the
same seed gives byte-identical files. The documents, events, embeddings
and TPC-H-like tables copy the shape of the `sf0.1` test tables
(perfbench/README.md compares them).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random

from manifold_spark.sources.fixtures import make_listing

START_DATE = dt.date(2024, 1, 1)


class WeeklyEvolution:
    """The README's scale-validation protocol: a fixed asset universe,
    each week ~`present` of it listed and ~`mutate` of the listed assets
    repriced by +3%. Tracks what an SCD2 warehouse must end up holding:
    one dim_asset version per contract plus one per price change between
    a contract's consecutive appearances."""

    def __init__(self, seed: int, universe: int, present: float = 0.8, mutate: float = 0.1):
        self.rng = random.Random(seed)
        self.present = present
        self.mutate = mutate
        self.contracts = [f"C{i:07d}" for i in range(universe)]
        self.listings = {c: make_listing(self.rng, c) for c in self.contracts}
        self.week = 0
        self.last_price: dict[str, float | None] = {}
        self.versions = 0  # expected dim_asset rows so far
        self.rows_written = 0

    def next_week(self) -> tuple[dt.date, list[dict]]:
        date = START_DATE + dt.timedelta(weeks=self.week)
        self.week += 1
        rows = []
        for c in self.contracts:
            if self.rng.random() >= self.present:
                continue
            listing = self.listings[c]
            price = listing["PriceCurrencyFormated"]
            if self.rng.random() < self.mutate and price is not None:
                price = round(price * 1.03, 2)
                listing = self.listings[c] = dict(listing, PriceCurrencyFormated=price)
            if c not in self.last_price or self.last_price[c] != price:
                self.versions += 1
            self.last_price[c] = price
            rows.append(listing)
        self.rows_written += len(rows)
        return date, rows


# Documents corpus, the shape of the sf0.1 `documents` table: a 30-word
# vocabulary, 10-100 words per doc, five languages with English the
# largest, 20 sources by id, and 5% near-duplicates (a copy of another
# doc plus the token "dup"; two copies of one doc make an exact pair).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
CORPUS_SEED = 20240101


def make_corpus(n_docs: int) -> list[tuple[int, str, str, str, int]]:
    """The fixed corpus (doc_id, text, lang, source, n_chars). Its content
    does not depend on the workload seed; the seed only permutes rows."""
    rng = random.Random(CORPUS_SEED)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))) for _ in range(n_docs)]
    langs = [rng.choices(LANGS, LANG_WEIGHTS)[0] for _ in range(n_docs)]
    dups = set(rng.sample(range(n_docs), n_docs // 20))
    originals = [i for i in range(n_docs) if i not in dups]
    for i in sorted(dups):
        texts[i] = texts[rng.choice(originals)] + " dup"
    return [(i, texts[i], langs[i], f"src{i % 20}", len(texts[i])) for i in range(n_docs)]


def write_corpus(path: str, n_docs: int, seed: int) -> None:
    """Write the corpus as one parquet file, rows in a seeded order."""
    docs = make_corpus(n_docs)
    random.Random(seed).shuffle(docs)
    cols = list(zip(*docs))
    _write(path, {"doc_id": (cols[0], "int64"), "text": (cols[1], "string"), "lang": (cols[2], "string"),
                  "source": (cols[3], "string"), "n_chars": (cols[4], "int64")})


# Query-probe tables (schemas and value ranges of the sf0.1 tables). The
# tables the probe's named layers read are at sf0.1 size — customer (SCD2
# merge), events, embeddings; orders and lineitem at sf0.01 size.
N_CUSTOMERS = 15_000
N_ORDERS = 15_000
N_LINEITEMS = 60_000
N_EVENTS = 100_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_probe_tables(folder: str, seed: int) -> None:
    """Write region, nation, customer, orders, lineitem, events and
    embeddings as `<folder>/<name>.parquet`."""
    rng = random.Random(seed)
    os.makedirs(folder, exist_ok=True)
    day = dt.datetime(1995, 1, 1)

    def w(name, cols):
        _write(os.path.join(folder, f"{name}.parquet"), cols)

    w("region", {"r_regionkey": (range(5), "int32"), "r_name": (REGIONS, "string")})
    w("nation", {"n_nationkey": (range(25), "int32"), "n_name": ([f"NATION_{i}" for i in range(25)], "string"),
                 "n_regionkey": ([i % 5 for i in range(25)], "int32")})
    n = N_CUSTOMERS
    w("customer", {
        "c_custkey": (range(n), "int64"),
        "c_name": ([f"Customer#{i:09d}" for i in range(n)], "string"),
        "c_nationkey": ([rng.randrange(25) for _ in range(n)], "int32"),
        "c_acctbal": ([round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)], "float64"),
        "c_mktsegment": ([rng.choice(SEGMENTS) for _ in range(n)], "string"),
    })
    n = N_ORDERS
    w("orders", {
        "o_orderkey": (range(n), "int64"),
        "o_custkey": ([rng.randrange(N_CUSTOMERS) for _ in range(n)], "int64"),
        "o_orderstatus": ([rng.choice("FOP") for _ in range(n)], "string"),
        "o_totalprice": ([round(rng.uniform(1000, 500000), 2) for _ in range(n)], "float64"),
        "o_orderdate": ([day + dt.timedelta(days=rng.randrange(2404)) for _ in range(n)], "timestamp"),
        "o_orderpriority": ([rng.choice(PRIORITIES) for _ in range(n)], "string"),
    })
    n = N_LINEITEMS
    flags = [rng.choice(["AF", "AO", "NF", "NO", "RF", "RO"]) for _ in range(n)]
    qty = [float(rng.randint(1, 50)) for _ in range(n)]
    w("lineitem", {
        "l_orderkey": ([rng.randrange(N_ORDERS) for _ in range(n)], "int64"),
        "l_partkey": ([rng.randrange(20_000) for _ in range(n)], "int64"),
        "l_suppkey": ([rng.randrange(1_000) for _ in range(n)], "int64"),
        "l_linenumber": ([rng.randint(1, 7) for _ in range(n)], "int32"),
        "l_quantity": (qty, "float64"),
        "l_extendedprice": ([round(q * rng.uniform(900, 2100), 2) for q in qty], "float64"),
        "l_discount": ([rng.randint(0, 10) / 100 for _ in range(n)], "float64"),
        "l_tax": ([rng.randint(0, 8) / 100 for _ in range(n)], "float64"),
        "l_returnflag": ([f[0] for f in flags], "string"),
        "l_linestatus": ([f[1] for f in flags], "string"),
        "l_shipdate": ([day + dt.timedelta(days=rng.randrange(2499)) for _ in range(n)], "timestamp"),
    })
    n = N_EVENTS
    t0, span_us = dt.datetime(2024, 1, 1), 30 * 86400 * 10**6
    w("events", {
        "event_id": (range(n), "int64"),
        "ts": ([t0 + dt.timedelta(microseconds=u) for u in sorted(rng.randrange(span_us) for _ in range(n))],
               "timestamp"),
        "user_id": ([rng.randrange(1_500) for _ in range(n)], "int64"),
        "event_type": ([rng.choice(EVENT_TYPES) for _ in range(n)], "string"),
        "value": ([round(rng.expovariate(1 / 50), 2) for _ in range(n)], "float64"),
        "props": ([json.dumps({"k": rng.randrange(100)}) for _ in range(n)], "string"),
    })
    vecs = []
    for _ in range(N_EMBEDDINGS):
        v = [rng.gauss(0, 1) for _ in range(EMBED_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    w("embeddings", {"vec_id": (range(N_EMBEDDINGS), "int64"), "embedding": (vecs, "list<float>"),
                     "label": ([rng.randrange(10) for _ in range(N_EMBEDDINGS)], "int32")})


def _write(path: str, cols: dict[str, tuple]) -> None:
    """Write {name: (values, type)} as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(), "string": pa.string(),
             "timestamp": pa.timestamp("us"), "list<float>": pa.list_(pa.float32())}
    table = pa.table({name: pa.array(list(vals), types[t]) for name, (vals, t) in cols.items()})
    pq.write_table(table, path)


def tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )
