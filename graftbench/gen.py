"""Seeded input generators. The same seed always gives the same inputs;
the engine only ever sees what these functions write.

- food records (the reference's food-nutrition messages, plus the
  ``fdc_id``/``ingredients`` columns of its documented query API),
  written as a ``filelog`` topic: one JSON-lines segment per partition;
- the read-only driver tables the analytics queries run on (a
  TPC-H-shaped star schema, an event stream, documents with planted
  near-duplicates, and embeddings), written as one parquet file each.
"""

from __future__ import annotations

import json
import os
import random
from pathlib import Path

from bigdata_kafka_2_spark.schema import FOOD_NUMERIC_COLUMNS

#: Bump when a generator changes, so cached builds keyed on it rebuild.
VERSION = 1

INGREDIENTS = (
    "sugar", "milk", "cocoa", "peanuts", "wheat flour", "soy lecithin",
    "salt", "egg", "butter", "almonds", "water", "apples", "corn syrup",
    "palm oil", "vanilla", "oats", "rice", "honey", "sesame", "barley malt",
    "whey", "gelatin", "yeast", "tomato", "cheese", "cream", "cashews",
    "mustard", "celery", "shrimp",
)
#: Allergen search terms; substrings of the ingredient names above.
SEARCH_TERMS = ("milk", "peanut", "soy", "egg", "wheat", "sesame", "shrimp", "nut", "cream")

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query stream "
    "filter order group big vector"
).split()


def food_record(rng: random.Random, fdc_id: int, description: str) -> dict:
    protein = rng.uniform(0, 40)
    fat = rng.uniform(0, 30)
    carbs = rng.uniform(0, 60)
    rec = {c: round(rng.uniform(0, 100), 2) for c in FOOD_NUMERIC_COLUMNS}
    rec.update(
        {
            "Protein-G": round(protein, 2),
            "Total lipid (fat)-G": round(fat, 2),
            "Carbohydrate, by difference-G": round(carbs, 2),
            "Energy-KCAL": round(4 * protein + 9 * fat + 4 * carbs + rng.uniform(-20, 20), 2),
            "fdc_id": fdc_id,
            "description": description,
            "ingredients": ", ".join(rng.sample(INGREDIENTS, rng.randint(3, 6))),
        }
    )
    return rec


def write_topic(path: Path, records, partitions: int, corrupt: float, seed: int) -> dict:
    """Write ``records`` round-robin into ``partitions`` segments, with a
    ``corrupt`` share of lines replaced by unparseable JSON. Returns the
    producer's counts."""
    rng = random.Random(seed)
    path.mkdir(parents=True, exist_ok=True)
    fhs = [open(path / f"segment-{p}.jsonl", "w", encoding="utf-8") for p in range(partitions)]
    n = bad = 0
    try:
        for i, rec in enumerate(records):
            fh = fhs[i % partitions]
            if rng.random() < corrupt:
                fh.write('{"description": "truncated\n')
                bad += 1
            else:
                fh.write(json.dumps(rec) + "\n")
            n += 1
    finally:
        for fh in fhs:
            fh.close()
    return {"messages": n, "corrupt": bad}


def food_rows(seed: int, n: int, prefix: str) -> list[dict]:
    rng = random.Random(seed)
    return [food_record(rng, i + 1, f"{prefix} {seed} item {i:06d}") for i in range(n)]


# --- analytics tables -------------------------------------------------------

TABLE_ROWS = {
    "full": {"customer": 500, "orders": 5000, "lineitem": 20000, "events": 4000,
             "documents": 150, "embeddings": 300},
    "tiny": {"customer": 150, "orders": 1500, "lineitem": 6000, "events": 1000,
             "documents": 60, "embeddings": 60},
}


def _documents(rng: random.Random, n: int):
    """Random word documents plus planted near-duplicates: a copy with
    its last word changed (Jaccard over word 3-shingles ~0.97) and,
    for some, a copy of the copy with its first word changed, so
    duplicate clusters are chains of up to three documents."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.08:
            words = texts[rng.randrange(i)].split()
            if rng.random() < 0.5:
                words[-1] = rng.choice(WORDS)
            else:
                words[0] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(40, 90))))
    langs = ("en", "en", "en", "zh", "es", "de", "fr")
    return [
        (i, t, rng.choice(langs), f"src{i % 20}", len(t)) for i, t in enumerate(texts)
    ]


def write_tables(out: Path, seed: int, size: str) -> None:
    """The driver-shaped tables, one ``<name>.parquet`` each."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = TABLE_ROWS[size]
    rs = np.random.default_rng(seed)
    rng = random.Random(seed)
    out.mkdir(parents=True, exist_ok=True)

    def save(name: str, cols: dict, schema: pa.Schema) -> None:
        pq.write_table(pa.table(cols, schema=schema), out / f"{name}.parquet")

    def days(n: int, start: dt.date, end: dt.date):
        span = (end - start).days
        base = np.datetime64(start, "us")
        return base + rs.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    save("region", {"r_regionkey": list(range(5)),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
         pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    save("nation", {"n_nationkey": list(range(25)),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": [i % 5 for i in range(25)]},
         pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                    ("n_regionkey", pa.int32())]))
    save("supplier", {
        "s_suppkey": np.arange(100, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(100)],
        "s_nationkey": rs.integers(0, 25, 100, dtype=np.int32),
        "s_acctbal": np.round(rs.uniform(-999.99, 9999.99, 100), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    save("part", {
        "p_partkey": np.arange(2000, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(2000)],
        "p_brand": [f"Brand#{b}" for b in rs.integers(11, 56, 2000)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                            "PROMO"])[rs.integers(0, 6, 2000)],
        "p_size": rs.integers(1, 51, 2000, dtype=np.int32),
        "p_retailprice": np.round(rs.uniform(900, 2100, 2000), 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    nc = rows["customer"]
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    save("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rs.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segs[rs.integers(0, 5, nc)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    no = rows["orders"]
    save("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rs.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["P", "F", "O"])[rs.integers(0, 3, no)],
        "o_totalprice": np.round(rs.uniform(1000, 500000, no), 2),
        "o_orderdate": days(no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rs.integers(0, 5, no)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))
    nl = rows["lineitem"]
    save("lineitem", {
        "l_orderkey": rs.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rs.integers(0, 2000, nl, dtype=np.int64),
        "l_suppkey": rs.integers(0, 100, nl, dtype=np.int64),
        "l_linenumber": rs.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rs.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rs.uniform(900, 105000, nl), 2),
        "l_discount": rs.integers(0, 11, nl) / 100.0,
        "l_tax": rs.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rs.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rs.integers(0, 2, nl)],
        "l_shipdate": days(nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))
    ne = rows["events"]
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rs.integers(0, month_us, ne)
    ).astype("timedelta64[us]")
    save("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rs.integers(0, 150, ne, dtype=np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rs.integers(0, 5, ne)],
        "value": np.round(rs.uniform(0, 50, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rs.integers(0, 100, ne)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))
    docs = _documents(rng, rows["documents"])
    save("documents", {
        "doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs], "source": [d[3] for d in docs],
        "n_chars": [d[4] for d in docs],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))
    nv = rows["embeddings"]
    vecs = rs.standard_normal((nv, 64)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rs.integers(0, 10, nv, dtype=np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


def atomic_dir(final: Path):
    """A temp sibling of ``final`` to build into, then rename — a cache
    entry either exists whole or not at all."""
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    return tmp
