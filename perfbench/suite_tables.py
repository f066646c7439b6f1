"""Seeded tables for the operator_suite workload.

The tables the suite's queries read (region, nation, customer, part,
orders, lineitem, events, documents), with the columns, types and row
counts of the repository's sf0.001 test data, generated from --seed so that the
benchmark reads only inside its checkout.  Each table is one parquet
file, as in the test data.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from pathlib import Path

TABLES = ("region", "nation", "customer", "part", "orders", "lineitem",
          "events", "documents")

ROWS = {"customer": 150, "part": 200, "orders": 1500, "lineitem": 6000,
        "events": 1000, "documents": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["cold", "hot", "red", "blue", "small", "large", "shiny",
              "widget", "gadget", "bolt", "gear", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = ("the a fast slow small big key order sort table scan merge part "
         "window hash join batch spark group query row data filter "
         "customer line value agg vector column stream dup").split()
N_SUPPLIERS = 10
N_USERS = 15


def _price(rng, lo, hi) -> float:
    return round(rng.uniform(lo, hi), 2)


def generate(seed: int) -> dict[str, list[dict]]:
    """table name -> rows; the same seed gives the same rows."""
    rng = random.Random(seed)
    t = {}
    t["region"] = [{"r_regionkey": k, "r_name": n}
                   for k, n in enumerate(REGIONS)]
    t["nation"] = [{"n_nationkey": k, "n_name": f"NATION_{k}",
                    "n_regionkey": k % len(REGIONS)} for k in range(25)]
    t["customer"] = [{"c_custkey": k, "c_name": f"Customer#{k:09d}",
                      "c_nationkey": rng.randrange(25),
                      "c_acctbal": _price(rng, -999.99, 9999.99),
                      "c_mktsegment": rng.choice(SEGMENTS)}
                     for k in range(ROWS["customer"])]
    t["part"] = [{"p_partkey": k,
                  "p_name": f"{rng.choice(PART_WORDS)} {rng.choice(PART_WORDS)}",
                  "p_brand": f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}",
                  "p_type": rng.choice(PART_TYPES),
                  "p_size": rng.randint(1, 50),
                  "p_retailprice": _price(rng, 900, 920)}
                 for k in range(ROWS["part"])]
    day0 = datetime(1995, 1, 1)
    t["orders"] = [{"o_orderkey": k,
                    "o_custkey": rng.randrange(ROWS["customer"]),
                    "o_orderstatus": rng.choice("FOP"),
                    "o_totalprice": _price(rng, 1000, 400000),
                    "o_orderdate": day0 + timedelta(days=rng.randrange(2404)),
                    "o_orderpriority": rng.choice(PRIORITIES)}
                   for k in range(ROWS["orders"])]
    lines, per_order = [], {}
    for _ in range(ROWS["lineitem"]):
        o = rng.randrange(ROWS["orders"])
        per_order[o] = per_order.get(o, 0) + 1
        qty = float(rng.randint(1, 50))
        lines.append({"l_orderkey": o,
                      "l_partkey": rng.randrange(ROWS["part"]),
                      "l_suppkey": rng.randrange(N_SUPPLIERS),
                      "l_linenumber": per_order[o],
                      "l_quantity": qty,
                      "l_extendedprice": round(qty * _price(rng, 900, 2100), 2),
                      "l_discount": rng.randint(0, 10) / 100,
                      "l_tax": rng.randint(0, 8) / 100,
                      "l_returnflag": rng.choice("ANR"),
                      "l_linestatus": rng.choice("FO"),
                      "l_shipdate": day0 + timedelta(days=rng.randrange(2500))})
    t["lineitem"] = lines
    ts0, span_us = datetime(2024, 1, 1), 30 * 86400 * 10**6
    t["events"] = [{"event_id": k,
                    "ts": ts0 + timedelta(microseconds=rng.randrange(span_us)),
                    "user_id": rng.randrange(N_USERS),
                    "event_type": rng.choice(EVENT_TYPES),
                    "value": _price(rng, 0, 500),
                    "props": '{"k": %d}' % rng.randrange(100)}
                   for k in range(ROWS["events"])]
    docs = []
    for k in range(ROWS["documents"]):
        target = rng.randint(64, 560)
        words = []
        while sum(map(len, words)) + len(words) < target:
            words.append(rng.choice(WORDS))
        text = " ".join(words) + " "
        docs.append({"doc_id": k, "text": text, "lang": rng.choice(LANGS),
                     "source": f"src{rng.randrange(20)}",
                     "n_chars": len(text)})
    t["documents"] = docs
    return t


def write(out: Path, seed: int) -> dict[str, int]:
    """Write every table to out/<table>.parquet; -> rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    int32_cols = {"r_regionkey", "n_nationkey", "n_regionkey",
                  "c_nationkey", "p_size", "l_linenumber"}
    out.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, rows in generate(seed).items():
        table = pa.Table.from_pylist(rows)
        schema = pa.schema([
            f.with_type(pa.int32()) if f.name in int32_cols
            else f.with_type(pa.timestamp("us")) if pa.types.is_timestamp(f.type)
            else f for f in table.schema])
        pq.write_table(table.cast(schema), out / f"{name}.parquet")
        counts[name] = len(rows)
    return counts
