"""Real-host-graph benchmark: the round-4 task of exercising the
host-level KG operators (weighted PageRank, co-citation, butterflies)
on the NON-TRIVIAL host graph the 200-host Zipf corpus now emits —
round 3's 5-host pool made these demonstrations structurally tiny.

Synthesizes --docs pages (distributed mapInPandas, same generator as
bench_link), extracts the host graph once (materialized — graph shape
is reported), then times each operator end-to-end from the
materialized edge list.  Median of --repeats after one warmup.

Usage: python scripts/bench_hostgraph.py [--docs 50000] [--repeats 3]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def build_spark(cpus: int):
    from pyspark.sql import SparkSession
    from python_mecab_ner_spark.hostconf import driver_memory
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("bench-hostgraph")
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", driver_memory())
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from python_mecab_ner_spark.functions.text import md5_int
    from python_mecab_ner_spark.operators.graph import (
        butterfly_counts, neighbor_jaccard, pagerank_weighted_int)
    from python_mecab_ner_spark.operators.weblinks import host_graph
    from python_mecab_ner_spark.sources.corpus import pages_dataframe

    spark = build_spark(args.cpus)
    pages = pages_dataframe(spark, args.docs, seed=42)
    t0 = time.time()
    hg = host_graph(pages).localCheckpoint()  # materialize the graph
    n_edges = hg.count()
    extract_sec = time.time() - t0
    n_links = hg.agg(F.sum("n_links")).collect()[0][0]
    n_hosts = (hg.select(F.col("src_host").alias("h"))
               .union(hg.select("dst_host")).distinct().count())

    ids = hg.select(md5_int(F.col("src_host")).alias("src"),
                    md5_int(F.col("dst_host")).alias("dst"),
                    F.col("n_links").alias("w")).localCheckpoint()

    def run_pr():
        return pagerank_weighted_int(ids, iters=3).count()

    def run_cocite():
        return neighbor_jaccard(ids.select("src", "dst"),
                                min_common=1).count()

    def run_bfly():
        return butterfly_counts(ids.select("src", "dst"),
                                max_center_degree=256).count()

    ops = {"pagerank_weighted": run_pr, "cocitation": run_cocite,
           "butterflies": run_bfly}
    out = {"docs": args.docs, "cpus": args.cpus, "n_hosts": n_hosts,
           "n_edges": n_edges, "n_links": int(n_links),
           "extract_sec": round(extract_sec, 3), "ops": {}}
    for name, fn in ops.items():
        rows = fn()  # warmup (codegen + python workers)
        times = []
        for _ in range(args.repeats):
            t = time.time()
            fn()
            times.append(time.time() - t)
        out["ops"][name] = {"rows": rows,
                            "median_sec": round(statistics.median(times), 3),
                            "spread": round(max(times) - min(times), 3)}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
