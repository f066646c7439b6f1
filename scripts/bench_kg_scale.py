"""Real-KG graph-demo family at extraction scale (round-4 verdict
task 4): the kg_* graph demos (modularity, edge-cut audit, host-SCC
bowtie, PARIS alignment, community LPA) normally run on the 400-doc
demo corpus; the extraction pipeline itself handles 50k docs in ~18 s,
so the 100 TB plan-shape claims are cheap to validate on a 125x bigger
REAL input.  This script monkeypatches the demo corpus size and times
each family member end-to-end (first call pays the shared
extract_graph + co-mention/LPA build; the table reports both).

Usage:  python scripts/bench_kg_scale.py [--docs 50000] [--cpus 32]
Prints one JSON line; paste the table into BENCH_EXTRAS.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from python_mecab_ner_spark.hostconf import driver_memory

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("kg-scale-bench")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    e.N_KG_DOCS = args.docs          # scale the demo corpus

    timings: dict[str, float] = {}
    results: dict[str, object] = {}

    def run(name, fn, grab):
        t0 = time.time()
        rows = fn(spark, None).collect()
        timings[name] = round(time.time() - t0, 2)
        results[name] = grab(rows)
        print(f"{name}: {timings[name]} s -> {results[name]}",
              flush=True)

    # shared builds first, so per-demo numbers are marginal costs:
    t0 = time.time()
    g = e._kg_graph(spark)
    n_edges = g["edges"].count()
    timings["extract_graph"] = round(time.time() - t0, 2)
    results["n_edges"] = n_edges
    t0 = time.time()
    sym, lpa, n_nodes, _ = e._kg_dense_sym(spark)
    timings["dense_sym_lpa"] = round(time.time() - t0, 2)
    results["n_cooc_nodes"] = n_nodes
    results["n_sym_edges"] = sym.count()

    run("kg_modularity", e.kg_modularity,
        lambda r: {"q_ppm": r[0]["modularity_ppm"],
                   "n_communities": r[0]["n_communities"]})
    run("kg_edge_cut", e.kg_edge_cut,
        lambda r: {x["layout"]: x["cut_ppm"] for x in r})
    run("kg_host_scc", e.kg_host_scc,
        lambda r: {"largest_scc": r[0]["scc_size"],
                   "n_size_classes": len(r)})
    run("kg_entity_alignment", e.kg_entity_alignment,
        lambda r: {"n_aligned": r[0]["n_aligned"],
                   "acc_ppm": r[0]["acc_ppm"]})
    run("kg_entity_communities", e.kg_entity_communities,
        lambda r: {"n_rows": len(r)})
    run("kg_host_trust", e.kg_host_trust,
        lambda r: {"n_hosts": len(r),
                   "max_spam_ppm": max(x["spam_ppm"] for x in r)})
    run("kg_community_labels", e.kg_community_labels,
        lambda r: {"n_rows": len(r),
                   "n_communities": len({x["community"] for x in r})})

    # support-threshold sweep: at a FIXED vocabulary a constant
    # min_pairs saturates the co-mention graph as docs grow (the
    # min_pairs=2 run above), while the corpus-proportional ratio
    # (docs/200 = the 400-doc demo's) over-prunes — the 400-doc
    # graph's tail pairs were sampling luck (E[count]~1 pairs clear
    # count>=2 with p~0.26 but never clear the concentrated 125x
    # threshold).  The sweep locates where community structure
    # actually lives at this scale.
    from python_mecab_ner_spark.operators.graph import modularity_ppm
    sweep = []
    for mp in (8, 32, 64, 128, max(2, args.docs // 200)):
        t0 = time.time()
        sym_s, lpa_s, n_nodes_s, _ = e._kg_dense_sym(spark,
                                                     min_pairs=mp)
        row = modularity_ppm(sym_s, lpa_s).collect()[0]
        sweep.append({"min_pairs": mp, "n_nodes": n_nodes_s,
                      "n_sym_edges": sym_s.count(),
                      "q_ppm": row["modularity_ppm"],
                      "n_communities": row["n_communities"],
                      "sec": round(time.time() - t0, 2)})
        print(f"support sweep {sweep[-1]}", flush=True)
    results["support_sweep"] = sweep

    out = {"docs": args.docs, "cpus": args.cpus,
           "timings_sec": timings, "results": results}
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
