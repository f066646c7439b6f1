"""Full 6-level linking benchmark: pages (from storage) ->
extract_graph -> materialize the linked table + link-level histogram.

The round-2 verdict's hot path: annotate with tokens, context explode,
fused stats build, candidate ladder, neighbor scoring, brute pass.
Reports wall seconds (median of --repeats, warm JVM) plus the
annotate-with-tokens portion measured separately, so regressions in
either half are visible.

Usage: python scripts/bench_link.py [--docs 50000] [--repeats 3]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def build_spark(cpus: int):
    from pyspark.sql import SparkSession
    from python_mecab_ner_spark.hostconf import driver_memory
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("bench-link")
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
    ap.add_argument("--disambig", default="neighbor",
                    choices=["neighbor", "duplicate"])
    ap.add_argument("--skew-pct", type=float, default=0.0,
                    help="inject --skew-entity into this fraction of "
                         "Korean docs (head-entity skew stressor)")
    ap.add_argument("--skew-entity", default="미국")
    ap.add_argument("--barrier", action="store_true",
                    help="parquet-barrier variant: write the l0-l2 "
                         "candidate working set to temp parquet and read "
                         "it back instead of cache (A/B for the verdict-"
                         "task-5 measurement)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.annotate import annotate_pages
    from python_mecab_ner_spark.plans.pipeline import extract_graph
    from python_mecab_ner_spark.sources.corpus import pages_dataframe
    from python_mecab_ner_spark.sources.gazetteer import broadcast_rows

    spark = build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    skew = (args.skew_entity, args.skew_pct) if args.skew_pct > 0 \
        else None
    tag = f"_skew{int(args.skew_pct * 100)}" if skew else ""
    corpus = f"{tempfile.gettempdir()}/kg_bench_corpus_v4_{args.docs}{tag}"
    if not Path(corpus, "_SUCCESS").exists():
        (pages_dataframe(spark, args.docs, seed=42,
                         partitions=spark.sparkContext.defaultParallelism * 2,
                         skew=skew)
         .select("url", "warc_ts", "text", "lang")
         .write.mode("overwrite").parquet(corpus))
    par = spark.sparkContext.defaultParallelism
    input_bytes = sum(f.stat().st_size for f in Path(corpus).glob("*.parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(1 << 20, input_bytes // (par * 2))))
    pages = spark.read.parquet(corpus)
    bc = broadcast_rows(spark)

    # warmup: python workers + codegen
    annotate_pages(pages.limit(2000).repartition(par), bc) \
        .agg(F.count("*")).collect()

    barrier_dir = (tempfile.mkdtemp(prefix="link_barrier_")
                   if args.barrier else None)

    def run_once(i):
        p = pages.where(F.col("url") != F.lit(f"zz{i}"))  # fresh lineage
        t0 = time.time()
        g = extract_graph(spark, p, canonicalize=False, kb_holdout_mod=20,
                          disambig=args.disambig,
                          link_barrier_dir=barrier_dir)
        hist = {r.link_level: r.n for r in
                g["linked"].groupBy("link_level")
                .agg(F.count("*").alias("n")).collect()}
        wall = time.time() - t0
        g["release"]()
        return wall, hist

    def annotate_tokens_once(i):
        p = pages.where(F.col("url") != F.lit(f"zz{i}"))
        t0 = time.time()
        annotate_pages(p, bc, with_tokens="context") \
            .agg(F.count("*")).collect()
        return time.time() - t0

    run_once(99)  # warm the full path once
    walls, hist = [], None
    ann_walls = []
    for i in range(args.repeats):
        w, hist = run_once(i)
        walls.append(round(w, 2))
        ann_walls.append(round(annotate_tokens_once(i), 2))

    print(json.dumps({
        "metric": "full_6level_link_wall",
        "disambig": args.disambig,
        "barrier": bool(args.barrier),
        "skew_pct": args.skew_pct,
        "docs": args.docs,
        "cpus": args.cpus,
        "wall_sec_median": statistics.median(walls),
        "wall_sec_all": walls,
        "annotate_tokens_sec_median": statistics.median(ann_walls),
        "annotate_tokens_sec_all": ann_walls,
        "link_levels": {str(k): v for k, v in sorted(hist.items())},
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
