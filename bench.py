"""Benchmark harness: headline KG-pipeline throughput + operator queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "docs_per_sec": ..., "triples_per_sec": ...}

Burst-immune protocol (round-4 verdict task 1): repeats are
interleaved ROUND-ROBIN across queries, any query whose spread
exceeds 50% of its median is auto re-measured in a fresh window,
and three zero-Spark host-speed controls (before/between/after)
ride in the artifact — "control_ratio" near 1.0 certifies a quiet
host; "burst_suspect" lists queries still wide after re-measure.

The kg_pipeline entry is the headline: synthesized pages corpus sized
to the scale factor (sf0.1 -> 50,000 docs) through the fused annotate
stage to materialized triple counts.  Scaling-efficiency evidence
(local[8] vs local[32]) lives in scripts/bench_scaling.py -> BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_DOCS = max(500, int(500_000 * SF))  # sf0.1 -> 50,000 docs

BENCH_QUERIES = [
    "q01_pricing_summary", "q02_region_revenue", "q04_event_islands",
    "q05_nearest_click", "q08_word_freq", "q09_neighbor_window",
    "q16_jaccard_pairs", "q17_lsh_pairs", "q18_simhash",
    "q20_ann_bruteforce", "q21_ann_lsh", "q43_dup_argmax",
    "q44_evidence_scores", "q48_line_dedup", "q50_bigram_pmi",
    "q54_window_dedup",
    # round 4 additions (comparisons vs earlier rounds use the shared
    # subset, as in VERDICT r3's like-for-like table)
    "q147_bcubed_eval", "q148_encoding_audit", "q149_ngram_diversity",
    "q154_modularity", "q157_edge_cut", "q160_contrastive_pairs",
    "q161_wl_classes",
    # round 5 additions
    "q171_sorted_neighborhood", "q173_ktruss",
    # late round 5: the Luby-MIS iterative kernel and the broadcast
    # integer-MAC decontamination scan
    "q177_mis", "q180_semantic_decon",
    # final round-5 sweep: edge matching and the Brandes
    # forward/backward multi-join kernel
    "q188_merge_matching", "q190_betweenness",
    # round-5 closeout: the greedy-coverage selection loop and the
    # URL-template scan
    "q193_coverage_selection", "q195_url_templates",
    # round-5 continuation: the densest-core peel and the JSONL
    # corrupt-ledger ingest round-trip (q197 Boruvka is tracked
    # standalone in BENCH_EXTRAS — its ~25 s sf0.1 wall would
    # dominate the interleaved suite)
    "q198_densest", "q203_jsonl_ledger",
    # post-closeout: TextRank's tokenization+PR composition and the
    # z-order zone-map audit scan
    "q209_textrank", "q210_zorder_layout",
]


def build_spark(cpus: int):
    from pyspark.sql import SparkSession
    from python_mecab_ner_spark.hostconf import driver_memory
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("python-mecab-ner-spark-bench")
            .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", driver_memory())
            .config("spark.ui.enabled", "false")
            .getOrCreate())


REPEATS = 3
# a query is re-measured when its spread exceeds this fraction of its
# median (and the median is above the noise floor where 50% swings are
# sub-100ms scheduler jitter, not host bursts)
SPREAD_FRAC = 0.5
SPREAD_FLOOR_SEC = 0.4
EXTRA_REPEATS = 4


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _control_worker(args):
    start, docs = args
    from python_mecab_ner_spark.kernel.lexicon import (default_lexicon,
                                                       load_gazetteer_rows)
    from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer,
                                                       find_mentions,
                                                       infer_extend,
                                                       ner_spans)
    from python_mecab_ner_spark.kernel.tokenizer import tokenize
    from python_mecab_ner_spark.kernel.triples import extract_triples
    from python_mecab_ner_spark.sources.corpus import gen_pages
    lex = default_lexicon()
    gaz = CompiledGazetteer(load_gazetteer_rows())
    for page in gen_pages(docs, seed=7, start=start):
        toks = tokenize(page["text"], lex)
        if toks:
            spans = ner_spans(toks, infer_extend(find_mentions(toks, gaz),
                                                 toks))
            extract_triples(toks, spans)
    return docs


def _control_sec(docs: int = 1500, procs: int = 8) -> float:
    """Zero-Spark host-speed probe: the kernel pipeline (gen ->
    tokenize -> match -> triples) over a multiprocessing pool.
    PARALLEL on purpose — a co-tenant eating cores inflates 32-way
    suite timings uniformly while barely moving a single-thread
    probe (measured: suite +35% inside a loadavg-3.7 window whose
    1-thread control read only +20%); a multi-core probe sees the
    contention the suite feels.  Run before/between/after the suite;
    control_ratio far from 1.0 (or all probes slow vs a committed
    quiet-host reference, ~0.12 s at 8 procs) marks a dirty window
    in the artifact itself (round-4 verdict task 1)."""
    import multiprocessing as mp
    per = max(200, docs // procs)

    def one() -> float:
        t0 = time.time()
        with mp.Pool(procs) as pool:
            pool.map(_control_worker,
                     [(i * per, per) for i in range(procs)])
        return time.time() - t0

    # each probe is itself a median-of-3 so one descheduled slice
    # doesn't fake a burst verdict
    return _median([one(), one(), one()])


def _run_once(spark, qs, name: str) -> float:
    t0 = time.time()
    qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _measure_interleaved(spark, qs, names, repeats):
    """ROUND-ROBIN repeats: pass r runs every query once before any
    query runs its pass r+1.  A host burst therefore lands on ONE
    repeat of many queries (rejected per-query by the median) instead
    of on ALL repeats of one query (unfixable) — the parquet-barrier
    A/B pairing trick generalized to the whole suite."""
    runs = {n: [] for n in names}
    for _ in range(repeats):
        for n in names:
            runs[n].append(_run_once(spark, qs, n))
    return runs


def run_kg_pipeline(spark, n_docs: int) -> dict:
    """Headline: pages (from storage) -> annotate -> triple counts.

    The corpus is materialized to parquet first (reported separately
    as gen_sec): the production job reads Iceberg, it does not
    synthesize input, and measuring from storage keeps the annotate
    stage a single Python-worker layer (chained mapInPandas would
    double the Python processes per task slot).  Median of REPEATS
    runs, each on fresh lineage (a no-op filter salt defeats
    shuffle-stage reuse across repeats)."""
    import tempfile

    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.annotate import annotate_pages
    from python_mecab_ner_spark.sources.corpus import pages_dataframe
    from python_mecab_ner_spark.sources.gazetteer import broadcast_rows

    corpus = f"{tempfile.gettempdir()}/kg_bench_corpus_v3_{n_docs}"  # v3: level-5 novel-compound docs added in round 3
    t0 = time.time()
    if not Path(corpus, "_SUCCESS").exists():
        (pages_dataframe(spark, n_docs, seed=42,
                         partitions=spark.sparkContext.defaultParallelism * 2)
         .select("url", "warc_ts", "text", "lang")
         .write.mode("overwrite").parquet(corpus))
    gen_sec = time.time() - t0

    par = spark.sparkContext.defaultParallelism
    input_bytes = sum(f.stat().st_size for f in Path(corpus).glob("*.parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(1 << 20, input_bytes // (par * 2))))
    pages = spark.read.parquet(corpus)
    bc = broadcast_rows(spark)
    # warmup: spawn the Python workers + build the per-worker automaton
    # so the measured run is steady-state (matches bench_scaling.py)
    annotate_pages(pages.limit(2000).repartition(par), bc) \
        .agg(F.count("*")).collect()
    walls, agg = [], None
    for i in range(REPEATS):
        p = pages.where(F.col("url") != F.lit(f"zz{i}"))
        t0 = time.time()
        ann = annotate_pages(p, bc)
        agg = ann.agg(F.count("*").alias("docs"),
                      F.sum(F.size("triples")).alias("triples"),
                      F.sum(F.size("mentions")).alias("mentions")).collect()[0]
        walls.append(time.time() - t0)
    wall = _median(walls)
    return {"sec": wall, "spread": round(max(walls) - min(walls), 3),
            "gen_sec": gen_sec, "docs": int(agg.docs),
            "triples": int(agg.triples), "mentions": int(agg.mentions),
            "docs_per_sec": agg.docs / wall,
            "triples_per_sec": agg.triples / wall}


def main() -> int:
    import __spark_entry__ as entrymod

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    kg = run_kg_pipeline(spark, N_DOCS)
    timings["kg_pipeline"] = round(kg["sec"], 3)

    _control_sec(docs=300, procs=2)  # warm imports out of probe 1
    control = [round(_control_sec(), 3)]

    qs = entrymod.queries()
    # warmup pass at the smallest sf: first-use whole-stage codegen /
    # JIT / parquet-footer caching happens once per query SHAPE, and
    # a throughput benchmark should report the steady-state cost
    for name in BENCH_QUERIES:
        qs[name](spark, SF_DIR.replace(f"sf{SF}", "sf0.001")) \
            .write.format("noop").mode("overwrite").save()
    # burst-immune protocol (round-4 verdict task 1): interleaved
    # round-robin repeats (a burst hits one repeat of many queries,
    # not all repeats of one), per-query median + spread in the
    # artifact, auto re-measure of any query whose spread exceeds
    # SPREAD_FRAC of its median, and zero-Spark host-speed controls
    # before/between/after so a bursty window is visible IN the JSON.
    runs = _measure_interleaved(spark, qs, BENCH_QUERIES, REPEATS)
    control.append(round(_control_sec(), 3))
    flagged = [n for n in BENCH_QUERIES
               if max(runs[n]) - min(runs[n])
               > max(SPREAD_FRAC * _median(runs[n]), SPREAD_FLOOR_SEC)]
    if flagged:
        # the re-measurement window REPLACES the contaminated one —
        # mixing would keep the burst inside the spread forever; if
        # the re-run is wide too, burst_suspect says so
        extra = _measure_interleaved(spark, qs, flagged, EXTRA_REPEATS)
        for n in flagged:
            runs[n] = extra[n]
    control.append(round(_control_sec(), 3))

    spread: dict[str, float] = {"kg_pipeline": kg["spread"]}
    for name in BENCH_QUERIES:
        timings[name] = round(_median(runs[name]), 3)
        spread[name] = round(max(runs[name]) - min(runs[name]), 3)
    still_wide = [n for n in BENCH_QUERIES
                  if spread[n] > max(SPREAD_FRAC * timings[n],
                                     SPREAD_FLOOR_SEC)]

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "kg_pipeline+operator_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "repeats": REPEATS,
        # remeasured queries' medians/spreads come from a REPLACEMENT
        # window of this many runs, not `repeats` (review finding:
        # the artifact must say which window produced each number)
        "repeats_remeasured": EXTRA_REPEATS,
        "remeasured": flagged,
        "burst_suspect": still_wide,
        "control_sec": control,
        "control_ratio": round(max(control) / min(control), 3),
        "sf": SF,
        "kg_gen_sec": round(kg["gen_sec"], 3),
        "kg_docs": kg["docs"],
        "kg_triples": kg["triples"],
        "kg_mentions": kg["mentions"],
        "docs_per_sec": round(kg["docs_per_sec"], 1),
        "triples_per_sec": round(kg["triples_per_sec"], 1),
        "cpus": CPUS,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
