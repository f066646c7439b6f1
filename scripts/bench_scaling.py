"""Scaling-efficiency evidence for the north_rule's two-cluster-size
criterion, sandbox-proxied by local parallelism levels: the same
annotate-from-storage job (pages parquet -> fused tokenize + gazetteer
match + triple extraction -> counts) on the same input at local[N] and
local[4N]; efficiency = tp(4N) / (4 x tp(N)).

Methodology notes (all enforced here):
- the corpus is materialized to parquet ONCE, outside timing, so both
  levels read the identical input from storage (the north_rule's
  workload shape: the production job reads Iceberg, it does not
  synthesize). Synthesizing inline would also chain two mapInPandas
  stages, i.e. 2 Python workers per task slot, letting local[N] use
  2N cores and corrupting the comparison.
- each measurement runs in a FRESH subprocess (own JVM, own Python
  workers): no shared JIT warmup or cached state between levels.
- a warmup run precedes each measured run (JVM + Arrow + worker
  spawn amortized equally at both levels).
- a no-Spark multiprocessing control (the same md5-bound work pattern
  at N and 4N processes) measures the HARDWARE's own scaling ceiling
  on this box (turbo/frequency + shared cache effects); reported
  alongside so framework efficiency is separable from machine
  efficiency.

Usage:
  python scripts/bench_scaling.py [--docs 400000] [--repeats 3] \
      [--levels 8,32] [--out BENCH.md]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _build_spark(cpus: int, set_master: bool = True):
    from pyspark.sql import SparkSession
    from python_mecab_ner_spark.hostconf import driver_memory
    b = SparkSession.builder
    if set_master:
        # under spark-submit the master comes from --master; setting it
        # here would override the submitted value
        b = b.master(f"local[{cpus}]")
    return (b.appName(f"kg-scaling-{cpus}")
            .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", driver_memory())
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def materialize_corpus(n_docs: int, out_path: str, partitions: int = 256):
    """One-time corpus write (NOT part of any measurement).  256
    output files -> >=8 task waves at local[32]: a straggler costs
    1/8 of a wave, not half a 2-wave schedule."""
    from python_mecab_ner_spark.sources.corpus import pages_dataframe
    if Path(out_path, "_SUCCESS").exists():
        return
    spark = _build_spark(32)
    spark.sparkContext.setLogLevel("ERROR")
    (pages_dataframe(spark, n_docs, seed=42, partitions=partitions)
     .select("url", "warc_ts", "text", "lang")
     .write.mode("overwrite").parquet(out_path))
    spark.stop()


def run_child(cpus: int, corpus_path: str, via_submit: bool = False) -> int:
    """One measurement: read pages parquet -> annotate -> counts."""
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.annotate import annotate_pages
    from python_mecab_ner_spark.sources.gazetteer import broadcast_rows

    spark = _build_spark(cpus, set_master=not via_submit)
    spark.sparkContext.setLogLevel("ERROR")
    # split the scan ~2 tasks per core for balance at every level
    input_bytes = sum(f.stat().st_size
                      for f in Path(corpus_path).glob("*.parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(1 << 20, input_bytes // (cpus * 2))))
    pages = spark.read.parquet(corpus_path)
    bc = broadcast_rows(spark)

    def once():
        t0 = time.time()
        agg = (annotate_pages(pages, bc)
               .agg(F.count("*").alias("docs"),
                    F.sum(F.size("triples")).alias("triples")).collect()[0])
        return time.time() - t0, int(agg.docs), int(agg.triples)

    once()  # warmup: JVM, codegen, python worker spawn
    wall, docs, triples = once()
    print("CHILD_RESULT " + json.dumps({
        "cpus": cpus, "sec": wall, "docs": docs, "triples": triples,
        "docs_per_sec": docs / wall, "triples_per_sec": triples / wall}))
    spark.stop()
    return 0


def measure(cpus: int, corpus_path: str) -> dict:
    """Each measurement is a REAL `spark-submit --master local[N]
    --py-files pkg.zip` invocation (the north_rule's run mode) when
    spark-submit is on PATH; plain python subprocess otherwise."""
    import shutil

    from python_mecab_ner_spark.hostconf import driver_memory
    submit = shutil.which("spark-submit")
    if submit:
        zip_path = REPO / "dist" / "python_mecab_ner_spark.zip"
        if not zip_path.exists():
            subprocess.run([sys.executable,
                            str(REPO / "scripts" / "make_pyfiles_zip.py")],
                           check=True, cwd=str(REPO))
        cmd = [submit, "--master", f"local[{cpus}]",
               "--driver-memory", driver_memory(),
               "--py-files", str(zip_path),
               __file__, "--child", str(cpus), corpus_path, "--via-submit"]
    else:
        cmd = [sys.executable, __file__, "--child", str(cpus), corpus_path]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(REPO), timeout=1200)
    for line in out.stdout.splitlines():
        if line.startswith("CHILD_RESULT "):
            return json.loads(line[len("CHILD_RESULT "):])
    raise RuntimeError(
        f"child local[{cpus}] produced no result:\n{out.stdout[-2000:]}\n"
        f"{out.stderr[-2000:]}")


def hardware_control(n: int, n4: int, docs: int = 96_000) -> dict:
    """No-framework control: THE SAME kernel workload (corpus gen +
    tokenize + gazetteer match + triple extraction) via raw
    multiprocessing at N and 4N processes.  This measures the
    machine's own scaling ceiling for this (allocation/memory-bound)
    Python workload with zero Spark in the loop; on a real N->4N
    EXECUTOR cluster each node brings its own memory subsystem, so
    this single-box ceiling does not apply there."""
    import multiprocessing as mp

    def tp(procs: int) -> float:
        chunks = procs * 2
        per = docs // chunks
        args = [(i * per, per) for i in range(chunks)]
        with mp.Pool(procs) as pool:
            t0 = time.time()
            pool.map(_kernel_work, args)
            return (per * chunks) / (time.time() - t0)

    tp_n, tp_n4 = tp(n), tp(n4)
    return {"procs": [n, n4], "docs_per_sec": [round(tp_n), round(tp_n4)],
            "efficiency": round(tp_n4 / (4 * tp_n), 3)}


def _kernel_work(args) -> int:
    start, n = args
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
    cnt = 0
    for page in gen_pages(n, seed=42, start=start):
        toks = tokenize(page["text"], lex)
        if toks:
            spans = ner_spans(toks, infer_extend(find_mentions(toks, gaz),
                                                 toks))
            cnt += len(extract_triples(toks, spans))
    return cnt


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", nargs=2, metavar=("CPUS", "CORPUS"))
    ap.add_argument("--via-submit", action="store_true",
                    help="child runs under spark-submit (master set there)")
    ap.add_argument("--docs", type=int, default=400_000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--corpus-parts", type=int, default=256)
    ap.add_argument("--out", default=str(REPO / "BENCH.md"))
    args = ap.parse_args()

    if args.child:
        return run_child(int(args.child[0]), args.child[1],
                         via_submit=args.via_submit)

    levels = [int(x) for x in args.levels.split(",")]
    assert len(levels) == 2 and levels[1] == 4 * levels[0], \
        "levels must be N,4N"
    n, n4 = levels

    corpus = f"/tmp/kg_scaling_corpus_v3_{args.docs}_{args.corpus_parts}"  # v3: level-5 novel-compound docs added in round 3
    print(f"materializing corpus ({args.docs:,} docs) ...", flush=True)
    materialize_corpus(args.docs, corpus, partitions=args.corpus_parts)

    results: dict[int, list[dict]] = {}
    for cpus in levels:
        results[cpus] = []
        for r in range(args.repeats):
            res = measure(cpus, corpus)
            results[cpus].append(res)
            print(f"local[{cpus}] run {r + 1}/{args.repeats}: "
                  f"{res['docs_per_sec']:.0f} docs/s "
                  f"{res['triples_per_sec']:.0f} triples/s "
                  f"({res['sec']:.1f}s)", flush=True)

    print("hardware control (no Spark) ...", flush=True)
    ctl = hardware_control(n, n4)

    med = {c: {
        "docs_per_sec": statistics.median(x["docs_per_sec"] for x in rs),
        "triples_per_sec": statistics.median(x["triples_per_sec"] for x in rs),
        "sec": statistics.median(x["sec"] for x in rs),
        "docs": rs[0]["docs"], "triples": rs[0]["triples"],
    } for c, rs in results.items()}
    eff = med[n4]["docs_per_sec"] / (4 * med[n]["docs_per_sec"])

    summary = {
        "metric": "kg_pipeline_scaling_efficiency",
        "levels": levels, "docs": args.docs, "repeats": args.repeats,
        "median": med,
        "efficiency": round(eff, 3),
        "hardware_control": ctl,
        "efficiency_vs_hardware_ceiling": round(eff / ctl["efficiency"], 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(summary))
    Path(REPO / f"bench_scaling_{n}_{n4}.json").write_text(
        json.dumps(summary, indent=1))
    Path(args.out).write_text(_render_md())
    print(f"wrote {args.out}")
    return 0


def _render_md() -> str:
    """Combined BENCH.md from every bench_scaling_<n>_<n4>.json."""
    pairs = []
    for f in sorted(REPO.glob("bench_scaling_*.json")):
        pairs.append(json.loads(f.read_text()))
    pairs.sort(key=lambda s: s["levels"][0])

    rows, sections = [], []
    for s in pairs:
        n, n4 = s["levels"]
        m, m4 = s["median"][str(n)] if str(n) in s["median"] else s["median"][n], \
            s["median"][str(n4)] if str(n4) in s["median"] else s["median"][n4]
        ctl = s["hardware_control"]
        rows.append(
            f"| local[{n}] -> local[{n4}] | {m['docs_per_sec']:.0f} | "
            f"{m4['docs_per_sec']:.0f} | **{s['efficiency']:.3f}** | "
            f"{ctl['efficiency']:.3f} | "
            f"{s['efficiency_vs_hardware_ceiling']:.3f} | "
            f"{s['docs']:,} x{s['repeats']} |")
        sections.append(
            f"- N={n}: local[{n}] {m['sec']:.1f}s "
            f"({m['docs_per_sec']:.0f} docs/s, {m['triples_per_sec']:.0f} "
            f"triples/s) vs local[{n4}] {m4['sec']:.1f}s "
            f"({m4['docs_per_sec']:.0f} docs/s); no-framework control at "
            f"{n}/{n4} procs: {ctl['docs_per_sec'][0]:,}/"
            f"{ctl['docs_per_sec'][1]:,} docs/s.")

    return f"""# BENCH — measured scaling efficiency (N -> 4N)

North-rule criterion: throughput scaling efficiency >= 0.8 from N to
4N executors. Sandbox proxy (per task instruction): the same
annotate-from-storage job (pages parquet -> fused tokenize +
gazetteer match + triple extraction -> counts; identical input,
seed=42) at local[N] vs local[4N]; fresh JVM per measurement, warmup
run before each measured run, median of repeats. The corpus is
materialized to parquet once, outside timing — the production job
reads Iceberg, it does not synthesize input (and inline synthesis
would chain a second mapInPandas, giving each task slot two Python
workers and letting local[N] consume 2N cores).

| pair | docs/s @N | docs/s @4N | Spark eff | hardware ceiling | eff vs ceiling | input |
|---|---|---|---|---|---|---|
{chr(10).join(rows)}

`hardware ceiling` = the SAME kernel workload (corpus gen + tokenize
+ gazetteer match + triple extraction) via raw multiprocessing — zero
Spark — at N vs 4N processes on this box. The workload is
allocation/memory-bandwidth-bound Python, so quadrupling processes on
ONE machine shares one memory subsystem and the per-process rate
physically drops; `eff vs ceiling` (Spark efficiency divided by that
machine ceiling) isolates the framework's own overhead. On a real
N -> 4N **executor** cluster every node brings its own memory
subsystem, so the cluster-scaling expectation corresponds to `eff vs
ceiling`, not to the single-box number.

Details:
{chr(10).join(sections)}

## Why the job scales

The measured stage is a single narrow mapInPandas over a parquet scan
split ~2 tasks/core (`spark.sql.files.maxPartitionBytes` computed
from input size); the gazetteer automaton is broadcast once and built
once per Python worker; the only post-scan exchange is the final
2-row partial-aggregate shuffle. No stage reads another stage's
shuffle output, so adding executors divides wall-clock until per-task
overhead dominates.

Reproduce: `python scripts/bench_scaling.py --docs 400000 --levels 8,32`
(and `--docs 100000 --levels 2,8`). Per-round operator timings:
`bench.py` -> `BENCH_r{{N}}.json`.
""" + _extras()


def _extras() -> str:
    """Hand-maintained sections (ANN recall, per-round notes) live in
    BENCH_EXTRAS.md so regenerating the scaling tables never drops
    them."""
    p = REPO / "BENCH_EXTRAS.md"
    return "\n" + p.read_text() if p.exists() else ""


if __name__ == "__main__":
    sys.exit(main())
