"""The benchmark's workloads.

Each workload generates its input from the seed before any timing,
then offers these to run.py:

    setup(spark)        a fresh session's set-up (timed as setup_s)
    warm_check(spark)   untimed output checks run once after set-up
    iterate(spark, i)   one timed pass of the workload -> Pass
    traced(spark)       one pass with every layer call tagged by
                        setJobGroup and forced before the next call
                        -> Traced

The program only ever sees the generated parquet.  Layer times are
taken from outside, around calls into each module's public functions.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import random
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import host
import suite_tables
from python_mecab_ner_spark.kernel.lexicon import load_gazetteer_rows
from python_mecab_ner_spark.kernel.pyref import pyref_spans, pyref_triples
from python_mecab_ner_spark.operators.annotate import annotate_pages
from python_mecab_ner_spark.plans import lineage, pipeline
from python_mecab_ner_spark.sources.corpus import (EPOCH, gen_page,
                                                   gen_pages)
from python_mecab_ner_spark.sources.gazetteer import (broadcast_rows,
                                                      gazetteer_df_from_tsv)

clock = time.perf_counter
PAGE_COLS = ("url", "warc_ts", "text", "lang")


@dataclass
class Pass:
    """One timed pass and what it produced."""
    wall_s: float
    docs: int
    chars: int
    tokens: int
    edges: int
    fingerprint: str
    problems: list[str] = field(default_factory=list)


@dataclass
class Traced:
    """The traced pass: its wall, its start on the event log's clock,
    the per-layer values measured from outside, and its output."""
    wall_s: float
    start_epoch: float
    layers: dict
    fingerprint: str
    problems: list[str] = field(default_factory=list)


def _value_hash(rows, columns) -> str:
    from check_oracle import value_hash
    return value_hash(rows, columns)


def _dir_bytes(path: Path, suffix: str = ".parquet") -> tuple[int, int]:
    files = [p for p in Path(path).rglob(f"*{suffix}") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def _write_files(path: Path, rows: list[dict], n_files: int) -> None:
    """rows -> n_files parquet files, dealt longest-first to the file
    with the fewest characters so far (equal work per scan task)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = [[] for _ in range(n_files)]
    loads = [0] * n_files
    for r in sorted(rows, key=lambda r: -len(r["text"])):
        k = loads.index(min(loads))
        files[k].append(r)
        loads[k] += len(r["text"])
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    for k, part in enumerate(files):
        if part:
            pq.write_table(pa.Table.from_pylist(part),
                           path / f"part-{k:03d}.parquet")


def _annotate_counts(ann):
    return ann.agg(F.count("*").alias("rows"),
                   F.sum("n_tokens").alias("tokens"),
                   F.sum(F.size("mentions")).alias("mentions"),
                   F.sum(F.size("spans")).alias("spans"),
                   F.sum(F.size("triples")).alias("triples")).first()


class LayerTimer:
    """Times calls into the program from outside.

    patch(module, name, layer) replaces module.name, for the life of the
    timer, with a wrapper that runs the call under job group `layer`,
    persists and counts every DataFrame the call returns (so the layer's
    work is done inside its own time and group), and adds the wall to
    the layer's total.  A call made inside another layer's call counts
    in both walls; its jobs go to the inner group, and the outer group
    resumes when it returns.  Jobs outside every layer call run under
    the group `base`."""

    def __init__(self, sc, base: str):
        self.sc = sc
        self.walls: dict[str, float] = defaultdict(float)
        self.outputs: dict[str, list[DataFrame]] = defaultdict(list)
        self._stack = [base]
        self._saved = []
        sc.setJobGroup(base, base)

    def patch(self, module, name: str, layer: str) -> None:
        fn = getattr(module, name)
        self._saved.append((module, name, fn))

        def timed(*args, **kwargs):
            self._enter(layer)
            t0 = clock()
            try:
                out = fn(*args, **kwargs)
                for df in out if isinstance(out, tuple) else (out,):
                    if isinstance(df, DataFrame):
                        df.persist().count()
                        self.outputs[layer].append(df)
                return out
            finally:
                self.walls[layer] += clock() - t0
                self._leave()
        setattr(module, name, timed)

    def _enter(self, layer):
        self._stack.append(layer)
        self.sc.setJobGroup(layer, layer)

    def _leave(self):
        self._stack.pop()
        self.sc.setJobGroup(self._stack[-1], self._stack[-1])

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for module, name, fn in reversed(self._saved):
            setattr(module, name, fn)
        for dfs in self.outputs.values():
            for df in dfs:
                df.unpersist()


class _Workload:
    name = ""
    kernel_pages = None  # pages of `texts` in the kernel probe; None: all
    min_passes = 1  # timed passes a run makes, however long --seconds

    def __init__(self, work: Path, seed: int, smoke: bool):
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.pages = work / "pages"
        self.texts: list[str] = []
        self.bc = None

    def setup(self, spark) -> None:
        """Broadcast the gazetteer, then start one Python worker per
        core and build its automaton on a few short pages."""
        spark.sparkContext.setJobGroup("setup", "setup")
        self.bc = broadcast_rows(spark, df=gazetteer_df_from_tsv(spark))
        n = host.cores()
        warm = (spark.read.parquet(str(self.pages))
                .where(F.length("text") < 2048).limit(4 * n).repartition(n))
        annotate_pages(warm, self.bc, with_tokens="context") \
            .agg(F.count("*")).collect()
        spark.sparkContext.setJobGroup("run", "run")

    def warm_check(self, spark) -> list[str]:
        return []

    @property
    def input_bytes(self) -> int:
        return _dir_bytes(self.pages)[0]

    def kernel_sample(self) -> list[str]:
        return self.texts[:self.kernel_pages]


# the names plans.pipeline calls, and the layer each call is timed as
PIPELINE_LAYERS = (
    (pipeline, "gazetteer_df_from_tsv", "sources.broadcast"),
    (pipeline, "broadcast_rows", "sources.broadcast"),
    (pipeline, "annotate_pages", "annotate"),
    (lineage, "run_stage", "lineage"),
    (pipeline, "build_stats", "linking.stats"),
    (pipeline, "link_mentions", "linking"),
    (pipeline, "canonical_map", "canonicalize"),
    (pipeline, "build_vertices", "graph.edges"),
    (pipeline, "build_edges", "graph.edges"),
    (pipeline, "materialize_graph", "graph.materialize"),
)


class KgBuild(_Workload):
    """Production path end to end: pages parquet -> run_pipeline ->
    linked, canonicalized, salted graph in a fresh output directory."""
    name = "kg_build"

    def __init__(self, work, seed, smoke):
        super().__init__(work, seed, smoke)
        # over ten seeds the pass time at 200 pages split into two modes
        # (44 s and 52 s, IQR/median 0.18); at 1,000 pages it was 0.06
        self.n_docs = 200 if smoke else 1000

    def generate(self) -> None:
        # the rows pages_dataframe() would generate, written without a
        # Spark job so that input generation stays out of every timing
        rows = [{c: p[c] for c in PAGE_COLS}
                for p in gen_pages(self.n_docs, seed=self.seed)]
        _write_files(self.pages, rows, host.cores())
        self.texts = [r["text"] for r in rows]
        self.docs = len(rows)
        self.chars = sum(map(len, self.texts))

    def _fresh_out(self, tag) -> Path:
        out = self.work / f"graph_{tag}"
        shutil.rmtree(out, ignore_errors=True)
        return out

    def _graph_summary(self, spark, out: Path):
        edges = spark.read.parquet(str(out / "edges"))
        vertices = spark.read.parquet(str(out / "vertices"))
        erows, vrows = edges.collect(), vertices.collect()
        fp = (f"e{len(erows)}:{_value_hash(erows, edges.columns)}"
              f"/v{len(vrows)}:{_value_hash(vrows, vertices.columns)}")
        tokens = spark.read.parquet(str(out / "annotate" / "data")) \
            .agg(F.sum("n_tokens")).first()[0]
        return len(erows), len(vrows), fp, int(tokens or 0)

    def _problems(self, info, n_e, n_v) -> list[str]:
        problems = []
        if info["annotated_rows"] != self.docs:
            problems.append(f"annotated {info['annotated_rows']} of {self.docs} pages")
        if n_e == 0 or n_v == 0:
            problems.append(f"empty graph: {n_e} edges, {n_v} vertices")
        return problems

    def iterate(self, spark, i) -> Pass:
        out = self._fresh_out(i)
        pages = spark.read.parquet(str(self.pages))
        t0 = clock()
        info = pipeline.run_pipeline(spark, pages, str(out))
        wall = clock() - t0
        # outside the timed region: read the graph back and check it
        n_e, n_v, fp, tokens = self._graph_summary(spark, out)
        shutil.rmtree(out, ignore_errors=True)
        return Pass(wall, self.docs, self.chars, tokens, n_e, fp,
                    self._problems(info, n_e, n_v))

    def traced(self, spark) -> Traced:
        """run_pipeline itself, with every name it calls in
        PIPELINE_LAYERS timed by a LayerTimer."""
        sc = spark.sparkContext
        out = self._fresh_out("traced")
        pages = spark.read.parquet(str(self.pages))
        with LayerTimer(sc, "pipeline") as lt:
            for module, name, layer in PIPELINE_LAYERS:
                lt.patch(module, name, layer)
            start = time.time()
            t0 = clock()
            info = pipeline.run_pipeline(spark, pages, str(out))
            wall = clock() - t0
            sc.setJobGroup("check", "check")
            # the layers' outputs, still persisted
            (ann,) = lt.outputs["annotate"]
            (linked,) = lt.outputs["linking"]
            (canonical,) = lt.outputs["canonicalize"]
            _vertices, edges = lt.outputs["graph.edges"]
            counts = _annotate_counts(ann)
            rungs = {r["link_level"]: (r["n"], r["linked"]) for r in
                     linked.groupBy("link_level").agg(
                         F.count("*").alias("n"),
                         F.count("entity_id").alias("linked")).collect()}
            n_alias = canonical.where(
                F.col("entity_id") != F.col("canonical_id")).count()
            n_edges = edges.count()
        w = lt.walls
        n_in = sum(n for n, _ in rungs.values())
        edge_bytes, edge_files = _dir_bytes(out / "edges")
        vert_bytes, vert_files = _dir_bytes(out / "vertices")
        lay = {
            "sources.broadcast_s": w["sources.broadcast"],
            "annotate.wall_s": w["annotate"],
            # run_stage's wall includes the annotate call made inside it
            "lineage.annotate_write_s": w["lineage"] - w["annotate"],
            "linking.stats_s": w["linking.stats"],
            "linking.wall_s": w["linking"],
            "canonicalize.wall_s": w["canonicalize"],
            "graph.edges_s": w["graph.edges"],
            "graph.materialize_s": w["graph.materialize"],
            "annotate.rows_in": self.docs,
            "annotate.rows_out": counts["rows"],
            "annotate.mentions": counts["mentions"],
            "annotate.spans": counts["spans"],
            "annotate.triples": counts["triples"],
            "linking.mentions_in": n_in,
            "linking.linked_frac": (sum(k for _, k in rungs.values())
                                    / max(1, n_in)),
            **{f"linking.rung{k}": rungs.get(k, (0, 0))[0] for k in range(6)},
            "canonicalize.alias_pairs": n_alias,
            "graph.bytes_written": edge_bytes + vert_bytes,
            "graph.bytes_per_edge": edge_bytes / max(1, n_edges),
            "graph.files_written": edge_files + vert_files,
            "graph.head_keys": info["n_head_keys"],
            "lineage.bytes_written": _dir_bytes(out / "annotate")[0],
        }
        n_e, n_v, fp, _tokens = self._graph_summary(spark, out)
        problems = self._problems(info, n_e, n_v)
        if n_e != n_edges:
            problems.append(f"traced: wrote {n_e} of {n_edges} edges")
        shutil.rmtree(out, ignore_errors=True)
        return Traced(wall, start, lay, fp, problems)


# long-page length schedule: the page count halves as the length
# doubles (a power law), from 1 KiB to 128 KiB.  Lengths are fixed;
# the seed chooses the text, so every seed does the same amount of work.
LONG_SCHEDULE = [(1 << 10, 32), (2 << 10, 16), (4 << 10, 8), (8 << 10, 4),
                 (16 << 10, 2), (32 << 10, 1), (64 << 10, 1), (128 << 10, 1)]
SMOKE_SCHEDULE = [(1 << 10, 4), (2 << 10, 2), (4 << 10, 1)]
# one page of each of these lengths is checked against kernel.pyref
PYREF_LENGTHS = (1 << 10, 4 << 10, 16 << 10)


def _pyref(task):
    fn, text = task
    return [tuple(x) for x in fn(text, load_gazetteer_rows())]


class LongPages(_Workload):
    """annotate_pages over long pages, reduced to counts, no write."""
    name = "annotate_long_pages"
    # a pass is ~5 s, most of it one core on the 128 KiB page, and one
    # core's speed swings by +-12% over seconds on a shared host: a run
    # reports the median of two passes
    min_passes = 2

    def generate(self) -> None:
        schedule = SMOKE_SCHEDULE if self.smoke else LONG_SCHEDULE
        doc, pages = 0, []
        for length, count in schedule:
            for _ in range(count):
                parts, n = [], 0
                while n < length:
                    t = gen_page(doc, self.seed)["text"]
                    doc += 1
                    parts.append(t)
                    n += len(t) + 2
                pages.append((length, ". ".join(parts)))
        random.Random(self.seed).shuffle(pages)
        rows = [{"url": f"https://longpages.example/{self.seed}/{k:05d}",
                 "warc_ts": EPOCH, "text": t, "lang": "ko"}
                for k, (_, t) in enumerate(pages)]
        _write_files(self.pages, rows, host.cores())
        self.texts = [t for _, t in pages]
        self.docs = len(rows)
        self.chars = sum(map(len, self.texts))
        # the first page of each checked length class, and its
        # reference parse, computed here before the JVM starts
        sample = {}
        for (length, _), row in zip(pages, rows):
            if length in PYREF_LENGTHS:
                sample.setdefault(length, row)
        self.sample = list(sample.values())
        t0 = clock()
        tasks = [(fn, r["text"]) for r in self.sample
                 for fn in (pyref_spans, pyref_triples)]
        with multiprocessing.get_context("fork").Pool(host.cores()) as pool:
            got = pool.map(_pyref, tasks, chunksize=1)
        self.expected = list(zip(got[0::2], got[1::2]))
        self.reference_s = clock() - t0

    def setup(self, spark) -> None:
        super().setup(spark)
        # one file per task: the widest file sets the split size
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(max(p.stat().st_size
                               for p in self.pages.glob("*.parquet")) + 1))

    def _annotated(self, spark):
        return annotate_pages(spark.read.parquet(str(self.pages)), self.bc,
                              with_tokens="context")

    def iterate(self, spark, i) -> Pass:
        ann = self._annotated(spark)
        t0 = clock()
        r = _annotate_counts(ann)
        wall = clock() - t0
        fp = "rows{}/tok{}/men{}/spn{}/tri{}".format(*r)
        problems = []
        if r["rows"] != self.docs:
            problems.append(f"annotated {r['rows']} of {self.docs} pages")
        return Pass(wall, self.docs, self.chars, int(r["tokens"]),
                    int(r["triples"]), fp, problems)

    def warm_check(self, spark) -> list[str]:
        """Spans and triples on one page of each PYREF_LENGTHS class
        must equal the naive reference parse (kernel.pyref)."""
        spark.sparkContext.setJobGroup("check", "check")
        urls = [p["url"] for p in self.sample]
        got = {r["url"]: r for r in annotate_pages(
            spark.read.parquet(str(self.pages)).where(F.col("url").isin(urls)),
            self.bc, with_tokens="context").collect()}
        problems = []
        for page, (want_spans, want_triples) in zip(self.sample, self.expected):
            r = got.get(page["url"])
            if r is None:
                problems.append(f"pyref: {page['url']} missing")
                continue
            # the spans column keeps every category of a span; the
            # reference keeps the first per start (first-match-wins)
            spans, starts = [], set()
            for s in r["spans"]:
                if s["start"] not in starts:
                    starts.add(s["start"])
                    spans.append(tuple(s))
            n = len(page["text"])
            if spans != want_spans:
                problems.append(f"pyref: spans differ on {page['url']} ({n} chars)")
            if [tuple(t) for t in r["triples"]] != want_triples:
                problems.append(f"pyref: triples differ on {page['url']} ({n} chars)")
        spark.sparkContext.setJobGroup("run", "run")
        return problems

    def traced(self, spark) -> Traced:
        sc = spark.sparkContext
        start = time.time()
        t_start = clock()
        sc.setJobGroup("sources.broadcast", "sources.broadcast")
        self.bc = broadcast_rows(spark, df=gazetteer_df_from_tsv(spark))
        t0 = clock()
        sc.setJobGroup("annotate", "annotate")
        r = _annotate_counts(self._annotated(spark))
        wall = clock() - t_start
        sc.setJobGroup("check", "check")
        lay = {
            "sources.broadcast_s": t0 - t_start,
            "annotate.wall_s": wall - (t0 - t_start),
            "annotate.rows_in": self.docs,
            "annotate.rows_out": r["rows"],
            "annotate.mentions": r["mentions"],
            "annotate.spans": r["spans"],
            "annotate.triples": r["triples"],
        }
        fp = "rows{}/tok{}/men{}/spn{}/tri{}".format(*r)
        return Traced(wall, start, lay, fp)


# a subset of bench.py's BENCH_QUERIES, each with a DuckDB oracle_sql()
# twin: aggregate (q01), star join (q02), window (q04), text explode
# (q08), multi-aggregate metric (q147) and an iterative graph operator
# with checkpoint barriers (q154)
SUITE_QUERIES = ("q01_pricing_summary", "q02_region_revenue",
                 "q04_event_islands", "q08_word_freq", "q147_bcubed_eval",
                 "q154_modularity")


def _oracle_results(tables: Path, sqls: dict) -> dict:
    """query -> (rows, sorted columns, value hash) of its oracle SQL,
    run by DuckDB over the suite's parquet tables."""
    import duckdb
    con = duckdb.connect()
    for t in suite_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables / f'{t}.parquet'}'")
    out = {}
    for q, sql in sqls.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[q] = (len(rows), sorted(cols), _value_hash(rows, cols))
    con.close()
    return out


class OperatorSuite(_Workload):
    """SUITE_QUERIES over seeded sf0.001-sized tables, each query written
    to a noop sink: per-query fixed cost (planning, job scheduling,
    checkpoint barriers) dominates."""
    name = "operator_suite"
    kernel_pages = 0  # no kernel calls

    def generate(self) -> None:
        self.tables = self.work / "tables"
        counts = suite_tables.write(self.tables, self.seed)
        self.pages = self.tables  # input_bytes
        self.docs = len(SUITE_QUERIES)
        self.chars = sum(counts.values())
        self.edges = counts["lineitem"]
        import __spark_entry__
        self.queries = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        # in a child process before the JVM starts, so that DuckDB's
        # memory stays out of the driver's RSS
        t0 = clock()
        with multiprocessing.get_context("fork").Pool(1) as pool:
            self.expected = pool.apply(_oracle_results, (
                self.tables, {q: oracles[q] for q in SUITE_QUERIES}))
        self.reference_s = clock() - t0

    def setup(self, spark) -> None:
        """Open every table once: file listing and parquet footers."""
        spark.sparkContext.setJobGroup("setup", "setup")
        for t in suite_tables.TABLES:
            spark.read.parquet(str(self.tables / f"{t}.parquet")).count()
        spark.sparkContext.setJobGroup("run", "run")

    def _run(self, spark, q) -> None:
        df = self.queries[q](spark, str(self.tables))
        df.write.format("noop").mode("overwrite").save()
        getattr(df, "unpersist_input", lambda: None)()

    def warm_check(self, spark) -> list[str]:
        """Every query's rows, collected from Spark, must equal its
        DuckDB oracle_sql() twin (row count, columns, value hash).
        Also the warm-up pass: the first run of a query pays class
        loading and code generation."""
        spark.sparkContext.setJobGroup("check", "check")
        problems, hashes, self.tokens = [], [], 0
        for q in SUITE_QUERIES:
            sdf = self.queries[q](spark, str(self.tables))
            srows, scols = [tuple(r) for r in sdf.collect()], sdf.columns
            getattr(sdf, "unpersist_input", lambda: None)()
            got = (len(srows), sorted(scols), _value_hash(srows, scols))
            if got != self.expected[q]:
                problems.append(f"{q}: Spark {got} != oracle {self.expected[q]}")
            if not srows:
                problems.append(f"{q}: no rows")
            hashes.append(f"{q}:{got}")
            self.tokens += len(srows)
        self.fingerprint = hashlib.md5("\n".join(hashes).encode()).hexdigest()
        spark.sparkContext.setJobGroup("run", "run")
        return problems

    def iterate(self, spark, i) -> Pass:
        t0 = clock()
        for q in SUITE_QUERIES:
            self._run(spark, q)
        wall = clock() - t0
        return Pass(wall, self.docs, self.chars, self.tokens, self.edges,
                    self.fingerprint)

    def traced(self, spark) -> Traced:
        sc = spark.sparkContext
        lay = {}
        start = time.time()
        t_start = clock()
        for q in SUITE_QUERIES:
            sc.setJobGroup(f"suite.{q}", q)
            t0 = clock()
            self._run(spark, q)
            lay[f"suite.{q}.wall_s"] = clock() - t0
        wall = clock() - t_start
        sc.setJobGroup("check", "check")
        return Traced(wall, start, lay, self.fingerprint)


WORKLOADS = {w.name: w for w in (KgBuild, LongPages, OperatorSuite)}
