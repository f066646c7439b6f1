"""Full-pipeline e2e on a small synthesized corpus + resume semantics."""

import pytest

from python_mecab_ner_spark.plans.pipeline import extract_graph, run_pipeline
from python_mecab_ner_spark.sources.corpus import pages_dataframe


@pytest.fixture(scope="module")
def graph(spark):
    pages = pages_dataframe(spark, 150, seed=3, partitions=4)
    return extract_graph(spark, pages, canonicalize=False)


def test_linked_spans(graph):
    linked = graph["linked"]
    rows = linked.collect()
    assert rows
    # every exact-surface span links at level 0
    lvl0 = [r for r in rows if r.link_level == 0]
    assert len(lvl0) > 0
    for r in rows:
        assert r.link_level in (0, 1, 2, 3, 4, 5)
    # the compound-prefix corpus template guarantees NEIGHBOR-level
    # (3) links: suffix candidates accepted on learned evidence
    assert any(r.link_level == 3 for r in rows)


def test_edges_have_entities(graph):
    edges = graph["edges"].collect()
    assert edges
    for e in edges[:50]:
        assert e.src_id is not None and e.dst_id is not None
        assert e.pred


def test_vertices_join_entities(graph):
    v = graph["vertices"]
    assert v.filter("canonical is null").count() == 0
    assert v.count() == v.select("entity_id").distinct().count()


def test_run_pipeline_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    pages = pages_dataframe(spark, 60, seed=5, partitions=2)
    info1 = run_pipeline(spark, pages, out, n_parts=8, canonicalize=False)
    assert info1["annotated_rows"] == 60

    # resume: second run must skip all completed partitions (the
    # annotate fn would crash on any new input row)
    def boom(_):
        raise AssertionError("stage re-ran on completed partitions")

    from python_mecab_ner_spark.plans.lineage import run_stage
    annotated = run_stage(spark, "annotate", pages, boom, out,
                          key_col="url", n_parts=8)
    assert annotated.count() == 60

    from python_mecab_ner_spark.plans.lineage import metrics_table
    m = metrics_table(spark, out)
    assert m.filter("stage = 'annotate'").count() == 8  # one row per part_key
    assert m.filter("rows_out <= 0").count() == 0


# ---- kg_* oracle hardening: pyref-computed exact aggregates ----------------
# Pinned goldens for the driver's rows-only kg corpus (N_KG_DOCS=400,
# seed=42): computed by the single-process pyref oracle (kernel only,
# no Spark), so the Spark kg_* queries are pinned to exact VALUES, not
# just row counts.
KG_TRIPLES_BY_PRED = {"노래하": 55, "듣": 234, "먹": 42,
                      "방문하": 44, "있": 64, "좋": 56}
KG_MENTIONS_TOTAL = 2212
# link-level histogram: Spark-computed regression golden (linking has
# no pyref twin by design — its gates are the operator goldens in
# test_linking_stats.py); pins the full SIX-level ladder firing,
# including level 5 UNLINKED (the round-3 novel-compound corpus docs:
# 16 docs x 2 ambiguous span rows with zero stats evidence)
KG_LINK_LEVELS = {0: 1375, 1: 280, 2: 171, 3: 104, 4: 52, 5: 32}
# pyref-computed BIO-writeback histogram over the same corpus
# (tokenize + pyref mentions + reference infer extension + kernel
# bio_vector, no Spark — the engine's mentions table is
# post-infer_extend)
KG_BIO_BY_LABEL = {
    "B-ner_example_body": 18,
    "B-ner_example_fastfood": 166, "B-ner_example_fruit": 295,
    "B-ner_example_location_country": 167,
    "B-ner_example_location_tour": 615,
    "B-ner_example_music_singer": 443, "B-ner_example_music_song": 294,
    "I-ner_example_body": 42,
    "I-ner_example_fastfood": 113, "I-ner_example_fruit": 610,
    "I-ner_example_location_country": 22,
    "I-ner_example_location_tour": 1176,
    "I-ner_example_music_singer": 156, "I-ner_example_music_song": 347,
    "O": 6619}


def test_kg_goldens_pyref():
    """The pyref oracle still reproduces the pinned aggregates (guards
    against silent corpus/kernel drift)."""
    from collections import Counter

    from python_mecab_ner_spark.kernel.lexicon import load_gazetteer_rows
    from python_mecab_ner_spark.kernel.pyref import pyref_triples
    from python_mecab_ner_spark.sources.corpus import gen_pages
    rows = load_gazetteer_rows()
    pred_c = Counter()
    for p in gen_pages(400, seed=42):
        for t in pyref_triples(p["text"], rows):
            pred_c[t[1]] += 1
    assert dict(pred_c) == KG_TRIPLES_BY_PRED


def test_kg_goldens_spark(spark):
    """The Spark kg_* queries hash to the same exact values the pyref
    oracle computed (the hardening VERDICT r1 item 10 asked for)."""
    import __spark_entry__ as entry
    g = entry._kg_graph(spark)
    from pyspark.sql import functions as F
    got_pred = {r.pred: r.n for r in
                g["triples"].groupBy("pred")
                .agg(F.count("*").alias("n")).collect()}
    assert got_pred == KG_TRIPLES_BY_PRED
    assert g["mentions"].count() == KG_MENTIONS_TOTAL
    got_lvl = {r.link_level: r.n for r in
               g["linked"].groupBy("link_level")
               .agg(F.count("*").alias("n")).collect()}
    assert got_lvl == KG_LINK_LEVELS
    assert set(got_lvl) == {0, 1, 2, 3, 4, 5}  # every ladder rung fires
    # the unlinked rung carries NULL entity ids by contract
    assert g["linked"].where("link_level = 5"). \
        where("entity_id is not null").count() == 0
    got_bio = {r.bio: r.n_tokens for r in
               entry.kg_bio_by_label(spark, None).collect()}
    assert got_bio == KG_BIO_BY_LABEL


def test_extract_graph_release(spark):
    """g['release']() must drop every cache entry the graph build
    pinned: persistent-RDD count returns to the pre-build level (the
    round-2 leak was unpersist() called on rebound, never-persisted
    derived frames — a silent no-op)."""

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persistent()
    pages = pages_dataframe(spark, 40, seed=7, partitions=2)
    g = extract_graph(spark, pages, canonicalize=False)
    g["linked"].count()  # materialize the working sets
    assert n_persistent() > before
    g["release"]()
    assert n_persistent() == before
    # idempotent + graph still usable (recomputes)
    g["release"]()
    assert g["linked"].count() > 0


def test_run_stage_executes_fn_once(spark, tmp_path):
    """The stage fn's plan must execute exactly once (the write): the
    manifest is derived from written partition dirs, never by
    re-running the (expensive) stage DAG.  Counted via an accumulator
    inside a mapInPandas in fn — with double-compute it would read
    2x the input rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.plans.lineage import run_stage

    acc = spark.sparkContext.accumulator(0)
    n_rows = 40
    inp = spark.range(n_rows).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") * 2).alias("val"))

    def fn(df):
        def count_rows(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf
        return df.mapInPandas(count_rows, schema=df.schema)

    out = run_stage(spark, "s1", inp, fn, str(tmp_path / "once"),
                    key_col="url", n_parts=4)
    assert out.count() == n_rows
    assert acc.value == n_rows, f"stage fn processed {acc.value} rows, expected {n_rows}"


def test_extract_graph_duplicate_policy(spark):
    """extract_graph(disambig='duplicate') runs the full build with the
    second reference policy: same span coverage as the neighbor policy
    (the policy only reorders the rank-1 window), every level present
    in both, and the UNLINKED contract holds."""
    pages = pages_dataframe(spark, 80, seed=3, partitions=2).cache()
    ga = extract_graph(spark, pages, canonicalize=False)
    gb = extract_graph(spark, pages, canonicalize=False,
                       disambig="duplicate")
    a = {(r.url, r.start, r.end) for r in ga["linked"].collect()}
    b = {(r.url, r.start, r.end) for r in gb["linked"].collect()}
    assert a == b and a
    for g in (ga, gb):
        assert g["linked"].where(
            "link_level = 5 and entity_id is not null").count() == 0
        g["release"]()
    pages.unpersist()


def test_kg_khop_matches_duckdb_on_real_edges(spark):
    """khop_neighbors over the REAL extracted-KG edge table must
    reproduce a naive 1..2-hop SQL computed by DuckDB on the same
    collected edge list — the kg_entity_khop query's kernel, oracled
    on the actual graph (not just the q49 lineitem graph)."""
    import duckdb

    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from python_mecab_ner_spark.operators.graph import khop_neighbors

    g = entry._kg_graph(spark)
    e = (g["edges"].select(F.col("src_id").alias("src"),
                           F.col("dst_id").alias("dst"))
         .localCheckpoint())
    got = {r.node: r.n for r in
           khop_neighbors(e, k=2).groupBy("node")
           .agg(F.count("*").alias("n")).collect()}

    edges = [(r.src, r.dst) for r in e.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    rows = con.execute("""
        WITH r1 AS (SELECT DISTINCT src AS node, dst AS nbr FROM e),
        r2 AS (SELECT DISTINCT r1.node, e.dst AS nbr
               FROM r1 JOIN e ON e.src = r1.nbr
               WHERE e.dst <> r1.node),
        reach AS (SELECT node, nbr FROM r1
                  UNION SELECT node, nbr FROM r2)
        SELECT node, count(*) FROM reach
        WHERE nbr <> node GROUP BY 1""").fetchall()
    assert got == {n: c for n, c in rows}
    assert len(got) > 0


def test_kg_entity_cooc_matches_duckdb_on_real_mentions(spark):
    """cooccurrence_counts over the REAL mention stream must
    reproduce the naive pair SQL computed by DuckDB on the same
    collected mentions — the kg_entity_cooc query's kernel, checked
    on the actual KG corpus (q96 oracles the operator on documents;
    this pins the mention-stream application)."""
    import duckdb

    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from python_mecab_ner_spark.operators.colloc import \
        cooccurrence_counts

    g = entry._kg_graph(spark)
    ctx = g["mentions"].select(
        "url", F.col("start").alias("idx"),
        F.col("surface").alias("word"))
    got = {(r.w1, r.w2): (r.n_pairs, r.w_sum)
           for r in cooccurrence_counts(ctx, window=20, min_pairs=2,
                                        scale=60).collect()}

    rows = [(r.url, r.idx, r.word) for r in ctx.collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE m (url VARCHAR, idx BIGINT, word VARCHAR)")
    con.executemany("INSERT INTO m VALUES (?, ?, ?)", rows)
    exp = {(r[0], r[1]): (r[2], r[3]) for r in con.execute("""
        WITH p AS (SELECT a.word AS wa, b.word AS wb, b.idx - a.idx AS d
                   FROM m a JOIN m b
                     ON a.url = b.url AND b.idx > a.idx
                    AND b.idx <= a.idx + 20)
        SELECT least(wa, wb), greatest(wa, wb),
               count(*), sum(60 // d)
        FROM p GROUP BY 1, 2 HAVING count(*) >= 2""").fetchall()}
    assert got and got == exp


def test_kg_reach_registers_exact_and_estimate_tracks_ball(spark):
    """kg_entity_reach's HyperBall registers over the REAL KG edges:
    (a) registers equal the python HLL of the exact radius-2 ball per
    node (bit-exact — elementwise max of md5 rhos), and (b) the
    client-side hll_estimate tracks the exact ball size (m=16, small
    balls hit the linear-counting regime so tolerance is modest)."""
    import __spark_entry__ as entry
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    from python_mecab_ner_spark.operators.sketch import hll_estimate

    g = entry._kg_graph(spark)
    from pyspark.sql import functions as F
    e = (g["edges"].select(F.col("src_id").alias("src"),
                           F.col("dst_id").alias("dst"))
         .localCheckpoint())
    edges = [(r.src, r.dst) for r in e.collect()]
    adj = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        nodes.add(s)
        nodes.add(d)
    exact = {}
    for v in nodes:
        ball = {v} | adj.get(v, set())
        ball2 = set(ball)
        for u in ball:
            ball2 |= adj.get(u, set())
        exact[v] = ball2

    got = {}
    for r in entry.kg_entity_reach(spark, None).collect():
        got.setdefault(r.node, {})[r.bucket] = r.max_rho

    def py_regs(ids):
        regs = {}
        for i in ids:
            h = md5_int_py(str(i), salt="hb:")
            b = h & 15
            rho = 57 - (h >> 4).bit_length()
            regs[b] = max(regs.get(b, 0), rho)
        return regs

    assert set(got) == nodes
    for v in nodes:
        assert got[v] == py_regs(exact[v]), v

    ratios = []
    for v in nodes:
        regs = [got[v].get(b, 0) for b in range(16)]
        ratios.append(hll_estimate(regs, 16) / len(exact[v]))
    mean = sum(ratios) / len(ratios)
    assert 0.6 < mean < 1.4, mean


def test_link_barrier_variant_matches_cache(spark, tmp_path):
    """link_mentions(barrier_dir=...) — the parquet-barrier working
    set (BENCH_EXTRAS round-4 A/B: statistical tie with cache) — must
    produce the IDENTICAL linked table."""
    pages = pages_dataframe(spark, 80, seed=3, partitions=2).cache()
    pages.count()
    key = ["url", "start", "end", "link_level"]
    g1 = extract_graph(spark, pages, canonicalize=False,
                       kb_holdout_mod=20)
    a = sorted(tuple(r) for r in g1["linked"].select(*key).collect())
    g1["release"]()
    g2 = extract_graph(spark, pages, canonicalize=False,
                       kb_holdout_mod=20,
                       link_barrier_dir=str(tmp_path / "b"))
    b = sorted(tuple(r) for r in g2["linked"].select(*key).collect())
    g2["release"]()
    pages.unpersist()
    assert a == b and len(a) > 0


# ---- run_pipeline's plan cut at <out>/linked --------------------------------

@pytest.fixture(scope="module")
def cut_run(spark, tmp_path_factory):
    """run_pipeline on a small canonicalized corpus, started from an
    empty SQL cache so the cache state it leaves is its own."""
    spark.catalog.clearCache()
    out = str(tmp_path_factory.mktemp("cut") / "kg")
    pages = pages_dataframe(spark, 60, seed=11, partitions=2)
    info = run_pipeline(spark, pages, out, n_parts=8, canonicalize=True)
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return pages, out, info, cache_empty


def test_run_pipeline_releases_cache(cut_run):
    """The linking working sets and the stats aggregate are released
    once <out>/linked is written; the graph write releases its own."""
    _pages, _out, _info, cache_empty = cut_run
    assert cache_empty


def test_run_pipeline_matches_extract_graph(spark, cut_run):
    """The graph run_pipeline writes over the <out>/linked leaf equals
    the one extract_graph plans lazily over the whole ladder."""
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.graph import detect_head_keys
    from scripts.check_oracle import value_hash

    pages, out, info, _cache_empty = cut_run
    g = extract_graph(spark, pages, canonicalize=True)

    def vhash(df, cols):
        return value_hash(df.select(*cols).collect(), cols)

    def levels(df):
        return {r.link_level: r.n for r in df.groupBy("link_level")
                .agg(F.count("*").alias("n")).collect()}

    try:
        for name in ("edges", "vertices"):
            cols = g[name].columns
            written = spark.read.parquet(f"{out}/{name}")
            assert vhash(written, cols) == vhash(g[name], cols), name
        assert levels(spark.read.parquet(f"{out}/linked")) == levels(g["linked"])
        assert info["n_head_keys"] == detect_head_keys(g["edges"]).count()
        assert g["edges"].count() > 0
    finally:
        g["release"]()
