"""End-to-end KG-construction pipeline (SURVEY.md §7.1).

pages -> [annotate: tokenize + mention + span + triple, ONE narrow
stage] -> link spans to canonical entities (broadcast ladder) ->
canonicalize alias clusters (LSH + CC) -> materialize salted graph.

extract_graph() wires the DataFrames lazily; run_pipeline() executes
with per-stage lineage + resume via plans.lineage.

run_pipeline() writes two intermediate stages under its output
directory: <out>/annotate (the resumable annotate stage) and
<out>/linked (the linking ladder's output, rewritten every run).
<out>/linked is there to cut the plan.  link_mentions returns one lazy
plan, and build_vertices, build_edges and materialize_graph all
reference it, so without the cut the driver plans the whole ladder
three times and runs it for the edge write, the vertex write and the
head-key count.  On a 1,000-page corpus (4 cores) that planning and
re-running was about half the pipeline's wall.  The cut has to be a
real plan leaf: persisting `linked` and counting it left the plan
attached and made the run slower, not faster.
localCheckpoint(eager=True) was as fast as the parquet write, but its
blocks die with their executor on a cluster.  extract_graph() stays
fully lazy; its callers build queries over the plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.annotate import (annotate_pages, mentions_table,
                                  spans_table, tokens_table, triples_table)
from ..operators.canonicalize import canonical_map
from ..operators.graph import build_edges, build_vertices, materialize_graph
from ..operators.linking import (build_stats, canonical_entities,
                                 link_mentions)
from ..sources.gazetteer import broadcast_rows, gazetteer_df_from_tsv


def _training_mentions(mentions):
    """The learned-statistics training signal: gazetteer mentions whose
    span carries exactly ONE large category (ambiguous spans are the
    ones being disambiguated — excluding them keeps the counters
    uncontaminated, mirroring the reference training on gold labels)."""
    unambig = (mentions.groupBy("url", "start", "end")
               .agg(F.countDistinct("large").alias("_n"))
               .where("_n = 1").select("url", "start", "end"))
    return mentions.join(unambig, ["url", "start", "end"], "left_semi")


def extract_graph(spark, pages_df, gazetteer_df=None, search_category=None,
                  infer=True, canonicalize=True, learned_stats=True,
                  kb_holdout_mod=None, disambig="neighbor",
                  link_barrier_dir=None):
    """Returns a dict of lazily-planned DataFrames:
    annotated, mentions, spans, triples, entities, linked, vertices,
    edges (+ canonical when canonicalize=True; + context/neighbor_stats
    /core_stats when learned_stats=True).

    learned_stats=True runs the full 6-level linking ladder: the
    corpus' own unambiguous gazetteer mentions train the +-3-neighbor
    and core counters (one groupBy job each, broadcast), which then
    power levels 3/4 and in-window homonym disambiguation.

    kb_holdout_mod=N deterministically drops aliases with
    pmod(md5(surface), N) == 0 from the CANONICAL entity KB (mention
    detection still sees the full gazetteer).  This models the
    KB-coverage gap every real KG build has — surfaces the detector
    finds but the canonical KB lacks — which is exactly the situation
    the reference's PART/BRUTE inference levels exist for (reference
    mecab_category_storage.py:534-595)."""
    gaz_df = gazetteer_df if gazetteer_df is not None else gazetteer_df_from_tsv(spark)
    bc = broadcast_rows(spark, df=gaz_df)

    # "context": the slim 4-field token struct — every consumer of the
    # graph's context table (stats builds, scoring, BIO) reads only
    # (word, pos, begin, end); the full struct is ~3x the cache/Arrow
    # payload.  Surface-restoring paths (posseq) re-tokenize via
    # annotate.tokenize_pages from g["pages"] instead.
    annotated = annotate_pages(
        pages_df.select("url", "warc_ts", "text", "lang"),
        bc, search_category=search_category, infer=infer,
        with_tokens="context" if learned_stats else False)
    if learned_stats:
        # the annotate stage feeds ~10 downstream subplans (stats
        # builds, context joins, level-3/4 scoring, spans, triples);
        # without materialization each one re-executes the whole
        # tokenize+match mapInPandas.  Lazy-plan variant: persist
        # (memory+disk).  The production path is run_pipeline, which
        # checkpoints this stage to Parquet with lineage instead.
        from pyspark import StorageLevel
        annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    mentions = mentions_table(annotated)
    spans = spans_table(annotated)
    triples = triples_table(annotated)

    entities = canonical_entities(gaz_df)
    if kb_holdout_mod:
        from ..functions.hashing import md5_int
        entities = entities.where(
            F.pmod(md5_int(F.col("surface")), F.lit(kb_holdout_mod)) != 0)
    context = nstats = cstats = None
    if learned_stats:
        # context feeds 5 scoring/stats passes; persist the exploded
        # token table once instead of re-exploding per pass
        context = tokens_table(annotated).persist()
        train = _training_mentions(mentions)
        # ONE fused mention-context join builds both counters; the
        # vocab-sized combined aggregate is persisted inside
        nstats, cstats = build_stats(context, train)
    # link the resolved NER spans (the final entities of a page);
    # the spans' word column is the mention surface for linking
    linked = link_mentions(
        spans.withColumnRenamed("word", "surface"), entities,
        context_df=context, neighbor_stats_df=nstats,
        core_stats_df=cstats, disambig=disambig,
        barrier_dir=link_barrier_dir)

    canonical = canonical_map(entities) if canonicalize else None
    # label universe = the DETECTOR-side gazetteer larges (brute
    # labels come from full-gazetteer stats, not the possibly
    # holdout-filtered KB)
    vertices = build_vertices(linked, entities, canonical,
                              label_universe=gaz_df.select("large"))
    edges = build_edges(triples, linked, canonical)

    def release():
        """Unpersist every working set this graph pinned in the SQL
        CacheManager (annotate stage, exploded context, the fused
        stats aggregate, the linking candidate/remainder tables).
        Call when done with the graph — a long session building many
        graphs otherwise accumulates pinned cache entries.  Idempotent;
        the DataFrames remain usable (they just recompute)."""
        for hook in (getattr(linked, "unpersist_working_set", None),
                     getattr(nstats, "unpersist_input", None) if nstats is not None else None,
                     context.unpersist if context is not None else None,
                     annotated.unpersist if learned_stats else None):
            if hook is None:
                continue
            try:
                hook()
            except Exception:
                pass

    return {
        "annotated": annotated, "mentions": mentions, "spans": spans,
        "triples": triples, "entities": entities, "linked": linked,
        "context": context, "neighbor_stats": nstats, "core_stats": cstats,
        "canonical": canonical, "vertices": vertices, "edges": edges,
        "pages": pages_df, "release": release,
    }


def run_pipeline(spark, pages_df, out_dir: str, n_parts: int = 32,
                 canonicalize: bool = True, disambig: str = "neighbor",
                 wave_parts: int | None = None,
                 refresh: bool = False) -> dict:
    """Execute with lineage + resume: the annotate stage (the heavy
    scan) is checkpointed per part_key; downstream relational stages
    re-derive from the persisted annotation (cheap relative to the
    scan) and the graph is written salted.

    The linking ladder's output is written to <out>/linked and read
    back, so vertices, edges and the graph write plan over a parquet
    leaf, not over the ladder (module docstring).  Once it is written
    the ladder's pinned working sets and the stats aggregate are
    released; the run leaves nothing in the SQL cache."""
    from .lineage import run_stage

    gaz_df = gazetteer_df_from_tsv(spark)
    bc = broadcast_rows(spark, df=gaz_df)

    def annotate_fn(pages_part):
        return annotate_pages(
            pages_part.select("url", "warc_ts", "text", "lang"), bc,
            with_tokens="context")

    annotated = run_stage(spark, "annotate", pages_df, annotate_fn,
                          out_dir, key_col="url", n_parts=n_parts,
                          wave_parts=wave_parts, refresh=refresh)

    entities = canonical_entities(gaz_df)
    spans = spans_table(annotated)
    context = tokens_table(annotated)
    mentions = mentions_table(annotated)
    train = _training_mentions(mentions)
    nstats, cstats = build_stats(context, train)
    linked = link_mentions(spans.withColumnRenamed("word", "surface"), entities,
                           context_df=context,
                           neighbor_stats_df=nstats,
                           core_stats_df=cstats, disambig=disambig)
    # cut the plan at the ladder's output (module docstring), then
    # release the working sets the ladder pinned
    linked.write.mode("overwrite").parquet(f"{out_dir}/linked")
    linked.unpersist_working_set()
    nstats.unpersist_input()
    linked = spark.read.parquet(f"{out_dir}/linked")
    triples = triples_table(annotated)
    canonical = canonical_map(entities) if canonicalize else None
    # label universe = the DETECTOR-side gazetteer larges (brute
    # labels come from full-gazetteer stats, not the possibly
    # holdout-filtered KB)
    vertices = build_vertices(linked, entities, canonical,
                              label_universe=gaz_df.select("large"))
    edges = build_edges(triples, linked, canonical)
    info = materialize_graph(edges, vertices, out_dir)
    if "html" in pages_df.columns:
        # web-graph side tables (host link graph + inbound anchor-text
        # profiles): host-dimension-sized aggregates off a second
        # narrow scan of the raw pages — cheap next to annotate, and
        # the crawl-prioritization consumers read THESE, not pages
        from ..operators.weblinks import host_graph, inbound_anchor_profile
        (host_graph(pages_df).repartition(1)
         .write.mode("overwrite").parquet(f"{out_dir}/hosts"))
        (inbound_anchor_profile(pages_df).repartition(1)
         .write.mode("overwrite").parquet(f"{out_dir}/anchors"))
        info["hosts"] = f"{out_dir}/hosts"
        info["anchors"] = f"{out_dir}/anchors"
    info["annotated_rows"] = annotated.count()
    return info
