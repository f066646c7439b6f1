"""Single-process timings of the row-local kernel phases.

Times the public kernel functions over a page sample, phase by phase,
exactly in the order operators.annotate runs them per row:

    tokenize  kernel.tokenizer.tokenize
    match     kernel.matcher.find_mentions + infer_extend
    spans     kernel.matcher.ner_spans
    triples   kernel.triples.extract_triples
    emit      row dicts -> pandas -> Arrow under annotated_schema

and reports each as microseconds per input character.
"""

from __future__ import annotations

import time


def phase_us_per_char(texts: list[str], with_tokens="context") -> dict:
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from python_mecab_ner_spark.kernel.lexicon import (default_lexicon,
                                                       load_gazetteer_rows)
    from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer,
                                                       find_mentions,
                                                       infer_extend,
                                                       ner_spans)
    from python_mecab_ner_spark.kernel.tokenizer import tokenize, words
    from python_mecab_ner_spark.kernel.triples import extract_triples
    from python_mecab_ner_spark.operators.schemas import annotated_schema

    lex = default_lexicon()
    gaz = CompiledGazetteer(load_gazetteer_rows())
    schema = annotated_schema(with_tokens)
    arrow_schema = to_arrow_schema(schema)
    ctx = ("word", "pos", "begin", "end")
    clock = time.perf_counter
    spent = dict.fromkeys(("tokenize", "match", "spans", "triples", "emit"), 0.0)
    out = {k: [] for k in schema.fieldNames()}
    for i, text in enumerate(texts):
        t0 = clock()
        toks = tokenize(text, lex)
        t1 = clock()
        raw = infer_extend(find_mentions(toks, gaz), toks) if toks else []
        t2 = clock()
        spans = ner_spans(toks, raw) if toks else []
        t3 = clock()
        triples = extract_triples(toks, spans) if toks else []
        t4 = clock()
        out["url"].append(f"u{i}")
        out["warc_ts"].append(None)
        out["lang"].append(None)
        out["extracted_text"].append(" ".join(words(toks)))
        if with_tokens:
            out["tokens"].append([{f: t[f] for f in ctx} for t in toks])
        out["mentions"].append([
            {"start": m.start, "end": m.end, "surface": m.surface,
             "large": m.large, "small": m.small} for m in raw])
        out["spans"].append([
            {"start": s.start, "end": s.end, "word": s.word,
             "large": s.large, "small": s.small} for s in spans])
        out["triples"].append([
            {"subj": t[0], "pred": t[1], "obj": t[2], "subj_start": t[3],
             "subj_end": t[4], "obj_start": t[5], "obj_end": t[6],
             "conf": t[7]} for t in triples])
        out["n_tokens"].append(len(toks))
        t5 = clock()
        spent["tokenize"] += t1 - t0
        spent["match"] += t2 - t1
        spent["spans"] += t3 - t2
        spent["triples"] += t4 - t3
        spent["emit"] += t5 - t4
    t0 = clock()
    pa.Table.from_pandas(pd.DataFrame(out), schema=arrow_schema,
                         preserve_index=False)
    spent["emit"] += clock() - t0
    chars = max(1, sum(len(t) for t in texts))
    return {k: v * 1e6 / chars for k, v in spent.items()}
