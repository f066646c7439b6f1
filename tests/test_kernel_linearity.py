"""Span building and interleave are linear in page length.

Long pages are built the way the long-page benchmark builds them:
consecutive `gen_page` texts joined by ". " until the page reaches its
length.  The quadratic loops the kernel used to run are kept here as
references: the indexed kernel must give the same output on every page.
"""

import time

import pytest

from python_mecab_ner_spark.kernel.lexicon import load_gazetteer_rows
from python_mecab_ner_spark.kernel.matcher import (CompiledGazetteer, NerSpan,
                                                   find_mentions,
                                                   infer_extend, interleave,
                                                   merge_runs, ner_spans)
from python_mecab_ner_spark.kernel.tokenizer import restore_tokens, tokenize
from python_mecab_ner_spark.sources.corpus import gen_page

KIB = 1 << 10
# 50 pages per seed, the count halving as the length doubles, 1-64 KiB
PARITY_SCHEDULE = [(1 * KIB, 32), (2 * KIB, 8), (4 * KIB, 4), (8 * KIB, 2),
                   (16 * KIB, 2), (32 * KIB, 1), (64 * KIB, 1)]


def _long_pages(schedule, seed):
    doc, pages = 0, []
    for length, count in schedule:
        for _ in range(count):
            parts, n = [], 0
            while n < length:
                t = gen_page(doc, seed)["text"]
                doc += 1
                parts.append(t)
                n += len(t) + 2
            pages.append(". ".join(parts))
    return pages


def _ner_spans_quadratic(tokens, mentions):
    """The O(runs x mentions) loop: every run scans every mention."""
    runs = merge_runs(mentions, len(tokens))
    spans = []
    for s, e in runs:
        end_idx = e + 1
        word = " ".join(restore_tokens(tokens[s:end_idx]))
        for m in mentions:
            if m.end == end_idx:
                spans.append(NerSpan(s, end_idx, word, m.large, m.small))
    return spans


def _interleave_quadratic(tokens, spans):
    """The O(tokens x spans) loop: every token scans the span list."""
    covered = set()
    for sp in spans:
        covered.update(range(sp.start, sp.end))
    out = []
    for idx, t in enumerate(tokens):
        for sp in spans:
            if idx + 1 == sp.end:
                out.append((sp.word, "ner", sp.large, sp.small))
                break
        if idx in covered:
            continue
        out.append((t["word"], t["pos"], None, None))
    return out


@pytest.fixture(scope="module")
def gaz():
    return CompiledGazetteer(load_gazetteer_rows())


def _parsed(text, gaz):
    toks = tokenize(text)
    return toks, infer_extend(find_mentions(toks, gaz), toks)


@pytest.mark.parametrize("seed", [7, 19])
def test_ner_spans_matches_quadratic_loop(gaz, seed):
    pages = _long_pages(PARITY_SCHEDULE, seed)
    assert len(pages) == 50
    n_spans = 0
    for text in pages:
        toks, mentions = _parsed(text, gaz)
        got = ner_spans(toks, mentions)
        assert got == _ner_spans_quadratic(toks, mentions)
        n_spans += len(got)
    assert n_spans > 1000


def test_interleave_matches_quadratic_loop(gaz):
    (text,) = _long_pages([(64 * KIB, 1)], seed=3)
    toks, mentions = _parsed(text, gaz)
    spans = ner_spans(toks, mentions)
    # the page has ends shared by several spans, where first-match-wins
    # decides which category the interleave keeps
    assert len({sp.end for sp in spans}) < len(spans)
    assert interleave(toks, spans) == _interleave_quadratic(toks, spans)


def test_ner_spans_cost_per_char_is_flat(gaz):
    """Best-of-3 per-char cost on a 128 KiB page stays within 2x of a
    4 KiB page's.  The small page runs 32 times per timing, so both
    timings cover about the same number of chars, and the two pages
    alternate, so a change in host speed hits both alike."""
    cases = []
    for length, reps in ((4 * KIB, 32), (128 * KIB, 1)):
        (text,) = _long_pages([(length, 1)], seed=5)
        cases.append((*_parsed(text, gaz), reps, reps * len(text)))
    best = [float("inf")] * len(cases)
    for _ in range(3):
        for i, (toks, mentions, reps, chars) in enumerate(cases):
            t0 = time.perf_counter()
            for _ in range(reps):
                ner_spans(toks, mentions)
            best[i] = min(best[i], (time.perf_counter() - t0) / chars)
    small, large = best
    assert large / small < 2, (small * 1e6, large * 1e6)
