"""Gazetteer compilation + mention detection + span semantics.

Optimized re-expression of the reference's per-entry O(entries x
tokens) scan (reference mecab_ner.py:21-46,136-186): an Aho-Corasick
automaton over token-word sequences finds ALL candidate occurrences of
ALL dictionary entries in one pass, then a deterministic *replay*
applies the reference's result-affecting policies exactly:

- longest-entry-first priority within a small category (dictionary
  lines sorted by length at build; reference mecab_reader.py:178,188),
- greedy masking of accepted spans so nested/shorter entries of the
  same small category cannot re-match (reference mecab_ner.py:91-99),
- per-small-category isolation (the reference deep-copies the parsed
  sentence per small category; reference mecab_ner.py:152),
- dual-mode matching: token-sequence mode on the tokenized form and
  character mode (pattern chars vs token words, min 2 chars) on the
  original surface (reference mecab_ner.py:155-159),
- the short-entity POS gate (reference mecab_ner.py:161-165),
- left-extension inference incl. the token-0 quirk (mecab_ner.py:188-205),
- bitmap fill + run merge (mecab_ner.py:50-75,208-222),
- category re-attachment by run end (mecab_ner.py:224-258) and
  first-match-wins interleave (mecab_ner.py:260-291).

Entry iteration order is OS-dependent in the reference
(Path.iterdir + dict order); this engine fixes the deterministic total
order (large asc, small asc, surface length desc, surface asc) —
SURVEY.md §7.4 item 2.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

from .tokenizer import restore_tokens

MIN_MEANING = 2
ENTITY_POS_LIST = frozenset([
    "NNG", "NNP", "NNB", "NNBC", "NR", "NP", "XSN", "XR",
    "SL", "SH", "SN", "UNKNOWN"])
INFER_ENTITY_POS_LIST = frozenset(["NNG", "NNP"])


@dataclass(frozen=True)
class GazEntry:
    eid: int
    large: str
    small: str
    surface: str          # original dictionary surface (mention text)
    pattern: tuple        # tokenized words (token-mode pattern)
    token_gate_len: int   # len(' '.join(pattern)), precomputed


@dataclass
class Mention:
    start: int            # token index, inclusive
    end: int              # token index, exclusive (reference: "항상 1크다")
    surface: str
    large: str
    small: str


@dataclass
class NerSpan:
    start: int
    end: int              # exclusive
    word: str             # restored surface of the merged run
    large: str
    small: str


class AhoCorasick:
    """Sequence-alphabet Aho-Corasick (symbols are strings: token words
    or single characters).  find() yields (end_index_exclusive,
    pattern_id) for every occurrence in one pass."""

    def __init__(self, patterns):
        # trie as list of dicts; node 0 = root
        self.goto: list[dict] = [{}]
        self.out: list[list[int]] = [[]]
        self.fail: list[int] = [0]
        for pid, pat in enumerate(patterns):
            node = 0
            for sym in pat:
                nxt = self.goto[node].get(sym)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][sym] = nxt
                node = nxt
            self.out[node].append(pid)
        # BFS failure links
        q = deque()
        for child in self.goto[0].values():
            q.append(child)
        while q:
            node = q.popleft()
            for sym, child in self.goto[node].items():
                q.append(child)
                f = self.fail[node]
                while f and sym not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(sym, 0)
                if self.fail[child] == child:
                    self.fail[child] = 0
                self.out[child].extend(self.out[self.fail[child]])

    def find(self, seq):
        # hot path: bound locals + root fast path (on web text most
        # symbols stay at the root, where the while/fail walk and the
        # empty-out scan are pure overhead)
        goto = self.goto
        out = self.out
        fail = self.fail
        root = goto[0]
        node = 0
        for i, sym in enumerate(seq):
            if node:
                g = goto[node]
                while node and sym not in g:
                    node = fail[node]
                    g = goto[node]
                node = g.get(sym, 0)
            else:
                node = root.get(sym, 0)
            if node:
                for pid in out[node]:
                    yield i + 1, pid


class CompiledGazetteer:
    """Driver-built, broadcast-able matcher state.

    rows: (large, small, surface, tokenized) — small WITHOUT '#'.
    search_category: optional large-category allowlist (reference
    mecab_ner.py:148-150); pruned before automaton build so the
    broadcast payload shrinks with the filter.
    """

    def __init__(self, rows, search_category=None):
        if search_category is not None:
            allow = set(search_category)
            rows = [r for r in rows if r[0] in allow]
        ordered = sorted(rows, key=lambda r: (r[0], r[1], -len(r[2]), r[2]))
        self.entries = [
            GazEntry(i, large, small, surface, tuple(tokenized.split()),
                     len(" ".join(tokenized.split())))
            for i, (large, small, surface, tokenized) in enumerate(ordered)]
        self.token_ac = AhoCorasick([e.pattern for e in self.entries])
        # char-mode only for surfaces of >=2 chars (min_meaning=2,
        # reference mecab_ner.py:159)
        self.char_entries = [e for e in self.entries if len(e.surface) >= 2]
        self.char_ac = AhoCorasick([tuple(e.surface) for e in self.char_entries])


def _candidates(gaz: CompiledGazetteer, token_words):
    """One AC pass per mode -> {eid: [(start, end), ...]} per mode."""
    tok_hits: dict[int, list] = {}
    for end, pid in gaz.token_ac.find(token_words):
        e = gaz.entries[pid]
        tok_hits.setdefault(e.eid, []).append((end - len(e.pattern), end))
    char_hits: dict[int, list] = {}
    for end, pid in gaz.char_ac.find(token_words):
        e = gaz.char_entries[pid]
        char_hits.setdefault(e.eid, []).append((end - len(e.surface), end))
    return tok_hits, char_hits


def find_mentions(tokens, gaz: CompiledGazetteer):
    """All-entry candidate generation + ordered masking replay.

    Equivalent to the reference's nested per-entry scan because a
    masked position ('*'-overwritten word) can never participate in a
    later match, so validity of a candidate reduces to non-intersection
    with previously accepted spans of the same small category.
    """
    token_words = [t["word"] for t in tokens]
    tok_hits, char_hits = _candidates(gaz, token_words)
    mentions: list[Mention] = []
    masked: set = set()        # token idxs accepted for the current small cat
    cur_cat = None
    # only entries with at least one candidate matter: entries without
    # hits accept nothing, so they influence neither masking nor the
    # per-category reset (eid order == canonical entry order)
    for eid in sorted(tok_hits.keys() | char_hits.keys()):
        e = gaz.entries[eid]
        cat = (e.large, e.small)
        if cat != cur_cat:
            cur_cat = cat
            masked = set()
        for mode_hits, gate_len in ((tok_hits, e.token_gate_len),
                                    (char_hits, len(e.surface))):
            spans = mode_hits.get(e.eid)
            if not spans:
                continue
            if mode_hits is char_hits and gate_len < MIN_MEANING:
                continue
            accepted = []
            for s, t in spans:
                if any(i in masked for i in range(s, t)):
                    continue
                # short-entity POS gate (reference mecab_ner.py:161-165)
                if gate_len < MIN_MEANING and tokens[t - 1]["pos"] not in ENTITY_POS_LIST:
                    continue
                accepted.append((s, t))
            for s, t in accepted:
                masked.update(range(s, t))
                mentions.append(Mention(s, t, e.surface, e.large, e.small))
    return mentions


def infer_extend(mentions, tokens):
    """Left-extension through preceding NNG/NNP tokens, replicating the
    reference's token-0 quirk: token 0 is only reachable when
    start_idx == 1 (reference mecab_ner.py:196-205)."""
    for m in mentions:
        end_point = -1 if m.start == 1 else 0
        for i in range(m.start - 1, end_point, -1):
            if tokens[i]["pos"] in INFER_ENTITY_POS_LIST:
                m.start = tokens[i]["mecab_compound"]
                continue
            break
    return mentions


def merge_runs(mentions, n_tokens):
    """Bitmap fill + maximal-run merge -> [(start, end_inclusive)]
    (reference mecab_ner.py:50-75,208-222)."""
    blank = bytearray(n_tokens)
    for m in mentions:
        for i in range(m.start, m.end):
            blank[i] = 1
    runs = []
    s = None
    for i, v in enumerate(blank):
        if v and s is None:
            s = i
        elif not v and s is not None:
            runs.append((s, i - 1))
            s = None
    if s is not None:
        runs.append((s, n_tokens - 1))
    return runs


def ner_spans(tokens, mentions):
    """Merged runs + category re-attachment: a run takes the category of
    every mention whose end matches the run end (reference
    START_IDX=False policy, mecab_ner.py:252-258).

    Spans of one run keep the mentions' input order.  Cost is
    O(tokens + mentions) plus merge_runs' bitmap fill: mentions are
    indexed by end once, so each run looks its categories up instead
    of scanning every mention."""
    by_end: dict[int, list[Mention]] = {}
    for m in mentions:
        by_end.setdefault(m.end, []).append(m)
    spans: list[NerSpan] = []
    for s, e in merge_runs(mentions, len(tokens)):
        ending = by_end.get(e + 1)
        if not ending:
            continue
        word = " ".join(restore_tokens(tokens[s:e + 1]))
        spans.extend(NerSpan(s, e + 1, word, m.large, m.small)
                     for m in ending)
    return spans


def interleave(tokens, spans):
    """First-match-wins token/NER interleave (reference
    mecab_ner.py:260-291).  Returns [(word, pos, large|None, small|None)].

    At each end position the first span in list order wins.  Cost is
    O(tokens + spans), so O(tokens + mentions), plus the covered-token
    fill: spans are indexed by end once instead of scanned per token."""
    covered = set()
    first_by_end: dict[int, NerSpan] = {}
    for sp in spans:
        covered.update(range(sp.start, sp.end))
        first_by_end.setdefault(sp.end, sp)
    out = []
    for idx, t in enumerate(tokens):
        sp = first_by_end.get(idx + 1)
        if sp is not None:
            out.append((sp.word, "ner", sp.large, sp.small))
        if idx in covered:
            continue
        out.append((t["word"], t["pos"], None, None))
    return out


def ner_parse(tokens, gaz: CompiledGazetteer, infer=True):
    """Full per-sentence NER flow; returns (interleaved, spans)."""
    mentions = find_mentions(tokens, gaz)
    if infer:
        mentions = infer_extend(mentions, tokens)
    spans = ner_spans(tokens, mentions)
    return interleave(tokens, spans), spans


def ners(tokens, gaz: CompiledGazetteer, infer=True):
    """(word, large, small) per detected entity, in sentence order."""
    parsed, _ = ner_parse(tokens, gaz, infer)
    return [(w, lg, sm) for w, pos, lg, sm in parsed if pos == "ner"]


def morphs(tokens, gaz: CompiledGazetteer, infer=True):
    parsed, _ = ner_parse(tokens, gaz, infer)
    return [w for w, *_ in parsed]
