"""Round-5 post-closeout additions (q209-q225): TextRank, Z-order
layout audit, bottom-k quantile sketch, TrustRank spam mass,
Rand/ARI, LOO source valuation, CDC chunking, KMV overlap, node2vec
walks, Katz, weak-vote fusion, resharding audit, postings gaps,
Neyman allocation, c-TF-IDF class terms, seasonal outliers,
hub-attack robustness.

Discipline as in test_round5_ops.py: every test recomputes the
expected answer with plain Python on small hand-built or randomized
inputs, so the DuckDB oracles are not the only cross-check.
"""

import random
from collections import Counter

from python_mecab_ner_spark.operators.retrieval import textrank_keywords


# ------------------------------------------------------------ TextRank

def _py_textrank(docs, n_stop, window, iters,
                 scale=1_000_000, dn=85, dd=100):
    toks = {d: t.lower().strip().split() for d, t in docs}
    df = Counter()
    for d, ws in toks.items():
        for w in set(ws):
            df[w] += 1
    stops = set(w for w in sorted(df, key=lambda w: (-df[w], w))[:n_stop])
    cooc = Counter()
    for ws in toks.values():
        for i, a in enumerate(ws):
            for k in range(1, window + 1):
                if i + k < len(ws):
                    b = ws[i + k]
                    if a != b and a not in stops and b not in stops:
                        cooc[(min(a, b), max(a, b))] += 1
    edges = {}
    for (a, b), w in cooc.items():
        edges[(a, b)] = edges.get((a, b), 0) + w
        edges[(b, a)] = edges.get((b, a), 0) + w
    nodes = sorted({a for a, _ in edges})
    wt = Counter()
    for (a, _), w in edges.items():
        wt[a] += w
    base = (scale * (dd - dn)) // dd
    pr = {n: scale for n in nodes}
    for _ in range(iters):
        m = Counter()
        for (a, b), w in edges.items():
            m[b] += (pr[a] * w) // wt[a]
        pr = {n: base + (dn * m.get(n, 0)) // dd for n in nodes}
    return pr


def test_textrank_matches_python_twin(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 30))))
            for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = textrank_keywords(df, "text", "doc_id", n_stop=3,
                            window=2, iters=3)
    got = {r["word"]: r["pr"] for r in out.collect()}
    out.unpersist_input()
    assert got == _py_textrank(docs, n_stop=3, window=2, iters=3)


def test_textrank_stopword_separates_neighbors(spark):
    # "x" saturates df -> stoplist; a/b co-occur only THROUGH x at
    # distance 2, never adjacent, so the window-2 graph still links
    # them (leads are computed on the unfiltered sequence)
    docs = [(i, "a x b") for i in range(3)] + [(3, "c x d e")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = textrank_keywords(df, "text", "doc_id", n_stop=1,
                            window=2, iters=1)
    got = {r["word"]: r["pr"] for r in out.collect()}
    out.unpersist_input()
    assert set(got) == {"a", "b", "c", "d", "e"}
    assert got == _py_textrank(docs, n_stop=1, window=2, iters=1)


# ------------------------------------------------------- Z-order audit

def _py_zkey(d1, d2, bits):
    z = 0
    for i in range(bits):
        z += ((d1 >> i) & 1) << (2 * i + 1)
        z += ((d2 >> i) & 1) << (2 * i)
    return z


def test_layout_audit_matches_python_twin(spark):
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.layout import layout_audit
    rng = random.Random(3)
    rows = [(rng.randrange(64), rng.randrange(64)) for _ in range(2000)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {(r["layout"], r["file_id"]):
           (r["n_rows"], r["d1_min"], r["d1_max"], r["d2_min"], r["d2_max"])
           for r in layout_audit(df, F.col("a"), F.col("b"),
                                 bits=6, file_bits=6).collect()}
    exp = {}
    for d1, d2 in rows:
        for layout, key in (("zorder", _py_zkey(d1, d2, 6)),
                            ("linear", (d2 << 6) + d1)):
            k = (layout, key >> 6)
            n, lo1, hi1, lo2, hi2 = exp.get(
                k, (0, d1, d1, d2, d2))
            exp[k] = (n + 1, min(lo1, d1), max(hi1, d1),
                      min(lo2, d2), max(hi2, d2))
    assert got == exp


def test_zorder_bounds_both_spans_linear_does_not(spark):
    # dense grid: every (d1, d2) in 64x64 once.  Under linear each
    # file spans the FULL d1 domain; under zorder each 64-key file is
    # an 8x8 tile (span 7 on both dims) -> any single-dim slice skips
    # 7/8 of the files
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.layout import layout_audit
    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = layout_audit(df, F.col("a"), F.col("b"),
                       bits=6, file_bits=6).collect()
    for r in out:
        if r["layout"] == "zorder":
            assert r["d1_max"] - r["d1_min"] == 7
            assert r["d2_max"] - r["d2_min"] == 7
        else:
            assert (r["d1_min"], r["d1_max"]) == (0, 63)
        assert r["n_rows"] == 64


# ------------------------------------------------ bottom-k quantiles

def _py_bottomk_quantiles(rows, k, quantiles):
    """rows = (g, v, key).  Returns {(g, q): (n, ks, est, exact)}."""
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    out = {}
    groups = sorted({g for g, _, _ in rows})
    for g in groups:
        grp = [(v, key) for gg, v, key in rows if gg == g]
        n = len(grp)
        samp = sorted(grp, key=lambda t: (md5_int_py(t[1], salt="bkq:"),
                                          t[1], t[0]))[:k]
        sv = sorted(v for v, _ in samp)
        ev = sorted(v for v, _ in grp)
        ks = len(samp)
        for q in quantiles:
            est = next(v for i, v in enumerate(sv, 1)
                       if i * 100 >= q * ks)
            exact = next(v for i, v in enumerate(ev, 1)
                         if i * 100 >= q * n)
            out[(g, q)] = (n, ks, est, exact)
    return out


def test_bottomk_quantiles_matches_python_twin(spark):
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.sketch import bottomk_quantiles
    rng = random.Random(5)
    rows = [(f"g{rng.randrange(3)}", rng.randrange(1000), f"k{i}")
            for i in range(3000)]
    df = spark.createDataFrame(rows, ["g", "v", "key"])
    out = bottomk_quantiles(df, "g", F.col("v"), "key", k=64)
    got = {(r["g"], r["q_pct"]): (r["n"], r["ks"], r["est"], r["exact"])
           for r in out.collect()}
    out.unpersist_input()
    exp = _py_bottomk_quantiles(rows, k=64, quantiles=(10, 25, 50, 75, 90))
    assert got == exp
    # sample error should be bounded for a 64-of-1000 uniform sample
    for (g, q), (n, ks, est, exact) in got.items():
        assert abs(est - exact) < 200


def test_bottomk_quantiles_duplicate_keys_tie_break_on_value(spark):
    # every key carries two values, the larger listed first: the rank
    # ties on (pri, key) and the smaller value must win in every engine
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.operators.sketch import bottomk_quantiles
    rng = random.Random(8)
    rows = []
    for i in range(400):
        lo, hi = sorted(rng.sample(range(1000), 2))
        rows += [(f"g{i % 2}", hi, f"k{i}"), (f"g{i % 2}", lo, f"k{i}")]
    df = spark.createDataFrame(rows, ["g", "v", "key"])
    out = bottomk_quantiles(df, "g", F.col("v"), "key", k=33)
    got = {(r["g"], r["q_pct"]): (r["n"], r["ks"], r["est"], r["exact"])
           for r in out.collect()}
    out.unpersist_input()
    assert got == _py_bottomk_quantiles(rows, k=33,
                                        quantiles=(10, 25, 50, 75, 90))


def test_bottomk_merge_law():
    # bottomk(A∪B) == bottomk(bottomk(A) ∪ bottomk(B)) as multisets
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    rng = random.Random(9)
    a = [(rng.randrange(500), f"a{i}") for i in range(400)]
    b = [(rng.randrange(500), f"b{i}") for i in range(300)]

    def bk(rows, k=32):
        return sorted(rows, key=lambda t: (md5_int_py(t[1], salt="bkq:"),
                                           t[1]))[:k]
    assert bk(a + b) == bk(bk(a) + bk(b))


# ------------------------------------------------------- spam mass

def _py_spam_mass(edges, seeds, iters, scale=1_000_000, dn=85, dd=100):
    base = (scale * (dd - dn)) // dd
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    od = Counter(a for a, _ in edges)

    def run(init, teleport):
        pr = dict(init)
        for _ in range(iters):
            m = Counter()
            for a, b in edges:
                m[b] += pr[a] // od[a]
            pr = {n: teleport(n) + (dn * m.get(n, 0)) // dd
                  for n in nodes}
        return pr
    pr = run({n: scale for n in nodes}, lambda n: base)
    tr = run({n: scale if n in seeds else 0 for n in nodes},
             lambda n: base if n in seeds else 0)
    s_pr, s_tr = sum(pr.values()), sum(tr.values())
    out = {}
    for n in nodes:
        tn = (tr[n] * s_pr) // s_tr
        out[n] = (pr[n], tn, max(0, ((pr[n] - tn) * 1_000_000) // pr[n]))
    return out


def test_trust_spam_mass_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.graph import trust_spam_mass
    rng = random.Random(13)
    pairs = {(rng.randrange(30), 30 + rng.randrange(10))
             for _ in range(120)}
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    seeds = [30, 31, 32]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = trust_spam_mass(df, seeds, iters=3)
    got = {r["node"]: (r["pr"], r["trust_norm"], r["spam_ppm"])
           for r in out.collect()}
    out.unpersist_input()
    assert got == _py_spam_mass(edges, set(seeds), iters=3)
    # seeds hold teleport mass -> their spam share sits well below
    # the graph's worst offenders
    worst = max(v[2] for v in got.values())
    for s in seeds:
        assert got[s][2] < worst


# ---------------------------------------------------- Rand index / ARI

def _py_pair_agreement(assign):
    """assign = [(item, cluster, gold)] -> the operator's row tuple."""
    def c2(x):
        return (x * (x - 1)) // 2
    n = len(assign)
    m = c2(n)
    cg = Counter((c, g) for _, c, g in assign)
    cs = Counter(c for _, c, _ in assign)
    gs = Counter(g for _, _, g in assign)
    r = sum(c2(x) for x in cg.values())
    pa = sum(c2(x) for x in cs.values())
    pb = sum(c2(x) for x in gs.values())
    e = (pa * pb) // m
    num, den = r - e, pa + pb - 2 * e
    sgn = 1 if num >= 0 else -1
    ari = sgn * ((abs(num) * 2_000_000) // den) if den else None
    return (n, len(cs), len(gs), m, r, pa, pb,
            ((m + 2 * r - pa - pb) * 1_000_000) // m, ari)


def test_pair_agreement_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.metrics import (
        pair_agreement_ppm)
    rng = random.Random(21)
    # correlated clustering: mostly gold, 20% defectors
    assign = [(i, (g + 1) % 5 if rng.random() < 0.2 else g, g)
              for i, g in ((i, rng.randrange(5)) for i in range(800))]
    df = spark.createDataFrame(assign, ["item", "cluster", "gold"])
    got = tuple(pair_agreement_ppm(df).collect()[0])
    assert got == _py_pair_agreement(assign)
    assert got[8] > 300_000  # well above chance


def test_pair_agreement_perfect_and_chance(spark):
    from python_mecab_ner_spark.operators.metrics import (
        pair_agreement_ppm)
    perfect = [(i, i % 4, i % 4) for i in range(80)]
    df = spark.createDataFrame(perfect, ["item", "cluster", "gold"])
    row = pair_agreement_ppm(df).collect()[0]
    assert row["rand_ppm"] == 1_000_000
    # ARI of a perfect clustering is exactly 1.0 -> 1_000_000 ppm
    assert row["ari_ppm"] == 1_000_000
    # every item its own cluster vs one gold class: ARI 0 by convention
    singletons = [(i, i, 0) for i in range(50)]
    df2 = spark.createDataFrame(singletons, ["item", "cluster", "gold"])
    row2 = pair_agreement_ppm(df2).collect()[0]
    assert row2["pairs_same_pred"] == 0
    assert tuple(row2)[:3] == (50, 50, 1)


# --------------------------------------------- LOO source valuation

def _py_feats(text, n_buckets=4096):
    import re
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    toks = re.sub(r"\s+", " ", text.lower().strip()).split(" ")
    feats = list(toks) + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
    return [md5_int_py(f, salt="feat:") % n_buckets
            for f in feats if f != ""]


def _py_loo(docs, scale=1000, k=200):
    """docs = (id, text, source, y, is_train) ->
    {source: (n_train, acc_full, acc_loo, delta)}."""
    def weights(rows):
        c1, c0 = Counter(), Counter()
        for _, t, _, y, _ in rows:
            for b in _py_feats(t):
                (c1 if y else c0)[b] += 1
        n1, n0 = sum(c1.values()), sum(c0.values())
        w = {}
        for b in set(c1) | set(c0):
            if n1 > 0:
                w[b] = ((c1[b] * (n1 + n0) + k * n1) * scale) \
                    // ((c1[b] + c0[b] + k) * n1) - scale
            else:
                w[b] = 0
        return w

    def acc(w, ev):
        ok = tot = 0
        for _, t, _, y, _ in ev:
            fs = _py_feats(t)
            if not fs:
                continue
            score = sum(w.get(b, 0) for b in fs)
            ok += int((score > 0) == (y == 1))
            tot += 1
        return (ok * 1_000_000) // tot
    train = [d for d in docs if d[4] == 1]
    ev = [d for d in docs if d[4] == 0]
    full = acc(weights(train), ev)
    out = {}
    for s in sorted({d[2] for d in docs}):
        loo = acc(weights([d for d in train if d[2] != s]), ev)
        out[s] = (sum(1 for d in train if d[2] == s), full, loo,
                  loo - full)
    return out


def test_loo_valuation_matches_python_twin(spark):
    # graded multi-word evidence (word w carries signal vote v_w in
    # [-2, 2]; y = sign of the doc's vote sum) produces BOUNDARY
    # docs whose decisions genuinely move under per-source count
    # ablation — a single-strong-word corpus yields all-zero deltas
    # (measured: dilution shrinks magnitudes, never flips signs).
    # s3's labels are flipped = planted noise.  Direction assertions
    # on synthetic NB boundaries are brittle; the contract here is
    # EXACT equality with the python twin + non-degenerate movement
    # (the real-corpus direction spread is q214's job).
    from python_mecab_ner_spark.operators.classify import (
        loo_source_valuation)
    rng = random.Random(17)
    vote = {f"w{j}": (j % 5) - 2 for j in range(20)}
    docs = []
    for i in range(300):
        s = f"s{i % 4}"
        words = [f"w{rng.randrange(20)}" for _ in range(6)]
        y = int(sum(vote[w] for w in words) > 0)
        if s == "s3":
            y = 1 - y
        docs.append((i, " ".join(words), s, y, int(i % 5 != 0)))
    df = spark.createDataFrame(
        docs, ["doc_id", "text", "source", "y", "is_train"])
    out = loo_source_valuation(df, "text", "doc_id", "source",
                               "y", "is_train")
    got = {r["source"]: (r["n_train_docs"], r["acc_full_ppm"],
                         r["acc_loo_ppm"], r["delta_ppm"])
           for r in out.collect()}
    out.unpersist_input()
    exp = _py_loo(docs)
    assert got == exp
    assert any(v[3] != 0 for v in got.values())


# ------------------------------------------------------ CDC chunking

def _py_cdc(text, gram=8, divisor=64):
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    n = len(text)
    cuts = [1] + [i for i in range(2, max(n - gram + 1, 1) + 1)
                  if md5_int_py(text[i - 1:i - 1 + gram],
                                salt="cdc:") % divisor == 0]
    cuts = sorted(set(cuts)) + [n + 1]
    return [(s, e - s, text[s - 1:e - 1])
            for s, e in zip(cuts, cuts[1:]) if e > s]


def test_cdc_chunks_partition_text_and_match_twin(spark):
    from python_mecab_ner_spark.operators.dedup import cdc_chunks
    rng = random.Random(31)
    docs = [(i, "".join(rng.choice("abcdef ") for _ in
                        range(rng.randrange(1, 400))))
            for i in range(30)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in cdc_chunks(df, "text", "doc_id").collect():
        got.setdefault(r["doc"], []).append(
            (r["start"], r["chunk_len"], r["chunk_md5"]))
    import hashlib
    for i, text in docs:
        exp = [(s, ln, hashlib.md5(c.encode()).hexdigest())
               for s, ln, c in _py_cdc(text)]
        assert sorted(got[i]) == sorted(exp)
        # chunks partition the text exactly
        assert sum(ln for _, ln, _ in exp) == len(text)


def test_cdc_survives_front_insertion_fixed_does_not(spark):
    from python_mecab_ner_spark.operators.dedup import (cdc_chunks,
                                                        fixed_chunks)
    rng = random.Random(33)
    base = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    mut = "INSERTED " + base
    df = spark.createDataFrame([(1, base), (2, mut)],
                               ["doc_id", "text"])
    for fn, expect_high in ((cdc_chunks, True), (fixed_chunks, False)):
        ch = fn(df, "text", "doc_id").collect()
        h1 = {r["chunk_md5"] for r in ch if r["doc"] == 1}
        rows2 = [r for r in ch if r["doc"] == 2]
        reused = sum(r["chunk_len"] for r in rows2
                     if r["chunk_md5"] in h1)
        total = sum(r["chunk_len"] for r in rows2)
        share = reused / total
        assert share > 0.8 if expect_high else share < 0.2, \
            (fn.__name__, share)


# ------------------------------------------------------- KMV overlap

def _py_kmv(rows, k=64, m_bits=48):
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    m = 1 << m_bits

    def est(hset):
        sk = sorted(hset)[:k]
        return len(sk) if len(sk) < k else ((k - 1) * m) // sk[-1]
    groups = {}
    for g, key in rows:
        groups.setdefault(g, set()).add(
            md5_int_py(key, bits_hex=m_bits // 4, salt="kmv:"))
    keysets = {}
    for g, key in rows:
        keysets.setdefault(g, set()).add(key)
    out = {}
    gs = sorted(groups)
    for i, ga in enumerate(gs):
        for gb in gs[i + 1:]:
            sa = sorted(groups[ga])[:k]
            sb = sorted(groups[gb])[:k]
            eu = est(set(sa) | set(sb))
            ea, eb = est(groups[ga]), est(groups[gb])
            ei = max(0, ea + eb - eu)
            ex = len(keysets[ga] & keysets[gb])
            err = (abs(ei - ex) * 1_000_000) // max(ex, 1)
            out[(ga, gb)] = (ea, eb, eu, ei, ex, err)
    return out


def test_kmv_overlap_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.sketch import (
        kmv_overlap_estimates)
    rng = random.Random(41)
    shared = [f"c{i}" for i in range(800)]
    rows = []
    for g in range(4):
        own = [f"g{g}x{i}" for i in range(100 * (g + 1))]
        pool = own + shared
        rows += [(f"g{g}", x) for x in pool]
        rows += [(f"g{g}", rng.choice(pool)) for _ in range(200)]
    df = spark.createDataFrame(rows, ["g", "key"])
    out = kmv_overlap_estimates(df, "g", "key", k=64)
    got = {(r["ga"], r["gb"]): (r["est_a"], r["est_b"], r["est_union"],
                                r["est_inter"], r["exact_inter"],
                                r["err_ppm"])
           for r in out.collect()}
    out.unpersist_input()
    exp = _py_kmv(rows, k=64)
    assert got == exp
    # every pair shares the 800-key pool (overlap >= ~2/3 of union),
    # where inclusion-exclusion at k=64 resolves: err bounded.  For
    # SMALL overlap fractions the estimate is noise (measured: a
    # 100-of-1000 overlap read 22) — intersection error scales with
    # the UNION size, the honest cost err_ppm exists to expose
    for (ga, gb), (ea, eb, eu, ei, ex, err) in got.items():
        assert ex == 800
        assert err < 400_000, ((ga, gb), got[(ga, gb)])


def test_kmv_small_groups_are_exact():
    # below k distinct keys the sketch IS the set: est == exact
    rows = [("a", f"x{i}") for i in range(30)] + \
           [("b", f"x{i}") for i in range(10, 50)]
    exp = _py_kmv(rows, k=64)
    (ea, eb, eu, ei, ex, err) = exp[("a", "b")]
    assert (ea, eb, eu) == (30, 40, 50)
    assert ei == ex == 20 and err == 0


# --------------------------------------------------- node2vec walks

def _py_node2vec(edges, walk_len, wp, w1, wq, seed="n2v"):
    from python_mecab_ner_spark.functions.hashing import md5_int_py
    adj = {}
    eset = set()
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            eset.add((a, b))
    adjidx = {n: sorted(v) for n, v in adj.items()}
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    rows, classes = [], set()
    for start in nodes:
        prev, node = None, start
        rows.append((start, 0, 0, node))
        for t in range(1, walk_len + 1):
            if node not in adjidx:
                break
            r = md5_int_py(f"{seed}:{start}:0:{t}:{node}")
            cands = adjidx[node]
            if prev is None:
                nxt = cands[r % len(cands)]
            else:
                ws = []
                for x in cands:
                    if x == prev:
                        ws.append(wp); classes.add("p")
                    elif (prev, x) in eset:
                        ws.append(w1); classes.add("1")
                    else:
                        ws.append(wq); classes.add("q")
                pick = r % sum(ws)
                cum = 0
                for x, wgt in zip(cands, ws):
                    cum += wgt
                    if pick < cum:
                        nxt = x
                        break
            rows.append((start, 0, t, nxt))
            prev, node = node, nxt
    return rows, classes


def test_node2vec_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.graph import node2vec_walks
    rng = random.Random(47)
    und = {(rng.randrange(25), rng.randrange(25)) for _ in range(80)}
    edges = [(a, b) for a, b in und if a != b]
    edges += [(b, a) for a, b in edges]
    df = spark.createDataFrame(sorted(set(edges)), ["src", "dst"])
    got = sorted(tuple(r) for r in
                 node2vec_walks(df, walk_len=3, wp=1, w1=4,
                                wq=2).collect())
    exp, classes = _py_node2vec(sorted(set(edges)), 3, 1, 4, 2)
    assert got == sorted(exp)
    # the graph must exercise ALL THREE weight classes or the test
    # certifies nothing second-order
    assert classes == {"p", "1", "q"}


def test_node2vec_pure_return_bias_backtracks(spark):
    # wp huge, others tiny on a path graph: step 2 must return to
    # the start whenever the walker has a choice
    from python_mecab_ner_spark.operators.graph import node2vec_walks
    edges = [(i, i + 1) for i in range(6)]
    edges += [(b, a) for a, b in edges]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = node2vec_walks(df, walk_len=2, wp=1000, w1=1, wq=1)
    walks = {}
    for r in out.collect():
        walks.setdefault(r["start"], {})[r["step"]] = r["node"]
    for start, w in walks.items():
        if 2 in w:
            assert w[2] == start, (start, w)


# ---------------------------------------------------- Katz centrality

def test_katz_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.graph import katz_int
    rng = random.Random(53)
    edges = sorted({(rng.randrange(20), rng.randrange(20))
                    for _ in range(60)})
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["k"]
           for r in katz_int(df, iters=3, atten_den=2).collect()}
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    k = {n: 1_000_000 for n in nodes}
    for _ in range(3):
        m = Counter()
        for a, b in edges:
            m[b] += k[a]
        k = {n: 1_000_000 + m.get(n, 0) // 2 for n in nodes}
    assert got == k


def test_katz_counts_hub_endorsements_whole(spark):
    # hub 0 points at 1..10; PageRank splits the hub's mass ten
    # ways, Katz gives each target the full attenuated count
    from python_mecab_ner_spark.operators.graph import (katz_int,
                                                        pagerank_int)
    edges = [(0, i) for i in range(1, 11)] + [(11, 12)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    katz = {r["node"]: r["k"] for r in katz_int(df, iters=1).collect()}
    pr = {r["node"]: r["pr"] for r in pagerank_int(df, iters=1).collect()}
    assert katz[1] == katz[12]          # both get one full endorsement
    assert pr[1] < pr[12]               # PR dilutes the hub's vote


# -------------------------------------------------- weak-vote fusion

def _py_weak_vote(rows, k):
    n = len(rows)
    maj = {i: int(2 * sum(g) > k) for i, g in rows}
    w = [2 * (sum(1 for i, g in rows if g[j] == maj[i])
              * 1_000_000 // n) - 1_000_000 for j in range(k)]
    out = {}
    for i, g in rows:
        score = sum((2 * g[j] - 1) * w[j] for j in range(k))
        fused = int(score > 0)
        out[i] = (sum(g), maj[i], score, fused,
                  int(fused != maj[i]))
    return out


def test_weak_vote_fusion_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.classify import (
        weak_vote_fusion)
    rng = random.Random(59)
    # g0..g2 track a latent label with noise; g3 is ANTI-correlated
    rows = []
    for i in range(400):
        y = rng.randrange(2)
        g = [y if rng.random() < 0.85 else 1 - y for _ in range(3)]
        g.append(1 - y if rng.random() < 0.8 else y)
        rows.append((i, tuple(g)))
    df = spark.createDataFrame(
        [(i, *g) for i, g in rows], ["id", "g0", "g1", "g2", "g3"])
    out = weak_vote_fusion(df, "id", ["g0", "g1", "g2", "g3"])
    got = {r["id"]: (r["n_pos"], r["majority"], r["score"],
                     r["fused"], r["flipped"]) for r in out.collect()}
    exp = _py_weak_vote(rows, 4)
    assert got == exp
    # the anti-correlated gate must earn a NEGATIVE weight and the
    # fusion must actually overrule some majorities
    assert any(v[4] == 1 for v in got.values())


# ---------------------------------------------------- reshard audit

def test_reshard_audit_matches_python_twin(spark):
    from pyspark.sql import functions as F

    from python_mecab_ner_spark.functions.hashing import md5_int_py
    from python_mecab_ner_spark.operators.layout import reshard_audit
    keys = [f"k{i}" for i in range(600)]
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    got = {r["method"]: (r["n_keys"], r["moved"], r["moved_ppm"])
           for r in reshard_audit(df, F.col("key"), 8, 9).collect()}

    def hrw(k, n):
        return max(((md5_int_py(f"{k}#{s}", bits_hex=12,
                                salt="shard:") << 6) + s)
                   for s in range(n)) % 64
    mm = sum(1 for k in keys
             if md5_int_py(k, bits_hex=12, salt="shard:") % 8
             != md5_int_py(k, bits_hex=12, salt="shard:") % 9)
    hm = sum(1 for k in keys if hrw(k, 8) != hrw(k, 9))
    exp = {"mod": (600, mm, mm * 1_000_000 // 600),
           "rendezvous": (600, hm, hm * 1_000_000 // 600)}
    assert got == exp
    # the whole point: rendezvous moves ~1/9, mod moves ~8/9
    assert got["rendezvous"][1] < got["mod"][1] // 4


def test_hrw_only_new_shard_gains_keys():
    # minimal-disruption property: every moved key lands on the NEW
    # shard (id n_from), never reshuffles between old shards
    from python_mecab_ner_spark.functions.hashing import md5_int_py

    def hrw(k, n):
        return max(((md5_int_py(f"{k}#{s}", bits_hex=12,
                                salt="shard:") << 6) + s)
                   for s in range(n)) % 64
    for i in range(500):
        a, b = hrw(f"x{i}", 8), hrw(f"x{i}", 9)
        if a != b:
            assert b == 8


# ----------------------------------------------- postings gap audit

def test_postings_gap_audit_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.retrieval import (
        postings_gap_audit)
    rng = random.Random(61)
    vocab = [f"w{i}" for i in range(40)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(3, 25))))
            for i in range(120)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["df_bits"]: (r["n_terms"], r["n_postings"], r["gap_bits"],
                          r["fixed_bits"], r["ratio_ppm"])
           for r in postings_gap_audit(df, "text", "doc_id").collect()}
    posts = {}
    for i, t in docs:
        for w in set(t.split()):
            posts.setdefault(w, set()).add(i)
    agg = {}
    for w, ids in posts.items():
        ids = sorted(ids)
        gbits = sum((g - p).bit_length()
                    for p, g in zip([-1] + ids, ids))
        b = len(ids).bit_length()
        t0, p0, g0 = agg.get(b, (0, 0, 0))
        agg[b] = (t0 + 1, p0 + len(ids), g0 + gbits)
    exp = {b: (t, p, g, p * 32, g * 1_000_000 // (p * 32))
           for b, (t, p, g) in agg.items()}
    assert got == exp


# -------------------------------------------------- Neyman allocation

def _py_neyman(rows, budget):
    import math
    groups = {}
    for s, v in rows:
        n, s1, s2 = groups.get(s, (0, 0, 0))
        groups[s] = (n + 1, s1 + v, s2 + v * v)
    w = {s: math.isqrt(n * s2 - s1 * s1)
         for s, (n, s1, s2) in groups.items()}
    tw = sum(w.values())
    base = {s: budget * x // tw for s, x in w.items()}
    rem = {s: budget * x % tw for s, x in w.items()}
    left = budget - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s))
    return {s: (groups[s][0], w[s],
                base[s] + (1 if order.index(s) < left else 0))
            for s in w}


def test_neyman_matches_python_twin_and_sums_to_budget(spark):
    from python_mecab_ner_spark.operators.sample import neyman_allocation
    rng = random.Random(67)
    # s0 large+uniform, s1 small+wild, s2 medium
    rows = ([("s0", 100 + rng.randrange(3)) for _ in range(300)]
            + [("s1", rng.randrange(1, 2000)) for _ in range(40)]
            + [("s2", rng.randrange(50, 150)) for _ in range(120)])
    df = spark.createDataFrame(rows, ["source", "v"])
    got = {r["stratum"]: (r["n_docs"], r["w_scaled"], r["alloc"])
           for r in neyman_allocation(df, "source", "v",
                                      budget=997).collect()}
    assert got == _py_neyman(rows, 997)
    assert sum(v[2] for v in got.values()) == 997
    # the wild small stratum must out-draw the uniform big one
    # per capita
    assert got["s1"][2] * got["s0"][0] > got["s0"][2] * got["s1"][0]


# ----------------------------------------------------- c-TF-IDF terms

def test_class_tfidf_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.retrieval import (
        class_tfidf_terms)
    rng = random.Random(71)
    common = [f"c{i}" for i in range(6)]
    docs = []
    for i in range(90):
        cls = f"k{i % 3}"
        words = [rng.choice(common) for _ in range(8)] + [f"own{i % 3}"]
        rng.shuffle(words)
        docs.append((i, " ".join(words), cls))
    df = spark.createDataFrame(docs, ["doc_id", "text", "cls"])
    out = class_tfidf_terms(df, "text", "cls", k=3, bigrams=False)
    got = {(r["cls"], r["rank"]): (r["term"], r["ctf"], r["cf"],
                                   r["score"])
           for r in out.collect()}
    ctf, cls_of = Counter(), {}
    for _, t, c in docs:
        for w in t.split():
            ctf[(c, w)] += 1
    cf = Counter()
    for c, w in ctf:
        cf[w] += 1
    ncls = 3
    exp = {}
    for c in {"k0", "k1", "k2"}:
        scored = sorted(
            ((w, ctf[(c, w)], cf[w],
              ctf[(c, w)] * ((ncls // cf[w]).bit_length()))
             for (cc, w) in ctf if cc == c),
            key=lambda t: (-t[3], t[0]))
        for rk, (w, tf_, cf_, sc) in enumerate(scored[:3], 1):
            exp[(c, rk)] = (w, tf_, cf_, sc)
    assert got == exp
    # each class's own marker word must be its #1 distinctive term
    for c in {"k0", "k1", "k2"}:
        assert got[(c, 1)][0] == "own" + c[1]


# ------------------------------------------------- seasonal outliers

def test_seasonal_outliers_matches_python_twin(spark):
    import datetime

    from python_mecab_ner_spark.operators.spans import seasonal_outliers
    rng = random.Random(73)
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for d in range(28):
        day = base + datetime.timedelta(days=d)
        # weekday-shaped rate + two planted spikes
        n = 40 if (17532 + d) % 7 < 5 else 12   # 2024-01-01 = day 19723
        if d in (9, 20):
            n *= 2
        for i in range(n):
            rows.append(("ev", day + datetime.timedelta(seconds=i)))
    df = spark.createDataFrame(rows, ["event_type", "ts"])
    got = seasonal_outliers(df, "ts", "event_type", dev_pct=50).collect()
    assert len(got) == 1
    r = got[0]
    daily = Counter()
    for _, ts in rows:
        daily[(ts.date() - datetime.date(1970, 1, 1)).days] += 1
    prof = {}
    for day, cnt in daily.items():
        t, n = prof.get(day % 7, (0, 0))
        prof[day % 7] = (t + cnt, n + 1)
    outs = []
    for day, cnt in daily.items():
        t, n = prof[day % 7]
        dev = abs(cnt * n - t)
        if dev * 100 > 50 * t:
            outs.append((dev, -day, cnt))
    worst = max(outs)
    assert (r["n_days"], r["n_outlier_days"]) == (28, len(outs))
    assert (r["worst_day"], r["worst_cnt"]) == (-worst[1], worst[2])
    # the two planted spike days are exactly the outliers
    spike_days = {(datetime.date(2024, 1, 1)
                   - datetime.date(1970, 1, 1)).days + d
                  for d in (9, 20)}
    assert {-d for _, d, _ in outs} == spike_days


# ------------------------------------------------- robustness curve

def _py_robustness(pairs, pcts):
    pairs = sorted({(a, b) for a, b in pairs if a != b})
    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    rank = sorted(nodes, key=lambda v: (-deg[v], v))
    n = len(nodes)
    out = []
    for p in pcts:
        k = (n * p) // 100
        rem = set(rank[:k])
        kept = [(a, b) for a, b in pairs
                if a not in rem and b not in rem]
        adj = {}
        for a, b in kept:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        seen, comps = set(), []
        for v in adj:
            if v in seen:
                continue
            stack, size = [v], 0
            seen.add(v)
            while stack:
                x = stack.pop()
                size += 1
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        stack.append(y)
            comps.append(size)
        in_cc = sum(comps)
        singles = (n - k) - in_cc
        largest = max(comps + ([1] if singles else [0]))
        out.append((p, k, n - k, len(kept), largest,
                    len(comps) + singles))
    return out


def test_robustness_curve_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.graph import robustness_curve
    rng = random.Random(79)
    pairs = {tuple(sorted((rng.randrange(60), rng.randrange(60))))
             for _ in range(120)}
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = [tuple(r) for r in
           robustness_curve(df, removal_pcts=(0, 15, 30)).collect()]
    assert sorted(got) == sorted(_py_robustness(pairs, (0, 15, 30)))


def test_robustness_hub_star_shatters(spark):
    # a 30-leaf star: removing ~4% of nodes (= the hub) drops the
    # largest component from 31 to 1 — the scale-free attack story
    from python_mecab_ner_spark.operators.graph import robustness_curve
    pairs = [(0, i) for i in range(1, 31)]
    df = spark.createDataFrame(pairs, ["a", "b"])
    rows = {r["pct_removed"]: r for r in
            robustness_curve(df, removal_pcts=(0, 4)).collect()}
    assert rows[0]["largest_cc"] == 31
    assert rows[4]["n_removed"] == 1
    assert rows[4]["largest_cc"] == 1
    assert rows[4]["n_components"] == 30


def test_robustness_random_mode_matches_twin_and_is_gentler(spark):
    from python_mecab_ner_spark.operators.graph import robustness_curve
    # hub-and-spoke forest: 6 stars of 9 leaves each, chained — the
    # heavy-tailed shape where the contrast shows
    pairs = []
    for h in range(6):
        hub = h * 10
        pairs += [(hub, hub + i) for i in range(1, 10)]
        if h:
            pairs.append(((h - 1) * 10, hub))
    df = spark.createDataFrame(pairs, ["a", "b"])
    res = {}
    for mode in ("degree", "random"):
        res[mode] = {r["pct_removed"]: r["largest_cc"] for r in
                     robustness_curve(df, removal_pcts=(10,),
                                      rank_by=mode).collect()}
    # removing 10% by degree takes all 6 hubs (60 nodes -> 6 removed)
    assert res["degree"][10] == 1
    # degree twin sanity + the contrast: random removal by md5 rank
    # hits mostly leaves, so the graph survives it
    exp = _py_robustness(pairs, (10,))
    assert exp[0][4] == 1
    assert res["random"][10] > res["degree"][10]


# ---------------------------------------------------- LSH planner

def _py_lsh_p(sim, b, r):
    x = sim
    for _ in range(r - 1):
        x = (x * sim) // 1_000_000
    q = 1_000_000 - x
    y = q
    for _ in range(b - 1):
        y = (y * q) // 1_000_000
    return 1_000_000 - y


def test_lsh_plan_audit_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.dedup import lsh_plan_audit
    rng = random.Random(83)
    rows = [(rng.randrange(1, 50), 50) for _ in range(500)]
    df = spark.createDataFrame(rows, ["inter", "uni"])
    got = {(r["bands"], r["rows"]):
           (r["n_pairs"], r["n_hi"], r["n_lo"], r["exp_recall_ppm"],
            r["hi_recall_ppm"], r["lo_catch_ppm"])
           for r in lsh_plan_audit(df).collect()}
    sims = [(i * 1_000_000) // u for i, u in rows]
    hi = [s for s in sims if s >= 700_000]
    lo = [s for s in sims if s < 300_000]
    exp = {}
    for b, r in ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)):
        ps = [_py_lsh_p(s, b, r) for s in sims]
        ph = [_py_lsh_p(s, b, r) for s in hi]
        pl = [_py_lsh_p(s, b, r) for s in lo]
        exp[(b, r)] = (len(sims), len(hi), len(lo),
                       sum(ps) // max(len(sims), 1),
                       sum(ph) // max(len(hi), 1),
                       sum(pl) // max(len(lo), 1))
    assert got == exp
    # the trade must be visible: OR-heavy catches the most junk,
    # AND-heavy drops the most near-dups
    assert got[(16, 1)][5] == max(v[5] for v in got.values())
    assert got[(1, 16)][4] == min(v[4] for v in got.values())


# ---------------------------------------------------- fresh rank

def test_fresh_rank_decay_expression(spark):
    # the q228 edge weight: 1024 halves per year of age, floor 1 —
    # exact shiftright semantics, identical to python's >> on every
    # age the data can produce
    from pyspark.sql import functions as F
    df = spark.range(0, 4000, 137).select(
        F.col("id").alias("age"),
        F.expr("greatest(shiftright(1024,"
               " CAST(age div 365 AS INT)), 1)").alias("w"))
    got = {r["age"]: r["w"] for r in df.collect()}
    assert got == {a: max(1024 >> (a // 365), 1)
                   for a in range(0, 4000, 137)}
    # a stale-only node's inbound mass is ~1/1024 of a fresh one's:
    # the decay spans three orders of magnitude across TPC-H's
    # seven-year order window
    assert max(got.values()) == 1024 and min(got.values()) == 1


def test_fresh_rank_matches_oracle_past_32_years(spark, tmp_path):
    # order ages of 0-40 years: past 31 Spark's shiftright would take
    # the count mod 32 and DuckDB's >> would not; both clamp it at 30
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from scripts.check_oracle import value_hash
    newest = dt.datetime(2000, 1, 1)
    ages = range(41)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(ages, pa.int64()),
        "o_custkey": pa.array([a % 5 for a in ages], pa.int64()),
        "o_orderdate": [newest - dt.timedelta(days=365 * a)
                        for a in ages]}), tmp_path / "orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(ages, pa.int64()),
        "l_suppkey": pa.array([a % 3 for a in ages], pa.int64())}),
        tmp_path / "lineitem.parquet")
    sdf = entry.q228_fresh_rank(spark, str(tmp_path))
    got = value_hash([tuple(r) for r in sdf.collect()], sdf.columns)
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tmp_path / t}.parquet'")
    cur = con.execute(entry._fresh_rank_oracle_sql())
    exp = value_hash(cur.fetchall(), [d[0] for d in cur.description])
    assert got == exp


# ------------------------------------------- calibration summary

def test_calibration_summary_matches_python_twin(spark):
    from python_mecab_ner_spark.operators.classify import (
        calibration_summary)
    bins = [(0, 40, 2), (1, 30, 3), (2, 25, 5), (3, 20, 3),
            (4, 15, 6), (5, 10, 7)]
    rows = [(b, n, p, 0, 0, (p * 1_000_000) // n)
            for b, n, p in bins]
    df = spark.createDataFrame(
        rows, ["bin", "n_docs", "n_pos", "lo_score", "hi_score",
               "pos_ppm"])
    r = calibration_summary(df).collect()[0]
    nn = sum(n for _, n, _ in bins)
    pool = sum(p for _, _, p in bins) * 1_000_000 // nn
    ppms = [(p * 1_000_000) // n for _, n, p in bins]
    resolution = sum(n * abs(pp - pool)
                     for (_, n, _), pp in zip(bins, ppms)) // nn
    invs = [(a - b) for a, b in zip(ppms, ppms[1:]) if b < a]
    assert (r["n_bins"], r["n_docs"], r["pool_ppm"]) == (6, nn, pool)
    assert r["resolution_ppm"] == resolution
    assert (r["n_inversions"], r["max_inversion_ppm"]) == (
        len(invs), max(invs))
    # the planted inversion (bin 2 -> 3: 200000 -> 150000) is seen
    assert r["n_inversions"] == 1
