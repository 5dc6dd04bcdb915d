"""Local (Spark-free) serving front-end: hash parity, rank identity
with the cluster WAND path, and segmented serving-state exactness."""

import math
import random
import string

import pytest
from pyspark.sql import functions as F

from searchengine_spark.corpus import QUERIES
from searchengine_spark.index.shards import load_index
from searchengine_spark.query.serve_local import LocalSearcher
from searchengine_spark.query.wand import wand_topk


def test_xxhash64_matches_spark(spark):
    """The pure-Python XXH64 must equal Spark's JVM implementation —
    bucket pruning would silently miss terms otherwise.  Probes every
    length class of the algorithm (empty, <4, <8, <32, >=32 bytes) plus
    unicode."""
    from searchengine_spark.index.xxhash64 import spark_xxhash64

    rng = random.Random(5)
    words = ["", "a", "ab", "abc", "abcd", "hash", "parser",
             "länger-ünïcode", "日本語トークン", "x" * 31, "y" * 32,
             "z" * 100]
    words += [
        "".join(rng.choices(string.ascii_lowercase + string.digits,
                            k=rng.randint(1, 40)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(w,) for w in words], "term string")
    got = {
        r["term"]: r["h"]
        for r in df.select(
            "term", F.xxhash64("term").alias("h")
        ).collect()
    }
    for w in words:
        assert spark_xxhash64(w) == got[w], repr(w)


@pytest.fixture(scope="module")
def searcher(index_dir):
    return LocalSearcher(index_dir, stem=True)


@pytest.fixture(scope="module")
def split_corpora(spark):
    """Lexical-median split (same recipe as tests/test_segments.py)."""
    from searchengine_spark.corpus import synth_corpus

    rows = sorted(
        synth_corpus(200), key=lambda r: (r["repo"], r["path"], r["commit"])
    )
    half = len(rows) // 2
    return (
        spark.createDataFrame(rows),
        spark.createDataFrame(rows[:half]),
        spark.createDataFrame(rows[half:]),
    )


def _spark_rows(spark, shards, queries, mode):
    res = wand_topk(spark, shards, queries, k=10, mode=mode)
    out = {}
    for r in res.collect():
        out.setdefault(r["qid"], []).append(
            (r["rank"], r["docid"], r["score"])
        )
    return out


def test_local_serving_equals_wand(spark, index_dir, searcher):
    """Single-query local answers must be rank- and score-identical to
    the cluster WAND path over the same index files, both modes."""
    shards = load_index(spark, index_dir)
    queries = [(qid, q) for qid, q in QUERIES]
    for mode in ("and", "or"):
        expect = _spark_rows(spark, shards, queries, mode)
        n_nonempty = 0
        for qid, q in queries:
            got = searcher.topk(q, k=10, mode=mode)
            exp = expect.get(qid, [])
            assert len(got) == len(exp), (mode, qid)
            for (gr, gd, gs), (er, ed, es) in zip(got, exp):
                assert (gr, gd) == (er, ed), (mode, qid)
                assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
            n_nonempty += bool(got)
        assert n_nonempty > len(queries) // 2


def test_local_serving_unknown_and_empty_queries(searcher):
    assert searcher.topk("zzzqx parser") == []          # AND, missing
    assert searcher.topk("") == []
    assert searcher.topk("zzzqx vvkwq", mode="or") == []  # all missing
    # blended path shares the prune/abort heuristics
    assert searcher.blended_topk("zzzqx vvkwq qqqpt parser") == []
    assert searcher.blended_topk("") == []


def test_local_blended_equals_ondisk_scorer(spark, index_dir, searcher):
    """blended_topk must reproduce the full end-user scoring chain
    (prune → BM25 → cosine → norms → quality blend) rank- and
    score-identically to score_queries_ondisk over the same index."""
    from searchengine_spark.query.scoring import score_queries_ondisk

    shards = load_index(spark, index_dir)
    queries = [(qid, q) for qid, q in QUERIES]
    expect = {}
    res = score_queries_ondisk(spark, queries, shards, k=10)
    for r in res.collect():
        expect.setdefault(r["qid"], []).append(
            (r["rank"], r["docid"], r["score"])
        )
    n_nonempty = 0
    for qid, q in queries:
        got = searcher.blended_topk(q, k=10)
        exp = expect.get(qid, [])
        assert [(r, d) for r, d, _ in got] == [
            (r, d) for r, d, _ in exp
        ], (qid, q)
        for (_, _, gs), (_, _, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
        n_nonempty += bool(got)
    assert n_nonempty > len(queries) // 2


def _pos_term_map(oracle):
    """docid -> {position: term} inverted from the oracle postings —
    lets tests pick phrases guaranteed to occur in the corpus."""
    pm = {}
    for t, m in oracle.postings.items():
        for d, (_tf, poss) in m.items():
            for p in poss:
                pm.setdefault(d, {})[p] = t
    return pm


def _oracle_phrase(oracle, terms, k=50):
    """Pure-Python expected phrase result: (docid, n_occurrences),
    occurrences desc / docid asc — independent recomputation of
    ops/textops.phrase_match_indexed's join semantics."""
    posts = [oracle.postings.get(t) for t in terms]
    if any(p is None for p in posts):
        return []
    cand = set(posts[0])
    for p in posts[1:]:
        cand &= set(p)
    out = []
    for d in cand:
        sets = [set(p[d][1]) for p in posts]
        n = sum(
            1 for p0 in posts[0][d][1]
            if all(p0 + i in sets[i] for i in range(1, len(terms)))
        )
        if n:
            out.append((d, n))
    out.sort(key=lambda dn: (-dn[1], dn[0]))
    return out[:k]


def _oracle_proximity(oracle, ta, tb, k=10):
    """Pure-Python expected proximity ranking (all-pairs min distance —
    fine at test scale; the engine's merge scan must agree)."""
    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    pa = oracle.postings.get(ta, {})
    pb = oracle.postings.get(tb, {})
    out = []
    for d in set(pa) & set(pb):
        tfa, posa = pa[d]
        tfb, posb = pb[d]
        mind = min(abs(x - y) for x in posa for y in posb)
        dl = oracle.docs[d]["total_tokens"]

        def w(tf):
            return tf * (BM25_K1 + 1.0) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / oracle.avgdl)
            )

        score = (
            bm25_idf(oracle.n_survivors, len(pa)) * w(tfa)
            + bm25_idf(oracle.n_survivors, len(pb)) * w(tfb)
            + 1.0 / (1.0 + mind)
        )
        out.append((d, mind, score))
    out.sort(key=lambda t: (-t[2], t[0]))
    return out[:k]


def _oracle_span_near(oracle, terms, k=10):
    """Brute-force expected span-near ranking (cartesian min cover —
    fine at test scale; the anchor-searchsorted kernels must agree):
    BM25 folded in term-list order + len(terms)/min_win boost,
    (docid, min_win, score) score desc / docid asc."""
    import itertools

    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    posts = [oracle.postings.get(t, {}) for t in terms]
    cand = set(posts[0])
    for p in posts[1:]:
        cand &= set(p)
    out = []
    for d in cand:
        arrs = [p[d][1] for p in posts]
        win = min(
            max(c) - min(c) + 1 for c in itertools.product(*arrs)
        )
        dl = oracle.docs[d]["total_tokens"]

        def w(tf):
            return tf * (BM25_K1 + 1.0) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / oracle.avgdl)
            )

        score = None
        for t, p in zip(terms, posts):
            part = bm25_idf(oracle.n_survivors, len(p)) * w(p[d][0])
            score = part if score is None else score + part
        score = score + float(len(terms)) / win
        out.append((d, win, score))
    out.sort(key=lambda t: (-t[2], t[0]))
    return out[:k]


def _ident(s):
    return s.split()


def test_local_phrase_matches_oracle(searcher, oracle):
    """phrase_topk must reproduce the indexed-phrase-join semantics —
    expected computed independently from the oracle's postings (terms
    fed pre-analyzed, so the test controls the term space exactly)."""
    pm = _pos_term_map(oracle)
    d = next(d for d in sorted(pm) if {1, 2, 3} <= set(pm[d]))
    two = [pm[d][1], pm[d][2]]
    three = [pm[d][1], pm[d][2], pm[d][3]]
    for phrase in (two, three):
        exp = _oracle_phrase(oracle, phrase)
        assert exp, phrase  # self-selected phrases must occur
        assert searcher.phrase_topk(phrase, k=50, analyzer=_ident) == exp
    # single-term phrase: every occurrence matches (count == tf)
    assert (
        searcher.phrase_topk([two[0]], k=50, analyzer=_ident)
        == _oracle_phrase(oracle, [two[0]])
    )
    # unknown term / empty phrase
    assert searcher.phrase_topk(["zzznope", two[0]], analyzer=_ident) == []
    assert searcher.phrase_topk("", analyzer=_ident) == []


def test_local_proximity_matches_oracle(searcher, oracle):
    """proximity_topk must reproduce the Spark op's ranking: BM25 pair
    + 1/(1+min_distance), min distance from the stored positions."""
    pm = _pos_term_map(oracle)
    ta = tb = None
    for d in sorted(pm):
        at = pm[d]
        if 1 in at and 2 in at and at[1] != at[2]:
            ta, tb = at[1], at[2]
            break
    assert ta is not None
    exp = _oracle_proximity(oracle, ta, tb, k=10)
    assert exp
    got = searcher.proximity_topk([ta, tb], k=10, analyzer=_ident)
    assert [(d, m) for d, m, _ in got] == [(d, m) for d, m, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
    assert searcher.proximity_topk(["zzznope", ta], analyzer=_ident) == []
    with pytest.raises(ValueError):
        searcher.proximity_topk([ta, ta], analyzer=_ident)
    with pytest.raises(ValueError):
        searcher.proximity_topk([ta], analyzer=_ident)


def test_local_span_near_matches_oracle(searcher, oracle):
    """span_near_topk must reproduce the Spark op's ranking: k-ary
    conjunctive BM25 + len(terms)/min_win, min_win the minimal
    covering window from stored positions — expected via the
    brute-force cartesian cover."""
    pm = _pos_term_map(oracle)
    trip = None
    for d in sorted(pm):
        at = pm[d]
        if (
            1 in at and 2 in at and 3 in at
            and len({at[1], at[2], at[3]}) == 3
        ):
            trip = [at[1], at[2], at[3]]
            break
    assert trip is not None
    exp = _oracle_span_near(oracle, trip, k=10)
    assert exp
    got = searcher.span_near_topk(trip, k=10, analyzer=_ident)
    assert [(d, w) for d, w, _ in got] == [(d, w) for d, w, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
    # the pair case degenerates to proximity eligibility: same docs
    pair = _oracle_span_near(oracle, trip[:2], k=10)
    gotp = searcher.span_near_topk(trip[:2], k=10, analyzer=_ident)
    assert [(d, w) for d, w, _ in gotp] == [(d, w) for d, w, _ in pair]
    assert searcher.span_near_topk(["zzznope", trip[0]],
                                   analyzer=_ident) == []
    with pytest.raises(ValueError):
        searcher.span_near_topk([trip[0], trip[0]], analyzer=_ident)
    with pytest.raises(ValueError):
        searcher.span_near_topk([trip[0]], analyzer=_ident)


def _oracle_slop(oracle, ta, tb, slop, k=50):
    """Pure-Python expected sloppy-phrase counts (brute-force ordered
    pair scan — fine at test scale; the engine's double searchsorted
    must agree): (docid, n_windows), count desc / docid asc."""
    pa = oracle.postings.get(ta, {})
    pb = oracle.postings.get(tb, {})
    out = []
    for d in set(pa) & set(pb):
        n = sum(
            1
            for x in pa[d][1]
            for y in pb[d][1]
            if 0 < y - x <= slop + 1
        )
        if n:
            out.append((d, n))
    out.sort(key=lambda dn: (-dn[1], dn[0]))
    return out[:k]


def test_local_slop_matches_oracle(searcher, oracle):
    """slop_topk must reproduce the ordered-window rule (0 < pb − pa
    <= slop + 1) against a brute-force pair scan, and degenerate to
    the exact two-term phrase at slop=0."""
    pm = _pos_term_map(oracle)
    ta = tb = None
    for d in sorted(pm):
        at = pm[d]
        if 1 in at and 2 in at and at[1] != at[2]:
            ta, tb = at[1], at[2]
            break
    assert ta is not None
    for slop in (0, 3):
        exp = _oracle_slop(oracle, ta, tb, slop)
        assert exp, (ta, tb, slop)
        got = searcher.slop_topk([ta, tb], slop=slop, k=50,
                                 analyzer=_ident)
        assert got == exp, slop
    # slop=0 == exact adjacent pair phrase
    assert (
        searcher.slop_topk([ta, tb], slop=0, k=50, analyzer=_ident)
        == _oracle_phrase(oracle, [ta, tb])
    )
    assert searcher.slop_topk(["zzznope", ta], analyzer=_ident) == []
    with pytest.raises(ValueError):
        searcher.slop_topk([ta, ta], analyzer=_ident)
    with pytest.raises(ValueError):
        searcher.slop_topk([ta], analyzer=_ident)


def test_spark_slop_matches_local(spark, index_dir, searcher, oracle):
    """query/positions.slop_topk_shards over the stemmed index must
    equal both the brute-force oracle and the serving tier."""
    from searchengine_spark.query.positions import slop_topk_shards

    sh = load_index(spark, index_dir)
    pm = _pos_term_map(oracle)
    ta = tb = None
    for d in sorted(pm):
        at = pm[d]
        if 1 in at and 2 in at and at[1] != at[2]:
            ta, tb = at[1], at[2]
            break
    exp = _oracle_slop(oracle, ta, tb, 3)
    got = [
        (r["doc_id"], r["n_windows"])
        for r in slop_topk_shards(spark, sh, [ta, tb], slop=3,
                                  k=50).collect()
    ]
    assert got == exp
    assert got == searcher.slop_topk([ta, tb], slop=3, k=50,
                                     analyzer=_ident)


def test_corrected_topk_follows_suggest_rule(searcher):
    """corrected_topk must equal topk() over the query with every
    token rewritten to its suggest() rank-1 candidate (dropped when
    none) — i.e. a misspelled query serves the corrected query's
    ranking exactly."""
    from collections import Counter

    vocab = sorted(searcher._df, key=lambda t: (-searcher._df[t], t))
    base = next(t for t in vocab if len(t) >= 4)
    probe = base[0] + base[2:]  # delete 2nd char (fuzzy probe rule)
    other = next(t for t in vocab if t != base)
    raw = f"{probe} {other}"
    corrected = []
    for tok in _ident(raw):
        s = searcher.suggest(tok, topn=1)
        if s:
            corrected.append(s[0][0])
    corrected = sorted(set(corrected))
    assert base in corrected  # the misspelling actually corrected back
    want = searcher.topk(
        " ".join(corrected), k=10,
        analyzer=lambda _t: Counter(corrected),
    )
    got = searcher.corrected_topk(raw, k=10, analyzer=_ident)
    assert got == want and got
    # an all-garbage query corrects to nothing
    assert searcher.corrected_topk("zzzzqqqxx", analyzer=_ident) == []


def test_spark_positions_surfaces_match_local(spark, index_dir, searcher,
                                              oracle):
    """query/positions (the shards-level Spark phrase/proximity ops)
    must equal both the pure-Python oracle and the local serving tier
    over the same stemmed index."""
    from searchengine_spark.query.positions import (
        phrase_topk_shards,
        proximity_topk_shards,
    )

    sh = load_index(spark, index_dir)
    pm = _pos_term_map(oracle)
    d = next(d for d in sorted(pm) if {1, 2, 3} <= set(pm[d]))
    phrase = [pm[d][1], pm[d][2], pm[d][3]]
    exp = _oracle_phrase(oracle, phrase)
    assert exp
    got = [
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_topk_shards(spark, sh, phrase, k=50).collect()
    ]
    assert got == exp
    assert got == searcher.phrase_topk(phrase, k=50, analyzer=_ident)

    ta = tb = None
    for dd in sorted(pm):
        at = pm[dd]
        if 1 in at and 2 in at and at[1] != at[2]:
            ta, tb = at[1], at[2]
            break
    expp = _oracle_proximity(oracle, ta, tb, k=10)
    gotp = [
        (r["doc_id"], r["min_dist"], r["score"])
        for r in proximity_topk_shards(spark, sh, [ta, tb], k=10).collect()
    ]
    assert [(x, m) for x, m, _ in gotp] == [(x, m) for x, m, _ in expp]
    for (_, _, gs), (_, _, es) in zip(gotp, expp):  # spark rounds to 6
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-6)

    from searchengine_spark.query.positions import span_near_topk_shards

    trip = None
    for dd in sorted(pm):
        at = pm[dd]
        if (
            1 in at and 2 in at and 3 in at
            and len({at[1], at[2], at[3]}) == 3
        ):
            trip = [at[1], at[2], at[3]]
            break
    assert trip is not None
    exps = _oracle_span_near(oracle, trip, k=10)
    assert exps
    gots = [
        (r["doc_id"], r["min_win"], r["score"])
        for r in span_near_topk_shards(spark, sh, trip, k=10).collect()
    ]
    assert [(x, w) for x, w, _ in gots] == [(x, w) for x, w, _ in exps]
    for (_, _, gs), (_, _, es) in zip(gots, exps):  # spark rounds to 6
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-6)
    assert gots == [
        (d, w, pytest.approx(s, rel=1e-9, abs=1e-6))
        for d, w, s in searcher.span_near_topk(trip, k=10,
                                               analyzer=_ident)
    ]


def test_positions_surfaces_over_segments(spark, split_corpora,
                                          tmp_path_factory):
    """The shards-level phrase/proximity ops serve a SEGMENTED handle
    (postings fetched through the pruned union) identically to a
    LocalSearcher on the same dir."""
    from searchengine_spark.index import build_tables
    from searchengine_spark.index.segments import (
        append_segment,
        init_segmented,
        load_segments,
    )
    from searchengine_spark.query.positions import (
        phrase_topk_shards,
        proximity_topk_shards,
    )
    from searchengine_spark.text.analyze import analyze

    _, a, b = split_corpora
    seg_dir = str(tmp_path_factory.mktemp("pos_seg") / "idx")
    init_segmented(
        spark, build_tables(spark, a, compute_quality=False), seg_dir
    )
    append_segment(spark, seg_dir, b, compute_quality=False)
    seg = load_segments(spark, seg_dir)
    local = LocalSearcher(seg_dir, stem=True)

    content = a.orderBy("repo", "path", "commit").limit(1).collect()[0][
        "content"
    ]
    toks = analyze(content)  # index analyzer: stemmed term space
    phrase = toks[:2]
    exp_ph = local.phrase_topk(phrase, k=50, analyzer=_ident)
    assert exp_ph
    got_ph = [
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_topk_shards(spark, seg, phrase, k=50).collect()
    ]
    assert got_ph == exp_ph

    pair = [toks[0], next(t for t in toks if t != toks[0])]
    exp_px = local.proximity_topk(pair, k=10, analyzer=_ident)
    assert exp_px
    got_px = [
        (r["doc_id"], r["min_dist"], r["score"])
        for r in proximity_topk_shards(spark, seg, pair, k=10).collect()
    ]
    assert [(x, m) for x, m, _ in got_px] == [
        (x, m) for x, m, _ in exp_px
    ]
    for (_, _, gs), (_, _, es) in zip(got_px, exp_px):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-6)

    # sloppy ordered phrase over the same segment union
    from searchengine_spark.query.positions import slop_topk_shards

    exp_sl = local.slop_topk(pair, slop=3, k=50, analyzer=_ident)
    assert exp_sl
    got_sl = [
        (r["doc_id"], r["n_windows"])
        for r in slop_topk_shards(spark, seg, pair, slop=3,
                                  k=50).collect()
    ]
    assert got_sl == exp_sl


def test_local_searcher_refresh_on_append(spark, split_corpora,
                                          tmp_path_factory):
    """A serving replica must pick up committed appends: maybe_refresh
    is a no-op until segments.json swaps, then the new generation's
    docs become searchable."""
    from searchengine_spark.index import build_tables
    from searchengine_spark.index.segments import (
        append_segment,
        init_segmented,
    )

    _, a, b = split_corpora
    seg_dir = str(tmp_path_factory.mktemp("refresh") / "idx")
    init_segmented(
        spark, build_tables(spark, a, compute_quality=False), seg_dir
    )
    ls = LocalSearcher(seg_dir, stem=True)
    (seg0, seek0), = ls._seek_tables.items()
    n0 = ls.n_survivors
    assert ls.maybe_refresh() is False  # nothing committed

    marker = spark.createDataFrame(
        [("zz-live", "p", "c", "python",
          "qqlivemarker qqlivemarker fresh tokens arriving now")],
        "repo string, path string, commit string, lang string, content string",
    )
    append_segment(
        spark, seg_dir, b.unionByName(marker), compute_quality=False
    )
    # stale replica: new content invisible until refresh — including
    # the LAZY termdict views (suggest's variant map, prefix_topk's
    # sorted term list), built NOW off the old termdict
    from searchengine_spark.text.analyze import analyze

    marker_stem = analyze("qqlivemarker")[0]
    marker_suffix = marker_stem[-8:]
    assert ls.topk("qqlivemarker", mode="or") == []
    assert ls.suggest(marker_stem) == []
    assert ls.prefix_topk("qqlivemark") == []
    assert ls.suffix_topk(marker_suffix) == []
    assert ls.maybe_refresh() is True
    assert ls.n_survivors > n0
    # the unchanged generation keeps its seek table; the new one gets one
    assert len(ls._seek_tables) == 2
    assert ls._seek_tables[seg0] is seek0
    hits = ls.topk("qqlivemarker", mode="or")
    assert len(hits) == 1
    # refresh must invalidate the lazy views, not just the termdict
    assert [t for t, _, _ in ls.suggest(marker_stem)] == [marker_stem]
    pf = ls.prefix_topk("qqlivemark")
    assert [(r, d) for r, d, _ in pf] == [(r, d) for r, d, _ in hits]
    sf = ls.suffix_topk(marker_suffix)
    assert [(r, d) for r, d, _ in sf] == [(r, d) for r, d, _ in hits]
    assert ls.maybe_refresh() is False  # idempotent


def test_local_serving_over_compacted_segments(spark, split_corpora,
                                               tmp_path_factory):
    """A segmented dir with tombstones + df corrections must serve the
    SAME answers locally as wand_topk over load_segments — the whole
    serving-state contract (stats, idf, block maxima, liveness) redone
    without Spark."""
    from searchengine_spark.index import build_tables
    from searchengine_spark.index.segments import (
        append_segment,
        compact_near_dups,
        init_segmented,
        load_segments,
    )

    _, a, b = split_corpora
    seg_dir = str(tmp_path_factory.mktemp("local_seg") / "idx")
    init_segmented(
        spark,
        build_tables(spark, a, compute_quality=False, simhash_bits=32),
        seg_dir,
    )
    src = a.orderBy("repo", "path", "commit").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [("zz-twin2", src["path"], src["commit"], src["lang"],
          src["content"] + " zzextra zzmore")],
        "repo string, path string, commit string, lang string, content string",
    )
    append_segment(
        spark, seg_dir, b.unionByName(twin),
        compute_quality=False, simhash_bits=32,
    )
    assert compact_near_dups(spark, seg_dir, bits=32) >= 1

    seg = load_segments(spark, seg_dir)
    local = LocalSearcher(seg_dir, stem=True)
    assert local.n_survivors == seg.stats["n_survivors"]
    assert local.avgdl == seg.stats["avgdl"]

    queries = [(qid, q) for qid, q in QUERIES]
    for mode in ("and", "or"):
        expect = _spark_rows(spark, seg, queries, mode)
        for qid, q in queries:
            got = local.topk(q, k=10, mode=mode)
            exp = expect.get(qid, [])
            assert [(r, d) for r, d, _ in got] == [
                (r, d) for r, d, _ in exp
            ], (mode, qid)
            for (_, _, gs), (_, _, es) in zip(got, exp):
                assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

    # positions surfaces respect tombstone liveness: the token pair
    # unique to the tombstoned twin must not match as a phrase or a
    # proximity pair (blocks still physically contain its postings
    # until merge), while surviving content still answers — on BOTH
    # engines (the Spark shards-level op's docs-join must mask the
    # same postings the local kernels mask)
    from searchengine_spark.query.positions import phrase_topk_shards
    from searchengine_spark.text.analyze import analyze
    from searchengine_spark.text.tokenizer import tokenize

    assert local.phrase_topk("zzextra zzmore") == []
    assert local.proximity_topk(["zzextra", "zzmore"]) == []
    assert (
        phrase_topk_shards(
            spark, seg, analyze("zzextra zzmore"), k=10
        ).count()
        == 0
    )
    live_phrase = " ".join(tokenize(src["content"])[:2])
    assert local.phrase_topk(live_phrase, k=50)
    assert [
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_topk_shards(
            spark, seg, analyze(live_phrase), k=50
        ).collect()
    ] == local.phrase_topk(live_phrase, k=50)

    # physical merge: the replica refreshes onto the single merged
    # generation and keeps answering identically
    import os

    from searchengine_spark.index.segments import merge_segments

    pre = {qid: local.topk(q, k=10) for qid, q in queries}
    pre_phrase = local.phrase_topk(live_phrase, k=50)
    merged = merge_segments(spark, seg_dir)
    assert local.maybe_refresh() is True
    # only the merged generation's seek table is left
    assert list(local._seek_tables) == [os.path.join(seg_dir, merged)]
    for qid, q in queries:
        got = local.topk(q, k=10)
        assert [(r, d) for r, d, _ in got] == [
            (r, d) for r, d, _ in pre[qid]
        ], qid
    # merged dir (postings physically rewritten): phrase answers
    # unchanged, tombstoned pair still gone
    assert local.phrase_topk(live_phrase, k=50) == pre_phrase
    assert local.phrase_topk("zzextra zzmore") == []


def test_sharded_serving_equals_unsharded(spark, tmp_path_factory):
    """Docid-range sharding must be invisible to callers: a
    ShardedSearcher over a 3-generation dir (with tombstones from
    compaction) answers rank- AND score-identically to one unsharded
    LocalSearcher on both WAND modes and the blended chain — including
    after a physical merge collapses the generations under it."""
    from searchengine_spark.corpus import synth_corpus
    from searchengine_spark.index import build_tables
    from searchengine_spark.index.segments import (
        append_segment,
        compact_near_dups,
        init_segmented,
        merge_segments,
    )
    from searchengine_spark.query.serve_local import ShardedSearcher

    rows = sorted(
        synth_corpus(210), key=lambda r: (r["repo"], r["path"], r["commit"])
    )
    thirds = [rows[:70], rows[70:140], rows[140:]]
    seg_dir = str(tmp_path_factory.mktemp("sharded") / "idx")
    init_segmented(
        spark,
        build_tables(spark, spark.createDataFrame(thirds[0]),
                     compute_quality=False, simhash_bits=32),
        seg_dir,
    )
    for part in thirds[1:]:
        append_segment(
            spark, seg_dir, spark.createDataFrame(part),
            compute_quality=False, simhash_bits=32,
        )
    # a near-dup twin of an early doc lands in the LAST generation so
    # compaction tombstones across the shard boundary
    src = rows[0]
    twin = spark.createDataFrame(
        [("zz-shard-twin", src["path"], src["commit"], src["lang"],
          src["content"] + " zzshardextra")],
        "repo string, path string, commit string, lang string, content string",
    )
    append_segment(spark, seg_dir, twin, compute_quality=False,
                   simhash_bits=32)
    assert compact_near_dups(spark, seg_dir, bits=32) >= 1

    whole = LocalSearcher(seg_dir, stem=True)
    for n_shards in (2, 3, 8):  # 8 > n_segments: clamps, stays exact
        router = ShardedSearcher(seg_dir, n_shards=n_shards, stem=True)
        assert router.n_survivors == whole.n_survivors
        assert len(router.shards) <= 4
        # every segment served exactly once
        served = [
            s for sh in router.shards for s in sh._segments_subset
        ]
        assert len(served) == len(set(served)) == 4
        n_nonempty = 0
        for qid, q in QUERIES:
            for mode in ("and", "or"):
                exp = whole.topk(q, k=10, mode=mode)
                got = router.topk(q, k=10, mode=mode)
                assert [(r, d) for r, d, _ in got] == [
                    (r, d) for r, d, _ in exp
                ], (n_shards, mode, qid)
                for (_, _, gs), (_, _, es) in zip(got, exp):
                    assert math.isclose(gs, es, rel_tol=1e-9,
                                        abs_tol=1e-12)
                n_nonempty += bool(got)
            exp_b = whole.blended_topk(q, k=10)
            got_b = router.blended_topk(q, k=10)
            assert [(r, d) for r, d, _ in got_b] == [
                (r, d) for r, d, _ in exp_b
            ], (n_shards, qid)
            for (_, _, gs), (_, _, es) in zip(got_b, exp_b):
                assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
        assert n_nonempty > len(QUERIES) // 2

        # positions surfaces shard-merge exactly too (each doc answers
        # from exactly one shard; stats are global in every shard)
        from searchengine_spark.text.analyze import analyze
        from searchengine_spark.text.tokenizer import tokenize

        toks = tokenize(rows[3]["content"])
        phrase_probe = " ".join(toks[:2])
        exp_ph = whole.phrase_topk(phrase_probe, k=20)
        assert exp_ph  # probe must actually occur
        assert router.phrase_topk(phrase_probe, k=20) == exp_ph
        # pick a second token that stays distinct after stemming
        stem0 = analyze(toks[0])[0]
        prox_probe = [
            toks[0],
            next(t for t in toks if analyze(t)[0] != stem0),
        ]
        exp_px = whole.proximity_topk(prox_probe, k=10)
        assert exp_px
        got_px = router.proximity_topk(prox_probe, k=10)
        assert [(d, m) for d, m, _ in got_px] == [
            (d, m) for d, m, _ in exp_px
        ], n_shards
        for (_, _, gs), (_, _, es) in zip(got_px, exp_px):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
        exp_sn = whole.span_near_topk(prox_probe, k=10)
        assert exp_sn
        got_sn = router.span_near_topk(prox_probe, k=10)
        assert [(d, w) for d, w, _ in got_sn] == [
            (d, w) for d, w, _ in exp_sn
        ], n_shards
        for (_, _, gs), (_, _, es) in zip(got_sn, exp_sn):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

        # prefix search shard-merges exactly (termdict — and so the
        # capped expansion set — is global in every shard)
        exp_pf = whole.prefix_topk(stem0[:2], k=10)
        assert exp_pf
        got_pf = router.prefix_topk(stem0[:2], k=10)
        assert [(r, d) for r, d, _ in got_pf] == [
            (r, d) for r, d, _ in exp_pf
        ], n_shards
        for (_, _, gs), (_, _, es) in zip(got_pf, exp_pf):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

        # suffix search shard-merges exactly (reversed termdict is
        # global in every shard, same argument as prefix)
        exp_sf = whole.suffix_topk(stem0[-2:], k=10)
        assert exp_sf
        got_sf = router.suffix_topk(stem0[-2:], k=10)
        assert [(r, d) for r, d, _ in got_sf] == [
            (r, d) for r, d, _ in exp_sf
        ], n_shards
        for (_, _, gs), (_, _, es) in zip(got_sf, exp_sf):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

        # snippet offsets shard-merge exactly (window fields are
        # doc-local; scores are global-stat-only)
        snip_probe = " ".join(prox_probe)
        exp_sw = whole.snippet_windows(snip_probe, k=10)
        assert exp_sw
        got_sw = router.snippet_windows(snip_probe, k=10)
        assert [(r, d, p, nt, nm) for r, d, _s, p, nt, nm in got_sw] \
            == [(r, d, p, nt, nm) for r, d, _s, p, nt, nm in exp_sw], \
            n_shards
        for (_, _, gs, *_), (_, _, es, *_) in zip(got_sw, exp_sw):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

        # sloppy ordered phrase shard-merges exactly (window counts
        # are doc-local, phrase_topk's argument verbatim)
        exp_sl = whole.slop_topk(prox_probe, slop=3, k=20)
        assert exp_sl
        assert router.slop_topk(prox_probe, slop=3, k=20) == exp_sl

        # spell-corrected search shard-merges exactly (global termdict
        # -> identical corrected set in every shard)
        mis = toks[0][0] + toks[0][2:]  # delete 2nd char
        corr_probe = f"{mis} {prox_probe[1]}"
        exp_cr = whole.corrected_topk(corr_probe, k=10)
        assert exp_cr
        got_cr = router.corrected_topk(corr_probe, k=10)
        assert [(r, d) for r, d, _ in got_cr] == [
            (r, d) for r, d, _ in exp_cr
        ], n_shards
        for (_, _, gs), (_, _, es) in zip(got_cr, exp_cr):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

        # the query-language surface shard-merges exactly too
        ql_probe = f'{toks[2]} "{phrase_probe}"'
        exp_s = whole.search(ql_probe, k=10)
        assert exp_s  # the probe doc matches its own phrase + term
        got_s = router.search(ql_probe, k=10)
        assert [(r, d) for r, d, _ in got_s] == [
            (r, d) for r, d, _ in exp_s
        ], n_shards
        for (_, _, gs), (_, _, es) in zip(got_s, exp_s):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

        # ...including a|b OR groups (identical corrected slot sets in
        # every shard; per-slot eligibility is doc-local)
        base_t = next(
            t for t in toks if t not in prox_probe
        )
        ql_or = f"{base_t} {prox_probe[0]}|{prox_probe[1]}"
        exp_o = whole.search(ql_or, k=10)
        assert exp_o
        got_o = router.search(ql_or, k=10)
        assert [(r, d) for r, d, _ in got_o] == [
            (r, d) for r, d, _ in exp_o
        ], n_shards
        for (_, _, gs), (_, _, es) in zip(got_o, exp_o):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

    # physical merge under a live router: refresh re-partitions onto
    # the single merged generation, answers unchanged
    router = ShardedSearcher(seg_dir, n_shards=2, stem=True)
    pre = {qid: router.topk(q, k=10) for qid, q in QUERIES}
    merge_segments(spark, seg_dir)
    assert router.maybe_refresh() is True
    assert len(router.shards) == 1
    for qid, q in QUERIES:
        assert [
            (r, d) for r, d, _ in router.topk(q, k=10)
        ] == [(r, d) for r, d, _ in pre[qid]], qid
    assert router.maybe_refresh() is False


def test_shard_param_validation(index_dir):
    with pytest.raises(ValueError):
        LocalSearcher(index_dir, segments=["g0"])  # not a segmented dir


def test_suggest_matches_brute_force(searcher):
    """suggest() must equal a brute-force scan of the served termdict
    under the fuzzy_terms rule (lev <= 1; dist asc, df desc, term asc)
    — proving the symmetric-delete variant map lossless on a real
    index vocabulary."""
    from searchengine_spark.query.serve_local import _levenshtein

    def brute(q, topn=3):
        scored = sorted(
            (d, -df, t)
            for t, df in searcher._df.items()
            if (d := _levenshtein(q, t)) <= 1
        )
        return [(t, df and -df, d) for d, df, t in scored[:topn]]

    vocab = sorted(searcher._df, key=lambda t: (-searcher._df[t], t))
    probes = [t[0] + t[2:] for t in vocab[:5] if len(t) >= 4]
    probes += [vocab[0], "zzzzqqqxx", ""]
    assert probes
    for q in probes:
        assert searcher.suggest(q) == brute(q), q
    # an in-vocab probe suggests itself first at distance 0
    assert searcher.suggest(vocab[0])[0] == (
        vocab[0], searcher._df[vocab[0]], 0
    )
    # garbage finds nothing
    assert searcher.suggest("zzzzqqqxx") == []


def test_topk_exclude_terms_matches_brute_force(searcher):
    """Boolean NOT on the serving tier: topk(exclude_terms=...) must
    equal re-ranking the UNFILTERED full result with the excluded
    terms' posting docids dropped (eligibility only — surviving scores
    unchanged), and compose with mode='or'."""
    from searchengine_spark.query.prune import analyze_query

    q = QUERIES[0][1]
    excl_raw = ["table"]
    exfreq = analyze_query(" ".join(excl_raw), stem=searcher.stem)
    ex_docs = set()
    for t in exfreq:
        if t in searcher._df:
            for blk in searcher._blocks_for(t):
                ex_docs.update(int(d) for d in blk[3][0])
    # liveness: only docs present in dl count
    dl_ids = set(int(d) for d in searcher._dl[0])
    ex_docs &= dl_ids

    for mode in ("and", "or"):
        base = searcher.topk(q, k=10_000, mode=mode)  # full ranking
        want = [(d, s) for _, d, s in base if d not in ex_docs][:10]
        got = [
            (d, s)
            for _, d, s in searcher.topk(
                q, k=10, mode=mode, exclude_terms=excl_raw
            )
        ]
        assert [d for d, _ in got] == [d for d, _ in want], mode
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)
    # the exclusion actually bit
    assert ex_docs, "fixture lost the excluded term"
    base_ids = {d for _, d, _ in searcher.topk(q, k=10)}
    if base_ids & ex_docs:
        got_ids = {
            d for _, d, _ in searcher.topk(q, k=10,
                                           exclude_terms=excl_raw)
        }
        assert not (got_ids & ex_docs)


def test_search_query_language_matches_oracle(searcher, oracle):
    """search() — the query-language surface — must equal an
    independent recomputation from the oracle postings: conjunctive
    BM25 over the scoring terms, phrase eligibility from positions,
    NOT/allowed eligibility trims with survivor scores UNCHANGED
    (the filtered-search invariant)."""
    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    pm = _pos_term_map(oracle)
    d = ph = must = None
    for d0 in sorted(pm):
        at = pm[d0]
        if {1, 2, 3} <= set(at) and len({at[1], at[2], at[3]}) == 3:
            d, ph, must = d0, [at[1], at[2]], at[3]
            break
    assert d is not None
    scoring = sorted({must, *ph})

    def expect(phrase=None, must_not=(), allowed=None):
        posts = {t: oracle.postings.get(t) for t in scoring}
        if any(p is None for p in posts.values()):
            return []
        cand = set.intersection(*(set(p) for p in posts.values()))
        if phrase is not None:
            cand &= {dd for dd, _ in _oracle_phrase(oracle, phrase,
                                                    k=10 ** 9)}
        for t in must_not:
            cand -= set(oracle.postings.get(t, {}))
        if allowed is not None:
            cand &= set(allowed)
        out = []
        for dd in cand:
            dl = oracle.docs[dd]["total_tokens"]
            s = sum(
                bm25_idf(oracle.n_survivors, len(posts[t]))
                * posts[t][dd][0] * (BM25_K1 + 1.0)
                / (posts[t][dd][0]
                   + BM25_K1 * (1 - BM25_B + BM25_B * dl / oracle.avgdl))
                for t in scoring
            )
            out.append((dd, s))
        out.sort(key=lambda ds: (-ds[1], ds[0]))
        return [(r + 1, dd, s) for r, (dd, s) in enumerate(out)]

    def check(got, exp):
        assert [(r, dd) for r, dd, _ in got] == [
            (r, dd) for r, dd, _ in exp
        ]
        for (_, _, gs), (_, _, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

    q = f'{must} "{ph[0]} {ph[1]}"'
    full = expect(phrase=ph)
    assert full  # doc d holds the phrase at 1-2 and `must` at 3
    check(searcher.search(q, k=10, analyzer=_ident), full[:10])
    # the phrase clause actually trimmed the bare conjunctive set
    base = expect()
    assert len(base) > len(full) or base == full

    # NOT exclusion: drops d_drop, keeps d_keep, survivor scores exact
    d_drop = full[0][1]
    d_keep = full[-1][1] if len(full) >= 2 else None
    ex = next(
        t for t, m in sorted(oracle.postings.items())
        if d_drop in m and t not in scoring
        and (d_keep is None or d_keep not in m)
    )
    got_ex = searcher.search(f'{q} -{ex}', k=10, analyzer=_ident)
    exp_ex = expect(phrase=ph, must_not=[ex])
    check(got_ex, exp_ex[:10])
    assert d_drop not in [dd for _, dd, _ in got_ex]
    surv = {dd: s for _, dd, s in full}
    for _, dd, s in got_ex:
        assert math.isclose(s, surv[dd], rel_tol=1e-9, abs_tol=1e-12)

    # allowed= composes with the phrase trim
    check(
        searcher.search(q, k=10, allowed=[d], analyzer=_ident),
        expect(phrase=ph, allowed=[d]),
    )


def test_search_or_groups_match_oracle(searcher, oracle):
    """a|b OR groups on the serving tier must equal an independent
    recomputation of the slot semantics: eligible iff the doc matches
    the must term AND >= 1 group alternative; score sums BM25 over ALL
    matched slot terms (idf of each matched term, corpus-global)."""
    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    # pick must + a group whose OR genuinely widens eligibility: some
    # eligible doc has only ga, another only gb
    terms = sorted(oracle.postings, key=lambda t: -len(oracle.postings[t]))
    m = ga = gb = None
    for t1 in terms[:8]:
        for t2 in terms[:8]:
            for t3 in terms[:8]:
                if len({t1, t2, t3}) != 3:
                    continue
                dm = set(oracle.postings[t1])
                da, db = (set(oracle.postings[t2]),
                          set(oracle.postings[t3]))
                if (dm & da - db) and (dm & db - da) and (dm & da & db):
                    m, ga, gb = t1, t2, t3
                    break
            if m:
                break
        if m:
            break
    assert m is not None

    def expect(group, must_not=()):
        pm_ = oracle.postings[m]
        cand = {
            d for d in pm_
            if any(d in oracle.postings.get(g, {}) for g in group)
        }
        for t in must_not:
            cand -= set(oracle.postings.get(t, {}))
        out = []
        for d in cand:
            dl = oracle.docs[d]["total_tokens"]
            s = 0.0
            for t in {m, *group}:
                p = oracle.postings.get(t, {})
                if d not in p:
                    continue
                tf = p[d][0]
                s += (
                    bm25_idf(oracle.n_survivors, len(p)) * tf
                    * (BM25_K1 + 1.0)
                    / (tf + BM25_K1
                       * (1 - BM25_B + BM25_B * dl / oracle.avgdl))
                )
            out.append((d, s))
        out.sort(key=lambda ds: (-ds[1], ds[0]))
        return [(r + 1, d, s) for r, (d, s) in enumerate(out[:10])]

    got = searcher.search(f"{m} {ga}|{gb}", k=10, analyzer=_ident)
    exp = expect((ga, gb))
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
    assert got  # the fixture found a non-empty slot query

    # the OR widened eligibility vs either conjunctive twin
    conj = searcher.search(f"{m} {ga}", k=10_000, analyzer=_ident)
    assert len(expect((ga, gb))) >= len(conj[:10])

    # NOT composes; survivor scores unchanged
    ex = next(
        t for t in terms
        if t not in (m, ga, gb)
        and set(oracle.postings[t]) & {d for _, d, _ in got}
    )
    got_ex = searcher.search(f"{m} {ga}|{gb} -{ex}", k=10,
                             analyzer=_ident)
    exp_ex = expect((ga, gb), must_not=[ex])
    assert [(r, d) for r, d, _ in got_ex] == [
        (r, d) for r, d, _ in exp_ex
    ]

    # an unknown alternative contributes nothing: equal to the
    # conjunctive query on the known one
    got_u = searcher.search(f"{m} {ga}|zzzqxnope", k=10,
                            analyzer=_ident)
    assert [(d, round(s, 9)) for _, d, s in got_u] == [
        (d, round(s, 9)) for _, d, s in conj[:10]
    ]


def test_search_or_group_not_and_boost(searcher, oracle):
    """Round-5 composition lifts on the serving tier: a negated OR
    group equals its De Morgan expansion (-a|b == -a -b, verified
    against the separate-NOTs query), and a boost inside an OR group
    scales ONLY the matched boosted alternative's BM25 (verified
    against an independent slot recompute)."""
    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    terms = sorted(oracle.postings,
                   key=lambda t: -len(oracle.postings[t]))
    m, ga, gb = None, None, None
    for t1 in terms[:8]:
        for t2 in terms[:8]:
            for t3 in terms[:8]:
                if len({t1, t2, t3}) != 3:
                    continue
                dm = set(oracle.postings[t1])
                da, db = (set(oracle.postings[t2]),
                          set(oracle.postings[t3]))
                if (dm & da - db) and (dm & db - da) and (dm & da & db):
                    m, ga, gb = t1, t2, t3
                    break
            if m:
                break
        if m:
            break
    assert m is not None

    # negated group == separate NOTs (De Morgan), exactly
    ex1, ex2 = (t for t in terms[8:10])
    lhs = searcher.search(f"{m} -{ex1}|{ex2}", k=50, analyzer=_ident)
    rhs = searcher.search(f"{m} -{ex1} -{ex2}", k=50, analyzer=_ident)
    assert lhs == rhs and lhs

    # boosted alternative: independent slot recompute with per-term w
    w = 2.5
    got = searcher.search(f"{m} {ga}^{w}|{gb}", k=10, analyzer=_ident)
    pm_ = oracle.postings[m]
    out = []
    for d in pm_:
        if not (d in oracle.postings[ga] or d in oracle.postings[gb]):
            continue
        dl = oracle.docs[d]["total_tokens"]
        s = 0.0
        for t, tw in ((m, 1.0), (ga, w), (gb, 1.0)):
            p = oracle.postings.get(t, {})
            if d not in p:
                continue
            tf = p[d][0]
            s += (
                (bm25_idf(oracle.n_survivors, len(p)) * tw)
                * tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1
                   * (1 - BM25_B + BM25_B * dl / oracle.avgdl))
            )
        out.append((d, s))
    out.sort(key=lambda ds: (-ds[1], ds[0]))
    exp = [(r + 1, d, s) for r, (d, s) in enumerate(out[:10])]
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
    assert got
    # eligibility is weight-blind: same docids as the unboosted group
    base = searcher.search(f"{m} {ga}|{gb}", k=10 ** 6, analyzer=_ident)
    assert {d for _, d, _ in got} <= {d for _, d, _ in base}


def test_search_query_language_edges(searcher):
    with pytest.raises(ValueError):
        searcher.search("parser lang:en")  # no metadata on this tier
    with pytest.raises(ValueError):
        searcher.search("site:x parser")   # unknown field (parser-level)
    with pytest.raises(ValueError):
        searcher.search("-parser")         # no scoring terms
    assert searcher.search('parser "zzzqx vvkwq"') == []
    assert searcher.search('zzzqx "parser notes"') == []


def test_prefix_topk_matches_oracle(searcher, oracle):
    """Serving-tier prefix search must equal an independent
    recomputation from the oracle postings: expansions = dictionary
    terms under the prefix, top max_expand by (df desc, term asc),
    then DISJUNCTIVE BM25 (sum over matched expansions), ranked
    (score desc, docid asc)."""
    from collections import Counter

    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    # pick a prefix where the rewrite cap BINDS (> max_expand matches)
    firsts = Counter(t[0] for t in oracle.postings)
    p = min(c for c, n in firsts.items() if n > 4)

    def expect(prefix, max_expand=4, k=10):
        match = sorted(
            (t for t in oracle.postings if t.startswith(prefix)),
            key=lambda t: (-len(oracle.postings[t]), t),
        )[:max_expand]
        scores = {}
        for t in match:
            posts = oracle.postings[t]
            idf = bm25_idf(oracle.n_survivors, len(posts))
            for dd, (tf, _) in posts.items():
                dl = oracle.docs[dd]["total_tokens"]
                scores[dd] = scores.get(dd, 0.0) + (
                    idf * tf * (BM25_K1 + 1.0)
                    / (tf + BM25_K1
                       * (1 - BM25_B + BM25_B * dl / oracle.avgdl))
                )
        out = sorted(scores.items(), key=lambda ds: (-ds[1], ds[0]))
        return [(r + 1, dd, s) for r, (dd, s) in enumerate(out[:k])]

    exp = expect(p)
    assert len(exp) == 10  # cap bound AND plenty of matches
    got = searcher.prefix_topk(p, k=10)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

    # uncapped narrow prefix: every matching term scores
    narrow = sorted(t for t in oracle.postings if t.startswith(p))[0][:3]
    exp_n = expect(narrow)
    got_n = searcher.prefix_topk(narrow, k=10)
    assert [(r, d) for r, d, _ in got_n] == [(r, d) for r, d, _ in exp_n]

    # edges: empty / unknown prefix
    assert searcher.prefix_topk("") == []
    assert searcher.prefix_topk("zzzzzznope") == []


def test_suffix_topk_matches_oracle(searcher, oracle):
    """Serving-tier leading-wildcard search must equal an independent
    recomputation: expansions = dictionary terms ENDING in the suffix
    (found via the reversed-termdict bisect), top max_expand by
    (df desc, term asc), then disjunctive BM25."""
    from collections import Counter

    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    # pick a last char where the rewrite cap BINDS (> max_expand terms)
    lasts = Counter(t[-1] for t in oracle.postings)
    s = min(c for c, n in lasts.items() if n > 4)

    def expect(suffix, max_expand=4, k=10):
        match = sorted(
            (t for t in oracle.postings if t.endswith(suffix)),
            key=lambda t: (-len(oracle.postings[t]), t),
        )[:max_expand]
        scores = {}
        for t in match:
            posts = oracle.postings[t]
            idf = bm25_idf(oracle.n_survivors, len(posts))
            for dd, (tf, _) in posts.items():
                dl = oracle.docs[dd]["total_tokens"]
                scores[dd] = scores.get(dd, 0.0) + (
                    idf * tf * (BM25_K1 + 1.0)
                    / (tf + BM25_K1
                       * (1 - BM25_B + BM25_B * dl / oracle.avgdl))
                )
        out = sorted(scores.items(), key=lambda ds: (-ds[1], ds[0]))
        return [(r + 1, dd, sc) for r, (dd, sc) in enumerate(out[:k])]

    exp = expect(s)
    assert len(exp) == 10  # cap bound AND plenty of matches
    got = searcher.suffix_topk(s, k=10)
    assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

    # longer suffix (usually uncapped): every matching term scores
    longer = sorted(t for t in oracle.postings if t.endswith(s))[0][-3:]
    exp_n = expect(longer)
    got_n = searcher.suffix_topk(longer, k=10)
    assert [(r, d) for r, d, _ in got_n] == [(r, d) for r, d, _ in exp_n]

    # edges: empty / unknown suffix
    assert searcher.suffix_topk("") == []
    assert searcher.suffix_topk("zzzzzznope") == []


def test_snippet_windows_match_oracle(searcher, oracle):
    """snippet_windows must reproduce the pinned best-window rule
    (n_terms desc, n_matches desc, start asc over match-anchored
    windows) from an independent recomputation over the oracle's
    stored positions, for the SAME top-k set topk() already serves."""
    pm = _pos_term_map(oracle)
    d = next(d for d in sorted(pm) if {1, 2} <= set(pm[d]))
    terms = [pm[d][1], pm[d][2]]
    w = 12
    got = searcher.snippet_windows(" ".join(terms), k=10, w=w,
                                   analyzer=_ident)
    top = searcher.topk(" ".join(terms), k=10, analyzer=_ident)
    assert [(r, dd, s) for r, dd, s, *_ in got] == top
    assert len(got) > 0
    for _rank, docid, _score, p, nt, nm in got:
        ppt = [sorted(oracle.postings[t][docid][1]) for t in terms]
        allpos = sorted(x for pp in ppt for x in pp)
        best = None
        for a in allpos:
            n_terms = sum(
                1 for pp in ppt if any(a <= q < a + w for q in pp)
            )
            n_matches = sum(1 for q in allpos if a <= q < a + w)
            key = (-n_terms, -n_matches, a)
            if best is None or key < best:
                best = key
        assert (p, nt, nm) == (best[2], -best[0], -best[1]), docid

    # duplicate query tokens dedup for the WINDOW rule (scores may
    # differ: topk legitimately weights repeated query tokens)
    dup = searcher.snippet_windows(
        f"{terms[0]} {terms[0]} {terms[1]}", k=10, w=w, analyzer=_ident
    )
    gotmap = {dd: (p, nt, nm) for _r, dd, _s, p, nt, nm in got}
    overlap = [row for row in dup if row[1] in gotmap]
    assert overlap  # rankings may reorder, the window rule may not
    for _r, dd, _s, p, nt, nm in overlap:
        assert gotmap[dd] == (p, nt, nm), dd
    assert searcher.snippet_windows("zzzqx", analyzer=_ident) == []


def test_search_wildcard_clauses_match_oracle(searcher, oracle):
    """Wildcard clauses in the query language are eligibility-only
    (constant-score rewrite): survivors are docs containing >=1
    dictionary term matching the pattern, and their scores equal the
    plain conjunctive scores exactly — recomputed from the oracle's
    postings."""
    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    must = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    vocab = sorted(oracle.postings)
    w_term = next(t for t in vocab if t != must and len(t) >= 4)
    pre, suf = w_term[:3], w_term[-3:]

    def elig(kind, base):
        docs = set()
        for t in vocab:
            if (t.startswith(base) if kind == "prefix"
                    else t.endswith(base)):
                docs.update(oracle.postings[t])
        return docs

    def expect(allowed_docs):
        posts = oracle.postings[must]
        out = []
        for dd in set(posts) & allowed_docs:
            dl = oracle.docs[dd]["total_tokens"]
            tf = posts[dd][0]
            s = (
                bm25_idf(oracle.n_survivors, len(posts)) * tf
                * (BM25_K1 + 1.0)
                / (tf + BM25_K1
                   * (1 - BM25_B + BM25_B * dl / oracle.avgdl))
            )
            out.append((dd, s))
        out.sort(key=lambda ds: (-ds[1], ds[0]))
        return [(r + 1, dd, s) for r, (dd, s) in enumerate(out[:10])]

    for q, kind, base in ((f"{must} {pre}*", "prefix", pre),
                          (f"{must} *{suf}", "suffix", suf)):
        exp = expect(elig(kind, base))
        assert exp, q  # the probe pattern must actually match
        got = searcher.search(q, k=10, analyzer=_ident)
        assert [(r, dd) for r, dd, _ in got] == [
            (r, dd) for r, dd, _ in exp
        ], q
        for (_, _, gs), (_, _, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)

    # unknown pattern empties; malformed raises at the parser
    assert searcher.search(f"{must} zzzq*", analyzer=_ident) == []
    with pytest.raises(ValueError):
        searcher.search(f"{must} a*b", analyzer=_ident)


def test_explain_matches_topk_scores_and_oracle(searcher, oracle):
    """explain() rows must recompose the served score exactly (sum of
    contributions == topk's score) with tf/df drawn from the same
    postings the oracle stores."""
    pm = _pos_term_map(oracle)
    d = next(d for d in sorted(pm) if {1, 2} <= set(pm[d]))
    terms = sorted({pm[d][1], pm[d][2]})
    q = " ".join(terms)
    top = searcher.topk(q, k=10, analyzer=_ident)
    assert top
    for _rank, docid, score in top:
        rows = searcher.explain(q, docid, analyzer=_ident)
        assert [t for t, *_ in rows] == terms
        assert math.isclose(
            sum(c for *_, c in rows), score, rel_tol=1e-9, abs_tol=1e-12
        ), docid
        for t, tf, df, _idf, _c in rows:
            assert tf == oracle.postings[t][docid][0], (t, docid)
            assert df == len(oracle.postings[t]), t
    # edges: unknown term, non-live docid, doc missing a term
    assert searcher.explain("zzzqx", top[0][1], analyzer=_ident) == []
    assert searcher.explain(q, 10 ** 9, analyzer=_ident) == []
    only_one = next(
        dd for dd in oracle.postings[terms[0]]
        if dd not in oracle.postings[terms[1]]
    )
    assert searcher.explain(q, only_one, analyzer=_ident) == []


def test_topk_after_paginates_exactly(searcher, oracle):
    """Cursor pagination equals slicing the full ranking: page p is
    rows [p*k, (p+1)*k) of one big topk, whether or not the caller
    provides the cursor's rank (the rank only sizes the first probe)."""
    q = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    full = searcher.topk(q, k=10_000, analyzer=_ident, mode="or")
    assert len(full) > 25  # needs 3 pages to be meaningful
    k = 10
    page1 = searcher.topk(q, k=k, analyzer=_ident, mode="or")
    assert page1 == full[:k]
    cursor = (page1[-1][2], page1[-1][1])
    page2 = searcher.topk_after(q, cursor, k=k, cursor_rank=k,
                                mode="or", analyzer=_ident)
    assert page2 == full[k:2 * k]
    # rank unknown: doubling probe finds the same page (1-based ranks)
    page2b = searcher.topk_after(q, cursor, k=k, mode="or",
                                 analyzer=_ident)
    assert [(d, s) for _, d, s in page2b] == [
        (d, s) for _, d, s in full[k:2 * k]
    ]
    cursor3 = (page2[-1][2], page2[-1][1])
    page3 = searcher.topk_after(q, cursor3, k=k, cursor_rank=2 * k,
                                mode="or", analyzer=_ident)
    assert page3 == full[2 * k:3 * k]
    # past the end: empty
    last = (full[-1][2], full[-1][1])
    assert searcher.topk_after(q, last, k=k,
                               cursor_rank=len(full), mode="or",
                               analyzer=_ident) == []


def test_search_boost_matches_oracle(searcher, oracle):
    """`tok^w` boosts on the serving tier: eligibility is UNCHANGED
    (the boost reweights survivors, never admits/drops), scores equal
    an independent recomputation with the boosted term's idf scaled by
    w (the kernel contract: idf·w multiplies both exact scores and
    block-max bounds, so WAND pruning stays lossless), and ^1.0 is the
    identity (×1.0 is exact in IEEE)."""
    from searchengine_spark.params import BM25_B, BM25_K1
    from searchengine_spark.query.wand import bm25_idf

    # two terms co-occurring in >= 3 docs (so the rank order is
    # non-trivial and the boost has room to flip it)
    terms = sorted(oracle.postings)
    t1 = t2 = None
    for a in terms:
        for b in terms:
            if b <= a:
                continue
            common = set(oracle.postings[a]) & set(oracle.postings[b])
            if len(common) >= 3:
                t1, t2 = a, b
                break
        if t1:
            break
    assert t1 is not None
    posts = {t: oracle.postings[t] for t in (t1, t2)}
    cand = set(posts[t1]) & set(posts[t2])

    def expect(w1):
        out = []
        for dd in cand:
            dl = oracle.docs[dd]["total_tokens"]
            s = 0.0
            for t, w in ((t1, w1), (t2, 1.0)):
                tf = posts[t][dd][0]
                s += (
                    (bm25_idf(oracle.n_survivors, len(posts[t])) * w)
                    * tf * (BM25_K1 + 1.0)
                    / (tf + BM25_K1
                       * (1 - BM25_B + BM25_B * dl / oracle.avgdl))
                )
            out.append((dd, s))
        out.sort(key=lambda ds: (-ds[1], ds[0]))
        return [(r + 1, dd, s) for r, (dd, s) in enumerate(out)]

    got = searcher.search(f"{t1}^2.5 {t2}", k=10, analyzer=_ident)
    exp = expect(2.5)[:10]
    assert [(r, dd) for r, dd, _ in got] == [(r, dd) for r, dd, _ in exp]
    for (_, _, gs), (_, _, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-9, abs_tol=1e-12)
    # eligibility unchanged: same docid set as the unboosted query
    base = searcher.search(f"{t1} {t2}", k=10 ** 6, analyzer=_ident)
    assert {dd for _, dd, _ in got} <= {dd for _, dd, _ in base}
    assert {dd for _, dd, _ in base} == cand
    # ^1.0 is the identity
    assert searcher.search(
        f"{t1}^1.0 {t2}", k=10, analyzer=_ident
    ) == base[:10]
    # boost composes with NOT (eligibility-only: survivor scores keep
    # their boosted values exactly)
    ex = next(
        (t for t in terms
         if t not in (t1, t2) and set(oracle.postings[t]) & cand
         and not cand <= set(oracle.postings[t])),
        None,
    )
    if ex is not None:
        got_ex = searcher.search(
            f"{t1}^2.5 {t2} -{ex}", k=10 ** 6, analyzer=_ident
        )
        keep = cand - set(oracle.postings[ex])
        assert {dd for _, dd, _ in got_ex} == keep
        full = {dd: s for _, dd, s in expect(2.5)}
        for _, dd, s in got_ex:
            assert math.isclose(s, full[dd], rel_tol=1e-9,
                                abs_tol=1e-12)


def test_count_matches_python_recompute(spark, index_dir, searcher,
                                        corpus_rows):
    """Total-hits count equals a termset recomputation over the live
    index docs (conjunctive and disjunctive), and the sharded sum is
    identical; unknown conjunctive terms count zero."""
    import hashlib

    from searchengine_spark.query.prune import analyze_query
    from searchengine_spark.text.analyze import analyze

    by_sha = {
        hashlib.sha256(r["content"].encode("utf-8")).hexdigest():
            r["content"]
        for r in corpus_rows
    }
    docs = spark.read.parquet(f"{index_dir}/docs").select(
        "docid", "sha256"
    ).collect()
    termsets = {
        int(r["docid"]): set(analyze(by_sha[r["sha256"]], stem=True))
        for r in docs
    }
    queries = ["spark table join", "hash dup", "the spark",
               "zzzqx spark", "parser"]
    for q in queries:
        qterms = set(analyze_query(q, stem=True))
        for mode in ("and", "or"):
            if mode == "and":
                want = sum(
                    1 for ts in termsets.values() if qterms <= ts
                )
            else:
                want = sum(
                    1 for ts in termsets.values() if qterms & ts
                )
            got = searcher.count(q, mode=mode)
            assert got == want, (q, mode, got, want)


# -- seek-table point reads (_SeekTable) ---------------------------------

def _answers(ls, phrases):
    """Every miss-path surface over QUERIES plus ``phrases``: AND/OR
    topk, blended_topk and phrase_topk."""
    out = {}
    for qid, q in QUERIES:
        out[("and", qid)] = ls.topk(q, k=10)
        out[("or", qid)] = ls.topk(q, k=10, mode="or")
        out[("blended", qid)] = ls.blended_topk(q, k=10)
    for i, ph in enumerate(phrases):
        out[("phrase", i)] = ls.phrase_topk(ph, k=50, analyzer=_ident)
    return out


def _phrases(oracle):
    pm = _pos_term_map(oracle)
    out = []
    for d in sorted(pm)[:20]:
        if {1, 2, 3} <= set(pm[d]):
            out += [[pm[d][1], pm[d][2]], [pm[d][1], pm[d][2], pm[d][3]]]
    return out


def _assert_seek_reads_match_scan(ls, index_dir):
    """Block rows read through the seek table equal, term by term, a
    full independent scan of the postings files."""
    import glob
    import os

    import pyarrow.parquet as pq

    cols = ["docid_first", "docid_last", "max_weight", "payload"]
    want = {}
    for f in glob.glob(os.path.join(index_dir, "postings", "**",
                                    "*.parquet"), recursive=True):
        t = pq.ParquetFile(f).read(columns=["term", *cols])
        for row in zip(*(t.column(c).to_pylist() for c in ["term", *cols])):
            want.setdefault(row[0], []).append(row[1:])
    assert want
    for term, rows in want.items():
        got = [
            row
            for _factor, t in ls._term_tables(term, cols)
            for row in zip(*(t.column(c).to_pylist() for c in cols))
        ]
        assert sorted(got) == sorted(rows), term
    assert all(t.read("zzz-absent-term", b, cols) == []
               for t, _f in ls._segments for b in range(-1, 64))


def _rewrite_postings(src, dst, **write_kwargs):
    """Copy an index dir, rewriting every postings file with pyarrow
    (same rows, same order) under ``write_kwargs``."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    shutil.copytree(src, dst)
    for f in glob.glob(os.path.join(dst, "postings", "**", "*.parquet"),
                       recursive=True):
        t = pq.ParquetFile(f).read()
        pq.write_table(t, f, **write_kwargs)


@pytest.fixture(scope="module")
def striped_index(spark, tables, tmp_path_factory):
    """The session corpus written with a tiny salt stripe: every term
    over 8 postings is salted into several stripes, which hash to
    several files of the term's bucket."""
    from searchengine_spark.index import shards

    d = str(tmp_path_factory.mktemp("striped") / "idx")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(shards, "STRIPE_POSTINGS", 8)
        shards.write_index(spark, tables, d)
    return d


def test_seek_reads_span_several_files(striped_index, searcher, oracle):
    """Terms whose blocks span several files of their bucket: every
    surface answers exactly as over the standard layout."""
    ls = LocalSearcher(striped_index, stem=True)
    (seek, _factor), = ls._segments
    per_term = {}
    for h, f in zip(seek.hashes.tolist(), seek.fids.tolist()):
        per_term.setdefault(h, set()).add(f)
    assert max(len(fs) for fs in per_term.values()) > 1
    _assert_seek_reads_match_scan(ls, striped_index)
    phrases = _phrases(oracle)
    assert phrases
    assert _answers(ls, phrases) == _answers(searcher, phrases)


@pytest.mark.parametrize("stats", [True, False])
def test_seek_reads_over_row_groups(index_dir, searcher, oracle, tmp_path,
                                    stats):
    """Postings files cut into several row groups, with and without
    term statistics in the footer (a row group without them may hold
    any term): answers equal the single-row-group index's."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "idx")
    _rewrite_postings(index_dir, d, row_group_size=3,
                      write_statistics=stats)
    ls = LocalSearcher(d, stem=True)
    (seek, _factor), = ls._segments
    assert max(len(r) for r in seek.rg_rows) > 3  # >= 3 row groups
    md = pq.ParquetFile(seek.files[0]).metadata
    col = md.schema.names.index("term")
    assert md.row_group(0).column(col).is_stats_set is stats
    _assert_seek_reads_match_scan(ls, d)
    phrases = _phrases(oracle)
    assert _answers(ls, phrases) == _answers(searcher, phrases)


def test_refresh_rereads_plain_index_rewritten_in_place(
        index_dir, striped_index, tmp_path):
    """A plain index dir can be rewritten in place: refresh() builds a
    new seek table (the old one names files that no longer exist)."""
    import shutil

    d = str(tmp_path / "idx")
    shutil.copytree(index_dir, d)
    ls = LocalSearcher(d, stem=True)
    old = ls._seek_tables[d]
    shutil.rmtree(d)
    shutil.copytree(striped_index, d)
    ls.refresh()
    assert ls._seek_tables[d] is not old
    assert ls._seek_tables[d].hashes.size > old.hashes.size
    want = LocalSearcher(striped_index, stem=True)
    assert _answers(ls, []) == _answers(want, [])


def test_no_open_files_between_calls(index_dir):
    """No file handle outlives a call: the process's open fd count is
    flat across 20 refreshes and 500 term misses.  The seek state
    stays small: at most 16 bytes per (term, file) run."""
    import os

    ls = LocalSearcher(index_dir, stem=True, cache_terms=2)
    terms = sorted(ls._df)[:500]
    assert len(terms) == 500
    ls._blocks_for(terms[0])
    ls._postings_for(terms[0])
    fds = len(os.listdir("/proc/self/fd"))
    for _ in range(20):
        ls.refresh()
    for t in terms:
        assert ls._blocks_for(t)
    for t in terms[:50]:
        ls._postings_for(t)
    assert len(os.listdir("/proc/self/fd")) == fds
    (seek, _factor), = ls._segments
    nbytes = sum(a.nbytes for a in (seek.hashes, seek.fids, seek.starts,
                                    seek.counts))
    assert nbytes <= 16 * seek.hashes.size
