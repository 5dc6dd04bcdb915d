"""Tests of the benchmark's own checks (no Spark needed).

    python3 -m pytest benchmark/test_checks.py -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import corpus as gen  # noqa: E402
import reference as ref  # noqa: E402


@pytest.fixture(scope="module")
def small():
    rng = np.random.default_rng(7)
    vocab = gen.make_vocab(rng)
    batch = gen.generate_batch(rng, vocab, 160, "t")
    idx = ref.RefIndex(ref.Analyzer())
    for i in np.flatnonzero(batch.survivor):
        idx.add(batch.docids[i], batch.rows[i]["content"])
    return rng, vocab, batch, idx


def _answer(idx, vocab, k=10):
    """A query with more than k matches and distinct scores at the top."""
    for w in vocab.words[:50]:
        full = idx.bm25(w, "or")
        if len(full) > k + 2 and full[0][1] != full[1][1]:
            return w, full
    raise AssertionError("no suitable query")


def test_correct_answer_passes(small):
    _, vocab, _, idx = small
    _, full = _answer(idx, vocab)
    assert ref.compare_ranked(full[:10], full, 10) is None


def test_rejects_dropped_doc(small):
    _, vocab, _, idx = small
    _, full = _answer(idx, vocab)
    assert ref.compare_ranked(full[:4] + full[5:10], full, 10) is not None
    assert ref.compare_ranked(full[:4] + full[5:11], full, 10) is not None


def test_rejects_swapped_ranks(small):
    _, vocab, _, idx = small
    _, full = _answer(idx, vocab)
    got = full[:10]
    got[0], got[1] = got[1], got[0]
    assert ref.compare_ranked(got, full, 10) is not None


def test_rejects_score_off_by_1e6_relative(small):
    _, vocab, _, idx = small
    _, full = _answer(idx, vocab)
    got = full[:10]
    d, s = got[3]
    got[3] = (d, s * (1 + 1e-6))
    assert ref.compare_ranked(got, full, 10) is not None


def test_rejects_surviving_duplicate(small):
    _, vocab, batch, idx = small
    _, full = _answer(idx, vocab)
    dropped = [int(d) for d, s, r in zip(batch.docids, batch.survivor,
                                         batch.rows)
               if not s and r["content"].strip()]
    assert dropped, "the corpus plants duplicates"
    got = full[:10]
    got[9] = (dropped[0], got[9][1])
    assert ref.compare_ranked(got, full, 10) is not None


def test_ties_compare_as_sets():
    full = [(5, 3.0), (2, 2.0), (9, 2.0), (4, 1.0)]
    assert ref.compare_ranked([(5, 3.0), (9, 2.0), (2, 2.0)], full, 3) is None
    assert ref.compare_ranked([(5, 3.0), (9, 2.0)], full, 2) is None
    assert ref.compare_ranked([(5, 3.0), (4, 2.0)], full, 2) is not None


def test_term_counts_equal_oracle_postings(small):
    """The reference's per-doc term counts (own tokenizer, porter_stem per
    word) against the program's single-node oracle on the same rows."""
    from searchengine_spark.oracle import build_oracle

    _, _, batch, idx = small
    oi = build_oracle(batch.rows)
    assert set(oi.docs) == set(int(d) for d in batch.docids[batch.survivor])
    assert {t: {d: tf for d, (tf, _) in docs.items()}
            for t, docs in oi.postings.items()} == idx.tf()
    assert {d: v["total_tokens"] for d, v in oi.docs.items()} == idx.dl


def test_pagerank_equals_oracle(small):
    from searchengine_spark.oracle import build_oracle

    _, _, batch, _ = small
    oi = build_oracle(batch.rows)
    assert oi.edges == batch.edges
    pr = ref.pagerank(batch.n_total, batch.edges)
    assert np.allclose(pr, [oi.pr[d] for d in range(1, batch.n_total + 1)],
                       rtol=0, atol=1e-12)


def test_generator_is_seeded():
    a = gen.generate_batch(np.random.default_rng(3), gen.make_vocab(
        np.random.default_rng(3)), 120, "x")
    b = gen.generate_batch(np.random.default_rng(3), gen.make_vocab(
        np.random.default_rng(3)), 120, "x")
    assert a.rows == b.rows and a.edges == b.edges
