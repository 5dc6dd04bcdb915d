"""Answers the benchmark checks the program against, computed apart from it.

Only ``porter_stem`` is taken from the program (its stemmer is the
specification of stemming); tokenizing, counting, BM25, phrase matching and PageRank
are this module's own brute-force versions of the documented semantics:

  * token := maximal run of [a-z0-9] in the lowercased text, each stemmed;
  * a document's length is its number of DISTINCT terms (the engine's
    documented ``total_tokens``), avgdl = sum of lengths / live docs;
  * idf = ln((N - df + 0.5) / (df + 0.5) + 1) with N = live docs;
    weight = tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl)), k1=1.2, b=0.75;
  * PageRank: universe = every assigned docid, start 1/n,
    new = (1 - d) + d * sum(rank / outdeg) (un-normalized), stop when the
    largest change is below tol or after max_iter iterations.
"""

from __future__ import annotations

import math
import re

import numpy as np

from searchengine_spark.text.porter import porter_stem

TOKEN_RE = re.compile(r"[a-z0-9]+")
K1, B = 1.2, 0.75
SCORE_RTOL = 1e-9
PR_ATOL = 1e-6


class Analyzer:
    def __init__(self):
        self._memo = {}

    def __call__(self, text: str) -> list:
        memo, out = self._memo, []
        for w in TOKEN_RE.findall(text.lower()):
            s = memo.get(w)
            if s is None:
                s = memo[w] = porter_stem(w)
            out.append(s)
        return out


class RefIndex:
    """Brute-force index over the documents added so far."""

    def __init__(self, analyzer: Analyzer):
        self.analyze = analyzer
        self._post = {}      # term -> {docid: [positions]}
        self.dl = {}         # docid -> distinct-term count
        self._arrays = None

    def add(self, docid: int, content: str) -> None:
        docid = int(docid)
        terms = self.analyze(content)
        for p, t in enumerate(terms, 1):
            self._post.setdefault(t, {}).setdefault(docid, []).append(p)
        self.dl[docid] = len(set(terms))
        self._arrays = None

    @property
    def n_docs(self) -> int:
        return len(self.dl)

    @property
    def n_postings(self) -> int:
        return sum(self.dl.values())

    def df(self) -> dict:
        return {t: len(d) for t, d in self._post.items()}

    def tf(self) -> dict:
        """{term: {docid: tf}}."""
        return {t: {d: len(p) for d, p in docs.items()}
                for t, docs in self._post.items()}

    def _term_arrays(self, term):
        if self._arrays is None:
            self._arrays = {}
        arr = self._arrays.get(term)
        if arr is None:
            d = self._post[term]
            ids = np.fromiter(d.keys(), np.int64, len(d))
            tfs = np.fromiter((len(v) for v in d.values()), np.float64, len(d))
            dls = np.fromiter((self.dl[i] for i in d), np.float64, len(d))
            arr = self._arrays[term] = (ids, tfs, dls)
        return arr

    def bm25(self, text: str, mode: str = "and") -> list:
        """Every matching doc as [(docid, score)], score desc, docid asc."""
        terms = sorted(set(self.analyze(text)))
        known = [t for t in terms if t in self._post]
        if not known or (mode == "and" and len(known) != len(terms)):
            return []
        n = self.n_docs
        avgdl = sum(self.dl.values()) / n
        ids_l, sc_l = [], []
        for t in known:
            ids, tfs, dls = self._term_arrays(t)
            df = ids.size
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            w = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
            ids_l.append(ids)
            sc_l.append(idf * w)
        ids = np.concatenate(ids_l)
        sc = np.concatenate(sc_l)
        uniq, inv, cnt = np.unique(ids, return_inverse=True, return_counts=True)
        score = np.bincount(inv, weights=sc)
        if mode == "and":
            keep = cnt == len(known)
            uniq, score = uniq[keep], score[keep]
        order = np.lexsort((uniq, -score))
        return [(int(uniq[i]), float(score[i])) for i in order]

    def phrase(self, text: str, k: int) -> list:
        """[(docid, occurrences)] of the consecutive term sequence,
        occurrences desc, docid asc, first k."""
        terms = self.analyze(text)
        if not terms or any(t not in self._post for t in terms):
            return []
        docs = set(self._post[terms[0]])
        for t in terms[1:]:
            docs &= set(self._post[t])
        out = []
        for d in docs:
            sets = [set(self._post[t][d]) for t in terms]
            n = sum(1 for p in self._post[terms[0]][d]
                    if all(p + i in sets[i] for i in range(1, len(terms))))
            if n:
                out.append((d, n))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:k]


def pagerank(n_total: int, edges, offset: int = 0, damping: float = 0.85,
             max_iter: int = 25, tol: float = 1e-6) -> np.ndarray:
    """Ranks of docids offset+1 .. offset+n_total (index 0 = first)."""
    pr = np.full(n_total, 1.0 / n_total)
    if edges:
        e = np.array(sorted(edges), dtype=np.int64) - offset - 1
        src, dst = e[:, 0], e[:, 1]
        outdeg = np.bincount(src, minlength=n_total).astype(np.float64)
    for _ in range(max_iter):
        contrib = (np.bincount(dst, weights=pr[src] / outdeg[src],
                               minlength=n_total) if edges
                   else np.zeros(n_total))
        new = (1.0 - damping) + damping * contrib
        delta = float(np.max(np.abs(new - pr)))
        pr = new
        if delta < tol:
            break
    return pr


# --------------------------------------------------------------------------
# comparisons: each returns None when the answer is right, else a reason


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(abs(a), abs(b), 1e-300)


def compare_ranked(got, expected, k: int):
    """``got``: the program's [(docid, score)] in rank order.
    ``expected``: every matching doc [(docid, score)] in rank order.
    Ranks must be exact and scores equal to SCORE_RTOL; docs whose
    expected scores tie (to SCORE_RTOL) may come in any order, and those
    tied at the k-th score compare as sets."""
    want = min(k, len(expected))
    if len(got) != want:
        return f"{len(got)} results, expected {want}"
    if len({d for d, _ in got}) != len(got):
        return "a docid is returned twice"
    group, g = [], 0
    for i, (_, s) in enumerate(expected):
        if i and not _close(s, expected[i - 1][1]):
            g += 1
        group.append(g)
    members = {}
    for (d, _), gi in zip(expected, group):
        members.setdefault(gi, set()).add(d)
    exp_score = dict(expected)
    for i, (d, s) in enumerate(got):
        if d not in members[group[i]]:
            return f"rank {i + 1}: docid {d}, expected one of " \
                   f"{sorted(members[group[i]])[:5]}"
        if not _close(s, exp_score[d]):
            return f"rank {i + 1}: docid {d} score {s!r} != {exp_score[d]!r}"
    return None


def compare_exact(got, expected):
    if list(got) != list(expected):
        return f"got {list(got)[:3]}..., expected {list(expected)[:3]}..."
    return None
