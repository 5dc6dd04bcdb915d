"""Seeded source-file corpus and query generator with its own ground truth.

The program under test only receives the ``(repo, path, commit, lang,
content)`` rows and the query strings made here.  What the program must
compute from them -- which rows survive dedup, which import edges resolve
-- is recorded from how the rows were planted, never read back from the
program and never taken from ``searchengine_spark.corpus``.

Corpus make-up (see README.md for sizes per workload):
  * words are synthetic syllable strings; token frequencies follow a Zipf
    law (exponent 1) over a vocabulary of VOCAB_SIZE words, so the head
    terms occur in nearly every file and span many 128-posting blocks;
  * file lengths are log-normal (a long tail, clipped to MAX_TOKENS),
    rescaled so every seed draws the same total token count;
  * empty files, exact duplicates and near-duplicates (same tokens, other
    bytes) are planted at known positions;
  * ``import repo:path`` lines form an acyclic link graph in three levels
    (code imports are acyclic), with hub files that import many files and
    authority files that many files import.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 40_000
ZIPF_S = 1.0
MIN_TOKENS = 16
MAX_TOKENS = 3_000
LOG_LEN_MU = np.log(70.0)
LOG_LEN_SIGMA = 0.9
WORDS_PER_LINE = 12
# each file has a few topic words (Zipf-drawn below TOPIC_MIN_RANK) that
# make up TOPIC_SHARE of its tokens.  Without them every long file has
# the same head-term counts, and TF-weighted simhash would call most long
# files near-duplicates of each other
TOPIC_WORDS = 8
TOPIC_MIN_RANK = 500
TOPIC_SHARE = 0.5

# shares of each planted kind among generated rows
EMPTY_SHARE = 0.01
EXACT_SHARE = 0.02
NEAR_SHARE = 0.02
HUB_SHARE = 0.005
AUTHORITY_SHARE = 0.01
DANGLING_SHARE = 0.02
LEVEL_WEIGHTS = (0.5, 0.35, 0.15)
TOP = len(LEVEL_WEIGHTS) - 1

_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo ga ge go gu ka ke ki ko la "
    "le li lo lu ma me mi mo mu na ne ni no nu pa pe pi po ra re ri ro ru "
    "sa se si so ta te ti to tu va ve vi vo za ze zi zo"
).split()
_LANGS = ("python", "java", "c", "js", "go")

# a word no generated row contains ('q' is in no syllable): AND queries
# with it must come back empty
UNKNOWN_WORD = "qzqx"


@dataclass
class Vocab:
    words: list        # rank order: words[0] is the most frequent
    cum: np.ndarray    # cumulative Zipf probabilities, by rank

    def draw(self, rng, n, min_rank=0):
        """n word ids from the Zipf law, restricted to ranks >= min_rank."""
        lo = self.cum[min_rank - 1] if min_rank else 0.0
        u = lo + (1.0 - lo) * rng.random(n)
        return np.minimum(np.searchsorted(self.cum, u, side="right"),
                          len(self.words) - 1)


def make_vocab(rng) -> Vocab:
    seen, words = set(), []
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    return Vocab(words, np.cumsum(p / p.sum()))


@dataclass
class Batch:
    """One generated table plus what the program must derive from it."""

    rows: list            # row dicts in generation order
    words: list           # per row: word ids in document order
    docids: np.ndarray    # per row: expected docid
    survivor: np.ndarray  # per row: expected to survive empty/dedup filters
    edges: set            # expected (src, dst) docids among survivors
    n_total: int


def _render(vocab, ids, imports) -> str:
    lines = [f"import {r}:{p}" for r, p in imports]
    words = vocab.words
    for i in range(0, len(ids), WORDS_PER_LINE):
        lines.append(" ".join(words[j] for j in ids[i:i + WORDS_PER_LINE]))
    return "\n".join(lines)


def generate_batch(rng, vocab: Vocab, n_docs: int, tag: str,
                   docid_offset: int = 0, repeats=()) -> Batch:
    """``n_docs`` rows keyed under ``tag``; docids continue after
    ``docid_offset``.  ``repeats`` is a list of (content, words) of
    rows that survived in earlier commits: they are added verbatim under
    new keys and must be dropped as cross-commit duplicates."""
    n_new = n_docs - len(repeats)
    kind = np.full(n_new, "normal", dtype=object)
    slots = rng.permutation(n_new)
    n_empty = max(1, int(n_new * EMPTY_SHARE))
    n_exact = max(1, int(n_new * EXACT_SHARE))
    n_near = max(1, int(n_new * NEAR_SHARE))
    kind[slots[:n_empty]] = "empty"
    kind[slots[n_empty:n_empty + n_exact]] = "exact"
    kind[slots[n_empty + n_exact:n_empty + n_exact + n_near]] = "near"
    normal = np.flatnonzero(kind == "normal")

    keys = []
    for i in range(n_docs):
        repo = f"team{i % 12:02d}/svc{(i * 7) % 41:02d}"
        path = f"{tag}/pkg{i % 97:02d}/mod_{i:06d}.py"
        commit = hashlib.sha1(f"{tag}:{i}".encode()).hexdigest()[:16]
        keys.append((repo, path, commit))

    # import graph over the normal rows: level-l rows import rows of
    # lower levels only, so the graph is acyclic with depth <= TOP
    level = rng.choice(TOP + 1, size=n_new, p=LEVEL_WEIGHTS)
    by_level = [normal[level[normal] == lv] for lv in range(TOP + 1)]
    n_auth = max(2, int(n_new * AUTHORITY_SHARE))
    authorities = rng.choice(by_level[0], size=n_auth, replace=False)
    hubs = set(rng.choice(by_level[TOP], size=max(1, int(n_new * HUB_SHARE)),
                          replace=False).tolist())
    targets = {int(i): [] for i in normal}
    for i in normal:
        lv = int(level[i])
        if lv == 0:
            continue
        lower = np.concatenate(by_level[:lv])
        n_imp = int(rng.integers(15, 31)) if i in hubs else int(rng.integers(0, 4))
        for _ in range(n_imp):
            pool = authorities if rng.random() < 0.5 else lower
            j = int(pool[rng.integers(0, len(pool))])
            if j not in targets[int(i)]:
                targets[int(i)].append(j)
    # one chain through all levels fixes the graph depth at TOP on every
    # seed, so the graph loops run the same number of iterations
    chain = [int(rng.choice(by_level[lv])) for lv in range(TOP, -1, -1)]
    for a, b in zip(chain, chain[1:]):
        if b not in targets[a]:
            targets[a].append(b)
    originals = np.setdiff1d(normal, np.array(chain))

    lengths = rng.lognormal(LOG_LEN_MU, LOG_LEN_SIGMA, len(normal))
    lengths *= np.exp(LOG_LEN_MU + LOG_LEN_SIGMA ** 2 / 2) / lengths.mean()
    lengths = np.clip(lengths, MIN_TOKENS, MAX_TOKENS).astype(np.int64)

    rows, words, imports_of = [None] * n_docs, [None] * n_docs, [()] * n_docs
    group = np.full(n_docs, -1)
    for i, n_tok in zip(normal, lengths):
        n_tok = int(n_tok)
        topic = vocab.draw(rng, TOPIC_WORDS, TOPIC_MIN_RANK)
        ids = np.where(rng.random(n_tok) < TOPIC_SHARE,
                       topic[rng.integers(0, TOPIC_WORDS, n_tok)],
                       vocab.draw(rng, n_tok))
        imps = [keys[j][:2] for j in targets[int(i)]]
        if rng.random() < DANGLING_SHARE:
            imps.append(("team99/gone", f"{tag}/missing/mod_{i}.py"))
        words[i] = ids
        imports_of[i] = [keys[j] for j in targets[int(i)]]
        rows[i] = _render(vocab, ids, imps)
        group[i] = i
    for i in np.flatnonzero(kind != "normal"):
        if kind[i] == "empty":
            rows[i] = "" if i % 2 else " \n\t \n"
            words[i] = np.empty(0, np.int64)
            continue
        j = int(originals[rng.integers(0, len(originals))])
        words[i], imports_of[i], group[i] = words[j], imports_of[j], j
        # a near-duplicate differs in bytes (so not in sha256) but has
        # exactly the original's tokens, so its simhash is identical
        rows[i] = rows[j] if kind[i] == "exact" else rows[j] + "\n;;"
    for r, (content, ws) in enumerate(repeats):
        i = n_new + r
        rows[i], words[i] = content, ws

    out_rows = []
    for i, (repo, path, commit) in enumerate(keys):
        out_rows.append({"repo": repo, "path": path, "commit": commit,
                         "lang": _LANGS[i % len(_LANGS)],
                         "content": rows[i]})

    order = sorted(range(n_docs), key=lambda i: keys[i])
    docids = np.empty(n_docs, np.int64)
    docids[np.array(order)] = np.arange(1, n_docs + 1) + docid_offset
    survivor = np.zeros(n_docs, dtype=bool)
    best = {}
    for i in range(n_new):
        g = int(group[i])
        if g >= 0 and (g not in best or docids[i] < docids[best[g]]):
            best[g] = i
    survivor[list(best.values())] = True

    by_key = {keys[i][:2]: int(docids[i]) for i in range(n_docs) if survivor[i]}
    edges = set()
    for i in np.flatnonzero(survivor):
        for key in imports_of[i]:
            d = by_key.get(key[:2])
            if d is not None and d != docids[i]:
                edges.add((int(docids[i]), d))
    return Batch(out_rows, words, docids, survivor, edges, n_docs)


# --------------------------------------------------------------------------
# queries


def _doc_words(rng, vocab, batch, n):
    """n distinct words of one random surviving row (head and tail mixed,
    as the row's own Zipf draw mixes them)."""
    alive = np.flatnonzero(batch.survivor)
    ids = np.unique(batch.words[int(alive[rng.integers(0, len(alive))])])
    pick = rng.choice(ids, size=min(n, len(ids)), replace=False)
    return [vocab.words[int(j)] for j in pick]


def make_queries(rng, vocab: Vocab, batch: Batch, kind: str, n: int) -> list:
    """``n`` query strings of one kind:

    ``and``      1-4 words of one file (matches at least that file);
    ``and_none`` two tail words plus, every other query, a word that no
                 file contains (legitimately empty AND results);
    ``or``       2-4 words, half Zipf-drawn head words, half tail words;
    ``phrase``   2-3 consecutive words of one file;
    ``blended``  1-3 words of one file.
    """
    out = []
    tail_lo = VOCAB_SIZE // 8
    for q in range(n):
        if kind == "and":
            ws = _doc_words(rng, vocab, batch, int(rng.integers(1, 5)))
        elif kind == "blended":
            ws = _doc_words(rng, vocab, batch, int(rng.integers(1, 4)))
        elif kind == "and_none":
            ws = [vocab.words[int(j)]
                  for j in rng.integers(tail_lo, VOCAB_SIZE, 2)]
            if q % 2:
                ws.append(UNKNOWN_WORD)
        elif kind == "or":
            m = int(rng.integers(2, 5))
            head = vocab.draw(rng, m // 2)
            tail = rng.integers(tail_lo, VOCAB_SIZE, m - m // 2)
            ws = [vocab.words[int(j)] for j in np.concatenate([head, tail])]
        elif kind == "phrase":
            alive = np.flatnonzero(batch.survivor)
            ids = batch.words[int(alive[rng.integers(0, len(alive))])]
            m = int(rng.integers(2, 4))
            s = int(rng.integers(0, len(ids) - m + 1))
            ws = [vocab.words[int(j)] for j in ids[s:s + m]]
        else:
            raise ValueError(f"unknown query kind {kind!r}")
        out.append(" ".join(ws))
    return out
