"""Millisecond single-query serving from the on-disk index — no Spark.

The reference serves queries from a single RAM-resident process: seek
dicts + docinfo loaded up front, postings fetched per query through an
LRU cache (lib/reader.py:33-101, 229-259), ~12 ms per query warm.  The
Spark engine beats it on BATCH throughput (one DAG amortizes scheduling
across hundreds of queries) but a single query pays seconds of DAG
fixed cost.  This module is the missing serving tier: the SAME on-disk
index (monolithic or segmented), read directly with pyarrow and scored
by the SAME numpy WAND kernels (query/wand.bmw_range / bmw_or_range) —
rank- and score-identical to wand_topk (asserted in
tests/test_serve_local.py), at single-digit-millisecond warm latency.

Division of labor at scale: executors answer bulk/batch workloads via
wand_topk; latency-sensitive front-ends run LocalSearcher replicas
against the same index files (parquet on shared storage) — the index
is the contract, not the process.  Loaded state is the same as the
reference's: term dictionary + doc lengths in RAM (both columnar
reads) plus a per-segment seek table (_SeekTable, the reference's
in-RAM seek dict): which files of the term's bucket (pure-Python
Spark-compatible xxhash64) hold each term, at which rows, and each
file's row-group boundaries from the parquet footer.  A term miss in
the per-term LRU opens only those files and reads only the row groups
holding the term's rows — a point read, not a dataset scan; no file
handle stays open between queries.

Beyond WAND/blended top-k, the stored-positions surfaces are served
here too: ``phrase_topk`` (exact phrase, the semantics of
ops/textops.phrase_match_indexed) and ``proximity_topk`` (BM25 +
1/(1+min_distance), the semantics of ops/textops.proximity_topk) —
so every index-backed query shape the Spark tier answers is also a
millisecond local call.

Segmented dirs reproduce index/segments.load_segments' serving state
exactly: integer-token-sum avgdl, tombstone liveness (dropped from the
doc-length table — the kernels' _dl_member mask does the rest),
df_corrections subtracted from the termdict, and per-segment block-max
rescaling by max(1, avgdl_serve/avgdl_build).

Scale envelope (stated, not hidden): a replica holds the term
dictionary and per-doc (length, qualities) arrays in RAM — ~40 B/doc
and ~50 B/term, plus ~12 B per (term, file) pair of seek table,
i.e. tens of GB per 10⁹ docs — the same residency
model as the reference's seek-dict + docinfo load, which this tier
re-expresses.  Posting blocks do NOT load up front (pyarrow fetch +
LRU), so the block store can be arbitrarily large; the positions
cache behind phrase/proximity is additionally BYTE-budgeted
(``positions_cache_bytes``, default 64 MB) because one hot term's
position list is O(collection frequency) — a count-capped cache
alone could silently blow the envelope.  Beyond one
replica's RAM, ``ShardedSearcher`` (below) shards replicas by docid
range — contiguous segment subsets — with global stats, losslessly;
or route to the Spark batch tier, which has no single-process limit.
"""

from __future__ import annotations

import json
import os
from bisect import bisect_left, bisect_right
from collections import OrderedDict

import numpy as np

from ..index.xxhash64 import term_bucket


def _del1(s: str) -> set:
    """The string itself + every single-deletion variant (SymSpell)."""
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


def _levenshtein(a: str, b: str) -> int:
    """Classic edit distance (matches Spark/DuckDB ``levenshtein``)."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
from ..params import N_TERM_BUCKETS
from ..text.querylang import parse_query
from .prune import analyze_query
from .wand import bm25_idf, bmw_or_range, bmw_range


def _file_stamp(path: str):
    """(mtime_ns, size, inode) of ``path``, or None when it is absent."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


class _SeekTable:
    """One segment's in-RAM seek state over its ``postings/`` files —
    the columnar twin of the reference's seek dictionary
    (lib/reader.py:229-259), built once per segment load from each
    file's footer and ``term`` column.

    ``files`` are the segment's parquet files, ``buckets[f]`` the
    ``bucket=B`` hive directory file ``f`` sits in (-1 when its path
    names none) and ``rg_rows[f]`` its row groups' first-row offsets
    plus its row count, from the footer.  The term index lists every
    run of equal ``term`` values in a file as ``(hash(term), file,
    first row, row count)``, sorted by hash.  A term whose postings fit
    one salt stripe is one run in one file of its bucket; a salted hot
    term is one run in each of several.  A read opens only the files a
    term's runs name, reads only the row groups that hold those rows and
    slices the run out: no row filter, no footer statistics needed.
    Two terms sharing a hash cost an extra read, never a wrong answer:
    a run is kept only when its first row holds the queried term.

    No file handle or parquet metadata object outlives a call.
    Segment directories are immutable, so the table stays valid while
    ``stamp`` (the segment's mergeinfo.json stat) does."""

    __slots__ = ("stamp", "files", "buckets", "rg_rows",
                 "hashes", "fids", "starts", "counts")

    def __init__(self, seg_dir: str, stamp):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.stamp = stamp
        root = os.path.join(seg_dir, "postings")
        found = []
        # the file set pyarrow.dataset discovers: hidden ('.' — Spark's
        # .crc sidecars) and underscore ('_SUCCESS') entries skipped
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = sorted(
                d for d in dirnames if not d.startswith((".", "_"))
            )
            bucket = -1
            for part in os.path.relpath(dirpath, root).split(os.sep):
                if part.startswith("bucket="):
                    bucket = int(part[len("bucket="):])
            found.extend(
                (bucket, os.path.join(dirpath, fn))
                for fn in sorted(filenames)
                if not fn.startswith((".", "_"))
            )
        self.files = [p for _b, p in found]
        self.buckets = [b for b, _p in found]
        self.rg_rows = []
        cols = []
        for path in self.files:
            with pq.ParquetFile(path) as pf:
                md = pf.metadata
                rows = [0]
                for r in range(md.num_row_groups):
                    rows.append(rows[-1] + md.row_group(r).num_rows)
                cols.extend(pf.read(columns=["term"]).column("term").chunks)
            self.rg_rows.append(tuple(rows))
        # runs of equal terms, found over all files in one vectorized
        # pass: a run also ends where its file does
        terms = pa.concat_arrays(cols) if cols else pa.array([], pa.string())
        n_rows = np.array([r[-1] for r in self.rg_rows], dtype=np.int64)
        file_at = np.repeat(np.arange(n_rows.size), n_rows)
        cut = np.ones(len(terms), dtype=bool)
        if len(terms) > 1:
            cut[1:] = (
                pc.not_equal(terms[1:], terms[:-1])
                .to_numpy(zero_copy_only=False)
                | (file_at[1:] != file_at[:-1])
            )
        first = np.flatnonzero(cut)
        h = np.fromiter((hash(t) for t in terms.take(first).to_pylist()),
                        dtype=np.int64, count=first.size)
        order = np.argsort(h, kind="stable")
        self.hashes = h[order]
        fids = file_at[first]
        file_start = np.cumsum(n_rows) - n_rows

        def packed(a):
            # the narrowest unsigned dtype holding the column (a file id
            # or a run's rows rarely need more than a byte or two)
            a = a[order]
            return a.astype(np.min_scalar_type(int(a.max(initial=0))))

        self.fids = packed(fids)
        self.starts = packed(first - file_start[fids])
        self.counts = packed(np.diff(first, append=file_at.size))

    def read(self, term: str, bucket: int, columns) -> list:
        """The term's block rows as pyarrow tables (``columns`` plus
        ``term``), one per run that holds it; [] when the segment
        lacks the term."""
        import pyarrow.parquet as pq

        h = hash(term)
        lo = int(self.hashes.searchsorted(h, "left"))
        hi = int(self.hashes.searchsorted(h, "right"))
        out = []
        for i in range(lo, hi):
            fid = int(self.fids[i])
            if self.buckets[fid] not in (bucket, -1):
                continue  # a hash shared with another bucket's term
            start, count = int(self.starts[i]), int(self.counts[i])
            rows = self.rg_rows[fid]
            first = bisect_right(rows, start) - 1
            last = bisect_left(rows, start + count)
            with pq.ParquetFile(self.files[fid]) as pf:
                t = pf.read_row_groups(
                    range(first, last), columns=["term", *columns],
                    use_threads=False,
                )
            t = t.slice(start - rows[first], count)
            if t.column("term")[0].as_py() == term:
                out.append(t)
        return out


class LocalSearcher:
    """RAM-resident query server over an index directory.

    :param index_dir: a write_index output dir, or a segmented dir
        (containing ``segments.json``).
    :param stem: must match the analyzer the index was built with.
    :param cache_terms: per-term postings LRU capacity (the reference's
        LRU(256), lib/reader.py:229).
    :param segments: serve only these segment subdir names (a docid-range
        shard of a segmented index — generations carry contiguous dense
        docid ranges, so a contiguous segment subset IS a docid range).
        Corpus stats and the term dictionary stay GLOBAL (read from every
        segment) so per-doc scores are identical to an unsharded replica;
        only the per-doc state (lengths, qualities) and posting blocks —
        the O(corpus) part of the RAM envelope — restrict to the subset.
        ``ShardedSearcher`` composes these into a lossless router.

    BM25F: an importance-payload index (write_index
    store_importance=True, flagged in mergeinfo) is served with the
    field multipliers applied automatically — topk (and every surface
    routed through it) is value-identical to
    wand_topk(importance=True), and blended_topk mirrors the
    importance=True blend chain.  Field-blind WAND over this flavor is
    never offered (stored maxima are importance-scaled; multipliers
    below 1 would make plain bounds lossy).  Positions surfaces
    (phrase/proximity/span/slop/snippets) stay field-blind, matching
    their batch twins.
    """

    def __init__(self, index_dir: str, stem: bool = True,
                 cache_terms: int = 256,
                 segments: list[str] | None = None,
                 positions_cache_bytes: int = 64 << 20):
        import pyarrow.parquet as pq

        self.index_dir = index_dir
        self.stem = stem
        self._cache_terms = cache_terms
        self._segments_subset = segments
        self._blocks_lru: OrderedDict[str, list] = OrderedDict()
        # positions LRU is budgeted by BYTES, not entry count: one
        # entry holds a term's full position list across the served
        # segments — O(collection frequency), unbounded per entry —
        # so a count cap alone would let a few hot terms pin hundreds
        # of MB beyond the stated RAM envelope
        self._pos_lru: OrderedDict[str, tuple] = OrderedDict()
        self._pos_bytes = 0
        self._pos_budget = int(positions_cache_bytes)
        # lazy derived views of the termdict (suggest's symmetric-delete
        # variant map, prefix_topk's sorted term list) — reset HERE so
        # refresh(), which re-runs __init__ on the same object, cannot
        # serve them stale after a maintenance commit
        self._variant_map = None
        self._sorted_terms = None
        self._rev_terms = None

        seg_meta_path = os.path.join(index_dir, "segments.json")
        if os.path.exists(seg_meta_path):
            with open(seg_meta_path) as f:
                meta = json.load(f)
            seg_dirs = [os.path.join(index_dir, s)
                        for s in meta["segments"]]
            n_tomb = int(meta.get("n_tombstones", 0))
            tomb_tokens = int(meta.get("tomb_tokens", 0))
        else:
            if segments is not None:
                raise ValueError(
                    "segments= sharding needs a segmented index dir"
                )
            seg_dirs = [index_dir]
            meta, n_tomb, tomb_tokens = {}, 0, 0
        if segments is not None:
            unknown = set(segments) - set(meta.get("segments", []))
            if unknown:
                raise ValueError(f"unknown segments: {sorted(unknown)}")
            serve_dirs = [os.path.join(index_dir, s) for s in segments]
        else:
            serve_dirs = seg_dirs
        # tombstone/correction state is read ONLY from meta-listed
        # compaction generations — orphan dirs from a crashed
        # compaction are invisible (same rule as index/segments.py)
        tomb_gens = meta.get("tomb_gens", [])

        # ---- stats (exactly index/segments.load_segments' math)
        seg_stats = []
        for d in seg_dirs:
            with open(os.path.join(d, "mergeinfo.json")) as f:
                st = json.load(f)
            if "token_sum" not in st:
                st["token_sum"] = round(st["avgdl"] * st["n_survivors"])
            seg_stats.append(st)
        n_surv = sum(st["n_survivors"] for st in seg_stats) - n_tomb
        token_sum = sum(st["token_sum"] for st in seg_stats) - tomb_tokens
        self.n_survivors = n_surv
        self.avgdl = token_sum / n_surv if n_surv else 1.0
        self._stats_meta = {
            "n_segments": len(seg_dirs),
            "n_segments_served": len(serve_dirs),
            "n_total": sum(int(st["n_total"]) for st in seg_stats),
            "n_stored": sum(int(st["n_survivors"]) for st in seg_stats),
            "n_tombstoned": n_tomb,
            "token_sum": token_sum,
        }
        # bucket count from the index's OWN mergeinfo, not the live
        # params module — serving an index built under a different
        # bucket config would otherwise silently miss every term
        self._n_buckets = int(
            seg_stats[0].get("n_buckets") or N_TERM_BUCKETS
        )
        # importance-payload flavor (write_index store_importance=True):
        # detected from mergeinfo, never guessed from bytes.  When set,
        # WAND scoring (topk and everything routed through it) and the
        # blended chain apply the BM25F field multipliers — the stored
        # block maxima are importance-SCALED, so field-blind WAND over
        # this flavor would prune lossily (multipliers < 1 exist) and
        # is therefore never offered.  Positions surfaces
        # (phrase/proximity/span/slop/snippets) stay field-blind: they
        # score exhaustively (no bounds), matching their batch twins.
        flags = {bool(st.get("importance_payload")) for st in seg_stats}
        if len(flags) > 1:
            raise ValueError(
                "mixed importance-payload flavors across segments"
            )
        self._imp_payload = flags.pop()
        self._imp_table = None
        if self._imp_payload:
            from ..params import IMPORTANCE

            self._imp_table = np.asarray(IMPORTANCE, dtype=np.float64)

        # ---- per-segment seek tables + avgdl-drift max_weight factor
        # (served subset only; the factor still uses the GLOBAL avgdl).
        # refresh() re-runs __init__ on this object: generation dirs are
        # immutable, so a segment still served keeps its table while its
        # mergeinfo.json is unchanged; a plain index dir can be
        # rewritten in place and is always re-read
        reuse = getattr(self, "_seek_tables", {}) if meta else {}
        stats_by_dir = dict(zip(seg_dirs, seg_stats))
        self._serve_dirs = list(serve_dirs)
        self._seek_tables = {}
        self._segments = []
        for d in serve_dirs:
            build_avgdl = stats_by_dir[d]["avgdl"] or 1.0
            factor = max(1.0, self.avgdl / build_avgdl)
            stamp = _file_stamp(os.path.join(d, "mergeinfo.json"))
            seek = reuse.get(d)
            if seek is None or seek.stamp != stamp:
                seek = _SeekTable(d, stamp)
            self._seek_tables[d] = seek
            self._segments.append((seek, factor))

        # ---- doc lengths + quality columns, tombstones removed
        qual_cols = ("pr_quality", "hub_quality", "auth_quality")
        ids_parts, len_parts = [], []
        qual_parts = {c: [] for c in qual_cols}
        for d in serve_dirs:
            t = pq.read_table(
                os.path.join(d, "docs"),
                columns=["docid", "total_tokens", *qual_cols],
            )
            ids_parts.append(t.column("docid").to_numpy())
            len_parts.append(
                t.column("total_tokens").to_numpy().astype(np.float64)
            )
            for c in qual_cols:
                qual_parts[c].append(
                    t.column(c).to_numpy().astype(np.float64)
                )
        dl_ids = (np.concatenate(ids_parts) if ids_parts
                  else np.empty(0, np.int64))
        dl_lens = (np.concatenate(len_parts) if len_parts
                   else np.empty(0, np.float64))
        quals = {
            c: (np.concatenate(qual_parts[c]) if qual_parts[c]
                else np.empty(0, np.float64))
            for c in qual_cols
        }
        if n_tomb and tomb_gens:
            tombs = np.sort(
                np.concatenate([
                    pq.read_table(
                        os.path.join(index_dir, "tombstones", g),
                        columns=["docid"],
                    ).column("docid").to_numpy()
                    for g in tomb_gens
                ])
            )
            pos = np.minimum(
                np.searchsorted(tombs, dl_ids), max(tombs.size - 1, 0)
            )
            keep = tombs[pos] != dl_ids if tombs.size else np.ones(
                dl_ids.size, dtype=bool
            )
            dl_ids, dl_lens = dl_ids[keep], dl_lens[keep]
            quals = {c: v[keep] for c, v in quals.items()}
        order = np.argsort(dl_ids, kind="stable")
        self._dl = (dl_ids[order], dl_lens[order])
        self._quals = {c: v[order] for c, v in quals.items()}

        # ---- term dictionary: df summed across segments, corrections
        # subtracted (stale-idf rule, index/segments.py)
        self._df: dict[str, int] = {}
        for d in seg_dirs:
            t = pq.read_table(
                os.path.join(d, "termdict"), columns=["term", "df"]
            )
            for term, df in zip(
                t.column("term").to_pylist(), t.column("df").to_pylist()
            ):
                self._df[term] = self._df.get(term, 0) + int(df)
        self._stats_meta["n_terms_stored"] = len(self._df)
        if n_tomb and tomb_gens:
            for g in tomb_gens:
                cdir = os.path.join(index_dir, "df_corrections", g)
                if not os.path.isdir(cdir):
                    continue
                t = pq.read_table(cdir, columns=["term", "df_sub"])
                for term, sub in zip(
                    t.column("term").to_pylist(),
                    t.column("df_sub").to_pylist(),
                ):
                    left = self._df.get(term, 0) - int(sub)
                    if left > 0:
                        self._df[term] = left
                    else:
                        self._df.pop(term, None)
        self._loaded_stamp = self._commit_stamp()

    def stats(self) -> dict:
        """Serving-tier mirror of index/segments.index_stats' TOTAL
        row, from the already-loaded metadata (no I/O): n_segments /
        n_segments_served / n_total / n_stored / n_tombstoned /
        n_live / token_sum / avgdl (HALF_UP round-6, the F.round
        parity contract) / n_terms_stored (stored vocabulary — equals
        index_stats TOTAL n_terms) / n_terms (SERVING vocabulary,
        df corrections applied — can be smaller when a term's whole
        df was tombstoned away)."""
        from decimal import ROUND_HALF_UP, Decimal

        m = dict(self._stats_meta)
        m["n_live"] = self.n_survivors
        m["avgdl"] = float(
            Decimal(repr(self.avgdl)).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
        )
        m["n_terms"] = len(self._df)
        return m

    def get_doc(self, docid: int) -> str | None:
        """Stored-fields point read: the document content for
        ``docid``, or None when the id is unknown, tombstoned, outside
        the served segment subset, or the index was built without
        ``store_content=True`` (index/stored.py sidecar).  Liveness
        rides the same mask as every query surface (the _dl membership
        rule), so tombstoned bytes still physically present before a
        merge are never served."""
        from ..index.stored import STORED_DIR, read_stored_doc

        ids = self._dl[0]
        i = int(np.searchsorted(ids, docid))
        if i >= ids.size or int(ids[i]) != int(docid):
            return None
        return read_stored_doc(
            [os.path.join(d, STORED_DIR) for d in self._serve_dirs],
            docid,
        )

    # -- postings ---------------------------------------------------------

    def refresh(self) -> None:
        """Re-read index state — call after append/compact/merge jobs
        commit (segments.json swap is atomic, so a refresh always sees
        a consistent generation list).  Termdict + doc lengths reload;
        the decoded-block LRU resets.  A shard replica keeps its
        segment subset — new generations are the router's job to
        assign (ShardedSearcher.refresh re-partitions)."""
        self.__init__(self.index_dir, stem=self.stem,
                      cache_terms=self._cache_terms,
                      segments=self._segments_subset,
                      positions_cache_bytes=self._pos_budget)

    def _commit_stamp(self):
        """(mtime_ns, size, inode) of the commit point: segments.json for a
        generations dir, mergeinfo.json for a single index."""
        for name in ("segments.json", "mergeinfo.json"):
            stamp = _file_stamp(os.path.join(self.index_dir, name))
            if stamp is not None:
                return stamp
        return None

    def maybe_refresh(self) -> bool:
        """Refresh only if a maintenance/append job committed since
        load (cheap stat poll — a serving loop calls this between
        queries).  Returns True when a reload happened."""
        stamp = self._commit_stamp()
        if stamp == getattr(self, "_loaded_stamp", None):
            return False
        self.refresh()
        return True

    def _term_tables(self, term: str, columns) -> list:
        """[(factor, table)] — the term's block rows (``columns`` only)
        in each served segment, read through the segments' seek tables
        (_SeekTable): only the files of the term's bucket that hold it,
        only the row groups holding its rows."""
        bucket = term_bucket(term, self._n_buckets)
        return [(factor, t)
                for seek, factor in self._segments
                for t in seek.read(term, bucket, columns)]

    def _blocks_for(self, term: str) -> list:
        """Block tuples (d1, d2, max_weight, (ids, tfs)) for one term,
        ascending by docid span, read through the seek tables
        (_term_tables — no dataset scan, no bucket listing per miss).
        Payloads are varbyte-DECODED on first fetch and the decoded
        arrays live in the LRU (the reference caches decoded postings,
        lib/reader.py:229-259) — repeat queries on a hot term skip the
        read and the decode entirely (the WAND kernels accept either
        form)."""
        from ..index.varbyte import decode_block_np

        hit = self._blocks_lru.get(term)
        if hit is not None:
            self._blocks_lru.move_to_end(term)
            return hit
        out = []
        for factor, t in self._term_tables(
            term, ("docid_first", "docid_last", "max_weight", "payload")
        ):
            for d1, d2, mw, payload in zip(
                t.column("docid_first").to_pylist(),
                t.column("docid_last").to_pylist(),
                t.column("max_weight").to_pylist(),
                t.column("payload").to_pylist(),
            ):
                if self._imp_payload:
                    ids, tfs, _, _, imps = decode_block_np(
                        payload, want_positions=False,
                        with_importance=True,
                    )
                    out.append((d1, d2, mw * factor, (ids, tfs, imps)))
                else:
                    ids, tfs, _, _ = decode_block_np(
                        payload, want_positions=False
                    )
                    out.append((d1, d2, mw * factor, (ids, tfs)))
        out.sort(key=lambda b: b[0])
        self._blocks_lru[term] = out
        if len(self._blocks_lru) > self._cache_terms:
            self._blocks_lru.popitem(last=False)
        return out

    def _postings_for(self, term: str):
        """(docids, tfs, pos_offsets, flat_positions) for one term across
        the served segments, docid-ascending and tombstone-masked —
        positions of docid j are ``flat[off[j]:off[j+1]]``.

        The positions-consuming twin of _blocks_for — the same seek-
        table reads (_term_tables) behind its own LRU: the WAND hot path
        decodes ``want_positions=False`` and must not pay the position
        section, while phrase/proximity need exactly that section (the
        payload layout stores it last so either decode is one pass,
        index/varbyte.py)."""
        from ..index.varbyte import decode_block_np

        hit = self._pos_lru.get(term)
        if hit is not None:
            self._pos_lru.move_to_end(term)
            return hit
        parts = []
        for _factor, t in self._term_tables(
            term, ("docid_first", "payload")
        ):
            for d1, payload in zip(
                t.column("docid_first").to_pylist(),
                t.column("payload").to_pylist(),
            ):
                # importance payloads carry a trailing section the
                # positions decode must skip past; the field bits are
                # dropped here (positions surfaces are field-blind)
                dec = decode_block_np(
                    payload, want_positions=True,
                    with_importance=self._imp_payload,
                )
                ids, tfs, npos, flat = dec[0], dec[1], dec[2], dec[3]
                parts.append((d1, ids, tfs, npos, flat))
        # segment docid ranges are disjoint and blocks are docid-sorted
        # within a segment, so sorting by first docid restores the
        # global ascending order
        parts.sort(key=lambda p: p[0])
        if parts:
            ids = np.concatenate([p[1] for p in parts])
            tfs = np.concatenate([p[2] for p in parts])
            npos = np.concatenate([p[3] for p in parts])
            flat = np.concatenate([p[4] for p in parts])
        else:
            ids = tfs = npos = flat = np.empty(0, np.int64)
        # liveness: compacted dirs keep tombstoned docids physically in
        # blocks until merge (same rule as the WAND kernels' _dl_member)
        dl_ids = self._dl[0]
        if ids.size and dl_ids.size:
            at = np.minimum(np.searchsorted(dl_ids, ids), dl_ids.size - 1)
            live = dl_ids[at] == ids
            if not live.all():
                flat = flat[np.repeat(live, npos)]
                ids, tfs, npos = ids[live], tfs[live], npos[live]
        elif ids.size:
            ids = tfs = npos = flat = np.empty(0, np.int64)
        off = np.concatenate([np.zeros(1, np.int64), np.cumsum(npos)])
        result = (ids, tfs, off, flat)
        nb = sum(a.nbytes for a in result)
        self._pos_lru[term] = result
        self._pos_bytes += nb
        while self._pos_lru and (
            self._pos_bytes > self._pos_budget
            or len(self._pos_lru) > self._cache_terms
        ):
            if len(self._pos_lru) == 1:
                break  # always keep the entry being served
            _t, old = self._pos_lru.popitem(last=False)
            self._pos_bytes -= sum(a.nbytes for a in old)
        return result

    # -- queries ----------------------------------------------------------

    def topk(self, text: str, k: int = 10, mode: str = "and",
             analyzer=None, allowed=None, exclude_terms=None,
             weights=None):
        """[(rank, docid, score)] — identical semantics (and scores) to
        wand_topk over the same index: conjunctive by default, classic
        disjunctive WAND with ``mode="or"``.  ``analyzer`` overrides the
        stemmed default (same contract as wand_topk's).  ``allowed``
        (iterable of docids) restricts ELIGIBILITY while BM25 stats stay
        corpus-global — the filtered-search semantics of wand_topk's
        ``allowed_docs``, implemented by shrinking the kernel's dl
        membership mask (pruning stays lossless: block maxima bound a
        superset).  ``exclude_terms`` is boolean NOT (the
        ops/textops.bm25_not_topk rule): docs containing ANY excluded
        term drop from eligibility — their docids come off the excluded
        terms' own postings (the index IS the exclusion list) and
        shrink the same mask, composing with ``allowed``.

        ``weights`` (analyzed term -> float) is the query-language
        ``^`` boost: it scales the term's planned idf, and because the
        WAND kernels multiply idf into BOTH the exact scores and the
        block-max upper bounds (idf·weights / idf·blk_max), the bound
        scales with the score and pruning stays lossless — no kernel
        change, no bound-safety caveat."""
        if analyzer is None:
            freq = analyze_query(text, stem=self.stem)
        else:
            freq = analyzer(text)
        terms = sorted(freq)
        known = [t for t in terms if t in self._df]
        if mode == "and":
            if not terms or len(known) != len(terms):
                return []
        elif not known:
            return []
        dl = self._dl
        if exclude_terms:
            if analyzer is None:
                exfreq = analyze_query(
                    " ".join(exclude_terms), stem=self.stem
                )
            else:
                exfreq = analyzer(" ".join(exclude_terms))
            parts = [
                blk[3][0]
                for t in sorted(exfreq) if t in self._df
                for blk in self._blocks_for(t)
            ]
            if parts:
                ex = np.unique(np.concatenate(parts))
                keep = ~np.isin(dl[0], ex, assume_unique=True)
                if not keep.any():
                    return []
                dl = (dl[0][keep], dl[1][keep])
        if allowed is not None:
            ids = np.unique(np.fromiter(
                (int(d) for d in allowed), dtype=np.int64
            ))
            common, ia, _ = np.intersect1d(
                dl[0], ids, assume_unique=True, return_indices=True
            )
            if common.size == 0:
                return []
            dl = (common, dl[1][ia])
        plan = sorted(known, key=lambda t: (self._df[t], t))
        tbs = [
            {
                "idf": bm25_idf(self.n_survivors, self._df[t])
                * (weights.get(t, 1.0) if weights else 1.0),
                "blocks": self._blocks_for(t),
            }
            for t in plan
        ]
        kernel = bmw_range if mode == "and" else bmw_or_range
        top, _ = kernel(tbs, dl, self.avgdl, k,
                        imp_table=self._imp_table)
        return [(r + 1, d, s) for r, (s, d) in enumerate(top)]

    def blended_topk(self, text: str, k: int = 10):
        """The reference's END-USER surface (search.py → queryproc):
        prune/abort/stopword readmission → conjunctive BM25 → query
        cosine → candidate L2 norms → quality blend → top-k — rank-
        and score-identical to scoring.score_queries_ondisk over the
        same index (asserted in tests), all numpy, per-query
        milliseconds.  Returns [(rank, docid, score)]."""
        return _blend_rank(*self._blended_candidates(text), k=k)

    def relaxed_topk(self, text: str, k: int = 10, analyzer=None,
                     allowed=None):
        """Query relaxation — ops/search.relaxed_topk's tier rule on
        the serving tier: full conjunctive matches rank first
        (mode="and" pass), partial matches fill the remaining slots
        (mode="or" pass minus the full docids).  Scores are the plain
        disjunctive sums in both passes, so a doc's score is identical
        whichever tier surfaces it; within each tier the order is the
        kernels' (score desc, docid asc).  Returns
        [(rank, docid, score)] renumbered across tiers."""
        full = self.topk(text, k=k, mode="and", analyzer=analyzer,
                         allowed=allowed)
        out = [(i + 1, d, s) for i, (_r, d, s) in enumerate(full)]
        if len(out) < k:
            seen = {d for _r, d, _s in out}
            fb = self.topk(text, k=k + len(seen), mode="or",
                           analyzer=analyzer, allowed=allowed)
            for _r, d, s in fb:
                if d in seen:
                    continue
                out.append((len(out) + 1, d, s))
                if len(out) == k:
                    break
        return out

    def phrase_topk(self, phrase, k: int = 20, analyzer=None):
        """Exact-phrase search from the index's stored positions —
        same semantics as ops/textops.phrase_match_indexed: a doc
        matches where the phrase's terms appear at consecutive
        positions; returns [(doc_id, n_occurrences)] ordered
        occurrences desc, doc_id asc.

        ``phrase`` is a string or token sequence; it runs through the
        index's analyzer (stemming maps tokens 1:1, so consecutive
        positions are preserved).  ``analyzer`` overrides it (text →
        ordered term list), same contract as topk's.  Matching is
        slot-alignment on (docid, pos − i) keys — the same equi-join
        the Spark op expresses, here as sorted-array intersections."""
        from ..text.analyze import analyze

        text = phrase if isinstance(phrase, str) else " ".join(phrase)
        terms = (analyzer(text) if analyzer is not None
                 else analyze(text, stem=self.stem))
        docs, counts = self._phrase_docs(terms)
        top = np.lexsort((docs, -counts))[:k]
        return [(int(docs[i]), int(counts[i])) for i in top]

    def _phrase_docs(self, terms):
        """ALL docs containing ``terms`` at consecutive positions, as
        (docids, occurrence_counts) sorted-by-docid arrays (empty pair
        when nothing matches) — the shared kernel of phrase_topk (which
        ranks by count) and search() (which needs the full eligibility
        set for a "quoted phrase" clause)."""
        empty = (np.empty(0, np.int64), np.empty(0, np.int64))
        if not terms:
            return empty
        slots = []
        max_base = 0
        for i, t in enumerate(terms):
            ids, _tfs, off, flat = self._postings_for(t)
            if flat.size == 0:
                return empty
            doc_rep = np.repeat(ids, np.diff(off))
            base = flat - i
            good = base >= 1  # a phrase starts at position >= 1
            doc_rep, base = doc_rep[good], base[good]
            if doc_rep.size == 0:
                return empty
            slots.append((doc_rep, base))
            max_base = max(max_base, int(base.max()))
        # composite (docid, base) key: base ∈ [1, M) keeps keys
        # collision-free; docid*M stays far inside int64 for any real
        # docid (M ≈ max doc length)
        m = max_base + 1
        cur = slots[0][0] * m + slots[0][1]
        for doc_rep, base in slots[1:]:
            cur = np.intersect1d(cur, doc_rep * m + base,
                                 assume_unique=True)
            if cur.size == 0:
                return empty
        return np.unique(cur // m, return_counts=True)

    def search(self, q: str, k: int = 10, allowed=None, analyzer=None):
        """Mini-query-language entry point — the serving-tier twin of
        ops/search.query_topk, fed by the SAME parser
        (text/querylang.parse_query) so the syntax cannot fork.
        Composition rule is identical: conjunctive BM25 over the
        scoring terms (must + phrase tokens), then ELIGIBILITY-ONLY
        trims — each "quoted phrase" keeps only docs with its terms at
        consecutive positions (_phrase_docs), ``-term`` exclusions ride
        topk's exclusion mask, and ``allowed`` intersects in.  Stats
        stay corpus-global, so every survivor's score equals its plain
        conjunctive score exactly (the filtered-search invariant).

        Metadata field filters (``lang:``) are NOT resolvable here —
        the index stores no metadata columns — so they raise; callers
        resolve them to an ``allowed`` docid set upstream (the batch
        tier resolves them against the documents table instead).
        ``analyzer`` (text → ordered term list, the phrase_topk
        contract) overrides the index analyzer for every clause.
        Returns [(rank, docid, score)]."""
        from collections import Counter

        from ..text.analyze import analyze

        parsed = parse_query(q)
        if parsed["filters"]:
            raise ValueError(
                "index stores no metadata columns; resolve field "
                f"filters to allowed= docids: {parsed['filters']}"
            )
        if not parsed["scoring"]:
            raise ValueError("query has no scoring terms")
        ana = (analyzer if analyzer is not None
               else lambda text: analyze(text, stem=self.stem))
        wts = None
        if parsed["boosts"]:
            # map ^w boosts through the analyzer (the kernel sees
            # analyzed terms); a collision — two boosted surface forms
            # or a boosted and an unboosted scoring term analyzing to
            # one kernel term — would make the winning weight ambiguous
            wts = {}
            for t, w in parsed["boosts"].items():
                for at in ana(t):
                    if at in wts and wts[at] != w:
                        raise ValueError(
                            f"boosts collide after analysis: {at!r}"
                        )
                    wts[at] = w
            plain_analyzed = {
                at
                for t in parsed["scoring"]
                if t not in parsed["boosts"]
                for at in ana(t)
            }
            if set(wts) & plain_analyzed:
                raise ValueError(
                    "a boosted term collides with an unboosted "
                    "scoring term after analysis"
                )
        allow = None
        if allowed is not None:
            allow = np.unique(np.fromiter(
                (int(d) for d in allowed), dtype=np.int64
            ))
        for phrase in parsed["phrases"]:
            docs, _ = self._phrase_docs(ana(" ".join(phrase)))
            allow = docs if allow is None else np.intersect1d(
                allow, docs, assume_unique=True
            )
            if allow.size == 0:
                return []
        for kind, base in parsed["wildcards"]:
            # constant-score rewrite (the querylang contract):
            # eligibility-only, uncapped, matched on STORED surface
            # forms — docids come straight off the expansions' postings
            parts = [
                blk[3][0]
                for t in self._terms_matching(kind, base)
                for blk in self._blocks_for(t)
            ]
            if not parts:
                return []
            docs = np.unique(np.concatenate(parts))
            allow = docs if allow is None else np.intersect1d(
                allow, docs, assume_unique=True
            )
            if allow.size == 0:
                return []
        if parsed["or_groups"]:
            # a|b OR groups (the synonym-slot semantics): eligibility =
            # >= 1 term of EVERY slot, score = sum of BM25 over ALL
            # matched slot terms.  Per-slot eligibility intersects into
            # ``allow`` (posting docids, liveness-masked by topk like
            # the wildcard path), then one OR-mode pass scores every
            # matched term — identical to the Spark _slot_scored plan.
            slot_terms = []
            for slot in parsed["slots"]:
                analyzed = sorted(
                    {t for s in slot for t in ana(s)}
                )
                sparts = [
                    blk[3][0]
                    for t in analyzed
                    for blk in self._blocks_for(t)
                ]
                if not sparts:
                    return []
                docs = np.unique(np.concatenate(sparts))
                allow = docs if allow is None else np.intersect1d(
                    allow, docs, assume_unique=True
                )
                if allow.size == 0:
                    return []
                slot_terms.extend(analyzed)
            # boolean NOT is applied to ``allow`` directly (the slot
            # intersections guarantee it is set): the constant-freq
            # analyzer below must NOT see exclude_terms — it would
            # return the scoring terms and exclude everything
            if parsed["must_not"]:
                exparts = [
                    blk[3][0]
                    for t in sorted(
                        {x for s in parsed["must_not"] for x in ana(s)}
                    )
                    if t in self._df
                    for blk in self._blocks_for(t)
                ]
                if exparts:
                    ex = np.unique(np.concatenate(exparts))
                    allow = allow[~np.isin(allow, ex,
                                           assume_unique=True)]
                    if allow.size == 0:
                        return []
            freq = Counter(sorted(set(slot_terms)))
            return self.topk(
                " ".join(sorted(freq)), k=k, mode="or", allowed=allow,
                analyzer=lambda _text: freq, weights=wts,
            )
        return self.topk(
            " ".join(parsed["scoring"]), k=k, allowed=allow,
            exclude_terms=parsed["must_not"] or None,
            analyzer=lambda text: Counter(ana(text)), weights=wts,
        )

    def proximity_topk(self, terms, k: int = 10, analyzer=None):
        """Proximity-boosted conjunctive ranking from stored positions —
        same semantics as ops/textops.proximity_topk: BM25 over docs
        containing BOTH terms plus a 1/(1+min_distance) boost; returns
        [(doc_id, min_dist, score)] ordered score desc, doc_id asc.
        ``analyzer`` (text → term list) overrides the index analyzer.
        The min distance per doc is the same O(tf_a+tf_b) searchsorted
        merge scan as the Spark kernel (min_pair_distance_udf)."""
        from ..params import BM25_B, BM25_K1
        from ..text.analyze import analyze

        analyzed = [
            analyzer(str(t)) if analyzer is not None
            else analyze(str(t), stem=self.stem)
            for t in terms
        ]
        if len(analyzed) != 2 or any(len(a) != 1 for a in analyzed):
            raise ValueError(
                "proximity_topk takes two terms, one token each"
            )
        ta, tb = analyzed[0][0], analyzed[1][0]
        if ta == tb:
            raise ValueError(
                "proximity_topk ranks the closest pair of two DISTINCT terms"
            )
        if ta not in self._df or tb not in self._df:
            return []
        a_ids, a_tfs, a_off, a_flat = self._postings_for(ta)
        b_ids, b_tfs, b_off, b_flat = self._postings_for(tb)
        common, ia, ib = np.intersect1d(
            a_ids, b_ids, assume_unique=True, return_indices=True
        )
        if common.size == 0:
            return []
        big = np.iinfo(np.int64).max
        mind = np.empty(common.size, dtype=np.int64)
        for j in range(common.size):
            x = a_flat[a_off[ia[j]]:a_off[ia[j] + 1]]
            y = b_flat[b_off[ib[j]]:b_off[ib[j] + 1]]
            at = np.searchsorted(x, y)
            best = big
            left = at > 0
            if left.any():
                best = min(best, int(np.min(y[left] - x[at[left] - 1])))
            right = at < x.size
            if right.any():
                best = min(best, int(np.min(x[at[right]] - y[right])))
            mind[j] = best
        dl_ids, dl_lens = self._dl
        dl = dl_lens[np.searchsorted(dl_ids, common)]  # common ⊂ docs
        k1, b = BM25_K1, BM25_B
        denom = k1 * (1.0 - b + b * dl / self.avgdl)

        def w8(tfs):
            tff = tfs.astype(np.float64)
            return tff * (k1 + 1.0) / (tff + denom)

        score = (
            bm25_idf(self.n_survivors, self._df[ta]) * w8(a_tfs[ia])
            + bm25_idf(self.n_survivors, self._df[tb]) * w8(b_tfs[ib])
            + 1.0 / (1.0 + mind)
        )
        top = np.lexsort((common, -score))[:k]
        return [
            (int(common[i]), int(mind[i]), float(score[i])) for i in top
        ]

    def span_near_topk(self, terms, k: int = 10, analyzer=None):
        """Unordered k-ary span-near ranking — serving-tier mirror of
        ops/textops.span_near_topk / query/positions.
        span_near_topk_shards: BM25 over docs containing ALL terms plus
        a len(terms)/min_win boost, min_win = minimal covering window.
        [(doc_id, min_win, score)] score desc, doc_id asc.  The window
        is the same anchor-searchsorted scan as the Spark kernel
        (min_cover_window_udf), and the BM25 sum folds in term-list
        order (the sequential-fold float contract); postings arrive
        tombstone-masked via the positions LRU (_postings_for)."""
        from ..params import BM25_B, BM25_K1
        from ..text.analyze import analyze

        analyzed = [
            analyzer(str(t)) if analyzer is not None
            else analyze(str(t), stem=self.stem)
            for t in terms
        ]
        if len(analyzed) < 2 or any(len(a) != 1 for a in analyzed):
            raise ValueError(
                "span_near_topk takes >= 2 terms, one token each"
            )
        toks = [a[0] for a in analyzed]
        if len(set(toks)) != len(toks):
            raise ValueError("span_near_topk ranks DISTINCT terms")
        if any(t not in self._df for t in toks):
            return []
        posts = [self._postings_for(t) for t in toks]
        common = posts[0][0]
        for ids, _tfs, _off, _flat in posts[1:]:
            common = np.intersect1d(common, ids, assume_unique=True)
        if common.size == 0:
            return []
        idxs = [
            np.searchsorted(ids, common)
            for ids, _tfs, _off, _flat in posts
        ]
        minwin = np.empty(common.size, dtype=np.int64)
        for j in range(common.size):
            arrs = [
                flat[off[ix[j]]:off[ix[j] + 1]]
                for (_ids, _tfs, off, flat), ix in zip(posts, idxs)
            ]
            events = np.unique(np.concatenate(arrs))
            ok = np.ones(events.shape, dtype=bool)
            end = np.zeros(events.shape, dtype=np.int64)
            for a in arrs:
                at = np.searchsorted(a, events, side="left")
                valid = at < a.size
                ok &= valid
                nxt = a[np.minimum(at, a.size - 1)]
                end = np.maximum(end, np.where(valid, nxt, 0))
            minwin[j] = int((end[ok] - events[ok] + 1).min())
        dl_ids, dl_lens = self._dl
        dl = dl_lens[np.searchsorted(dl_ids, common)]  # common ⊂ docs
        k1, b = BM25_K1, BM25_B
        denom = k1 * (1.0 - b + b * dl / self.avgdl)
        score = None
        for t, (_ids, tfs, _off, _flat), ix in zip(toks, posts, idxs):
            tff = tfs[ix].astype(np.float64)
            part = bm25_idf(self.n_survivors, self._df[t]) * (
                tff * (k1 + 1.0) / (tff + denom)
            )
            score = part if score is None else score + part
        score = score + float(len(toks)) / minwin
        top = np.lexsort((common, -score))[:k]
        return [
            (int(common[i]), int(minwin[i]), float(score[i]))
            for i in top
        ]

    def slop_topk(self, terms, slop: int = 3, k: int = 20,
                  analyzer=None):
        """Sloppy ordered phrase — serving-tier mirror of
        ops/textops.phrase_slop / query/positions.slop_topk_shards:
        count of ORDERED pairs (pa, pb) with 0 < pb − pa <= slop + 1
        per doc (slop=0 = exact adjacency); [(doc_id, n_windows)]
        ordered n_windows desc, doc_id asc.  Same O((tf_a+tf_b) log)
        double-searchsorted as the Spark kernel
        (ordered_window_count_udf); postings arrive tombstone-masked
        via the positions LRU (_postings_for)."""
        from ..text.analyze import analyze

        analyzed = [
            analyzer(str(t)) if analyzer is not None
            else analyze(str(t), stem=self.stem)
            for t in terms
        ]
        if len(analyzed) != 2 or any(len(a) != 1 for a in analyzed):
            raise ValueError("slop_topk takes two terms, one token each")
        ta, tb = analyzed[0][0], analyzed[1][0]
        if ta == tb:
            raise ValueError(
                "slop_topk counts ordered pairs of two DISTINCT terms"
            )
        if ta not in self._df or tb not in self._df:
            return []
        a_ids, _a_tfs, a_off, a_flat = self._postings_for(ta)
        b_ids, _b_tfs, b_off, b_flat = self._postings_for(tb)
        common, ia, ib = np.intersect1d(
            a_ids, b_ids, assume_unique=True, return_indices=True
        )
        if common.size == 0:
            return []
        nwin = np.empty(common.size, dtype=np.int64)
        for j in range(common.size):
            x = a_flat[a_off[ia[j]]:a_off[ia[j] + 1]]
            y = b_flat[b_off[ib[j]]:b_off[ib[j] + 1]]
            nwin[j] = int(
                (
                    np.searchsorted(y, x + slop + 1, side="right")
                    - np.searchsorted(y, x, side="right")
                ).sum()
            )
        keep = nwin > 0
        common, nwin = common[keep], nwin[keep]
        top = np.lexsort((common, -nwin))[:k]
        return [(int(common[i]), int(nwin[i])) for i in top]

    def corrected_topk(self, text: str, k: int = 10, analyzer=None):
        """Spell-corrected search — ops/textops.corrected_topk's rule on
        the serving tier: each query token is rewritten to suggest()'s
        rank-1 candidate (lev <= 1, ranked dist asc / df desc / term
        asc — an in-dictionary token corrects to itself at dist 0),
        tokens with no candidate are dropped, the corrected set dedups,
        and conjunctive WAND BM25 runs over it (topk()).  Corrections
        are the STORED surface forms, so they feed topk() unanalyzed.
        Returns topk()'s [(rank, docid, score)] rows."""
        from collections import Counter

        from ..text.analyze import analyze

        ana = analyzer if analyzer is not None else (
            lambda t: analyze(t, stem=self.stem)
        )
        corrected = []
        for tok in ana(str(text)):
            s = self.suggest(tok, topn=1)
            if s:
                corrected.append(s[0][0])
        corrected = sorted(set(corrected))
        if not corrected:
            return []
        return self.topk(
            " ".join(corrected), k=k,
            analyzer=lambda _t: Counter(corrected),
        )

    def snippet_windows(self, text, k: int = 10, w: int = 12,
                        analyzer=None):
        """Best-window snippet OFFSETS for the top-k conjunctive hits,
        from the index's stored positions — the serving-tier twin of
        ops/passages.window_snippets' window rule: among windows of
        ``w`` tokens anchored at each query-term match position, pick
        the one covering the most DISTINCT query terms (ties: more
        total matches, then earliest start).

        The index stores no document text, so this returns offsets —
        [(rank, docid, score, win_start, n_terms, n_matches)] — and a
        front-end renders the snippet from its document store using
        win_start..win_start+w-1 (1-based token positions, exactly the
        Spark op's coordinates).  Positions ride the same byte-budgeted
        LRU as phrase/proximity; per-doc cost is the query terms'
        positions in that doc, not the doc length."""
        from ..text.analyze import analyze

        terms = (analyzer(text) if analyzer is not None
                 else analyze(text, stem=self.stem))
        terms = list(dict.fromkeys(terms))
        top = self.topk(text, k=k, mode="and", analyzer=analyzer)
        if not top:
            return []
        posted = {t: self._postings_for(t) for t in terms}
        out = []
        for rank, docid, score in top:
            ppt = []
            for t in terms:
                ids, _tfs, off, flat = posted[t]
                j = int(np.searchsorted(ids, docid))
                ppt.append(flat[off[j]:off[j + 1]])  # docid ∈ every term
            allpos = np.sort(np.concatenate(ppt))
            best = None
            for p in (int(x) for x in allpos):
                n_terms = 0
                for pp in ppt:
                    i = int(np.searchsorted(pp, p))
                    if i < pp.size and pp[i] < p + w:
                        n_terms += 1
                lo_hi = np.searchsorted(allpos, [p, p + w])
                n_matches = int(lo_hi[1] - lo_hi[0])
                key = (-n_terms, -n_matches, p)
                if best is None or key < best[0]:
                    best = (key, p, n_terms, n_matches)
            _, p, nt, nm = best
            out.append((rank, docid, score, p, nt, nm))
        return out

    def highlight(self, text, k: int = 10, w: int = 12, analyzer=None,
                  pre: str = "**", post: str = "**"):
        """Rendered best-window snippets — the Lucene highlighter
        surface: snippet_windows picks the window from the index's
        stored positions, the stored-fields sidecar (index/stored.py)
        supplies the bytes, and every window token whose ANALYZED form
        is a query term is wrapped ``pre``…``post`` in the original
        casing.  Returns [(rank, docid, score, snippet)].

        Char spans come from the tokenizer's own regex over the
        LOWERCASED text (position k = k-th ``[a-z0-9]+`` match, the
        pinned 1-based convention); the slice is taken from the
        original text when lowercasing preserved length (always, for
        ASCII corpora) so casing survives, else from the lowered text
        (some Unicode lowers to a different length and the spans only
        index the lowered string).  Raises when the index was built
        without ``store_content=True`` — a highlighter that silently
        returns nothing would read as "no matches"."""
        from ..text.analyze import analyze
        from ..text.tokenizer import _TOKEN_RE

        qterms = set(analyzer(text) if analyzer is not None
                     else analyze(text, stem=self.stem))
        wins = self.snippet_windows(text, k=k, w=w, analyzer=analyzer)
        out = []
        memo = {}
        for rank, docid, score, p, _nt, _nm in wins:
            content = self.get_doc(docid)
            if content is None:
                raise ValueError(
                    f"doc {docid} has no stored fields — highlight "
                    "requires an index built with store_content=True"
                )
            low = content.lower()
            src = content if len(low) == len(content) else low
            spans = [m.span() for m in _TOKEN_RE.finditer(low)]
            lo, hi = p - 1, min(p - 1 + w, len(spans))
            pieces = []
            cur = spans[lo][0]
            for a, b in spans[lo:hi]:
                pieces.append(src[cur:a])
                tok = low[a:b]
                if analyzer is None:
                    # tok is one [a-z0-9]+ run → analyze yields one term
                    matched = (
                        analyze(tok, stem=self.stem, _memo=memo)[0]
                        in qterms
                    )
                else:
                    matched = bool(set(analyzer(tok)) & qterms)
                word = src[a:b]
                pieces.append(pre + word + post if matched else word)
                cur = b
            out.append((rank, docid, score, "".join(pieces)))
        return out

    def count(self, text: str, mode: str = "and",
              analyzer=None) -> int:
        """Total-hits count without scoring — the Lucene
        ``IndexSearcher.count`` surface powering hit totals and
        pagination UIs: the number of LIVE docs matching the analyzed
        query conjunctively (every term) or disjunctively (any term,
        ``mode="or"``).  Decoded postings come off the same block LRU
        the kernels use; eligibility rides the _dl liveness mask, so
        tombstoned docs never count (the filtered-search rule)."""
        if analyzer is None:
            freq = analyze_query(text, stem=self.stem)
        else:
            freq = analyzer(text)
        terms = sorted(freq)
        known = [t for t in terms if t in self._df]
        if mode == "and":
            if not terms or len(known) != len(terms):
                return 0
        elif not known:
            return 0
        acc = None
        for t in sorted(known, key=lambda x: (self._df[x], x)):
            parts = [blk[3][0] for blk in self._blocks_for(t)]
            ids = (
                np.unique(np.concatenate(parts))
                if parts else np.array([], dtype=np.int64)
            )
            if acc is None:
                acc = ids
            elif mode == "and":
                acc = np.intersect1d(acc, ids, assume_unique=True)
                if acc.size == 0:
                    return 0
            else:
                acc = np.union1d(acc, ids)
        live = self._dl[0]
        return int(np.isin(acc, live, assume_unique=True).sum())

    def allowed_for_field(self, field: str, value: str):
        """Server-side metadata-filter resolution: live docids whose
        stored doc ``field`` (repo / path / commit / url / sha256)
        equals ``value``, read columnar off each served segment's docs
        parquet (row-group-pruned pyarrow filter) and masked by _dl
        liveness.  Feed the result to topk/search(allowed=...) —
        eligibility-only, BM25 stats stay corpus-global (the
        filtered-search rule).  This is the resolver behind the
        'callers pre-resolve field filters to allowed=' contract; the
        analyzed-text field (lang:) stays out — the index stores no
        text-derived metadata, and that parser path still raises."""
        import pyarrow.dataset as pads

        if field not in ("repo", "path", "commit", "url", "sha256"):
            raise ValueError(
                f"unknown stored doc field: {field!r} (one of repo/"
                "path/commit/url/sha256)"
            )
        parts = []
        for d in self._serve_dirs:
            ds = pads.dataset(os.path.join(d, "docs"))
            t = ds.to_table(
                columns=["docid"],
                filter=pads.field(field) == value,
            )
            parts.append(t.column("docid").to_numpy())
        if not parts:
            return np.array([], dtype=np.int64)
        ids = np.unique(np.concatenate(parts)).astype(np.int64)
        live = self._dl[0]
        return ids[np.isin(ids, live, assume_unique=True)]

    def _mlt_keywords(self, content: str, topn: int):
        """Top-``topn`` tf-idf keywords of an analyzed content string
        under the SERVING stats — the ops/textops.tfidf_keywords rule
        (tfidf = round(tf·ln(N/df), 6) ranked (tfidf desc, term asc))
        with N/df from the index termdict, so sharded extraction is
        exact (every shard loads the global termdict)."""
        import math as _math
        from collections import Counter

        from ..text.analyze import analyze

        tf = Counter(analyze(content, stem=self.stem))
        n = self.n_survivors
        scored = sorted(
            (-round(c * _math.log(n / self._df[t]), 6), t)
            for t, c in tf.items()
            if self._df.get(t)
        )
        return [t for _, t in scored[:topn]]

    def more_like_this(self, docid: int, k: int = 10, topn: int = 5):
        """Lucene MoreLikeThis from the serving tier: the source doc's
        top-``topn`` tf-idf keywords (``_mlt_keywords`` over its stored
        content; topn default = ops/textops.MLT_KEYWORDS) become one
        disjunctive WAND pass (mode="or"), with the source excluded
        from the results — eligibility only, the batch op's rule,
        implemented by fetching k+1 and dropping the source (it
        occupies at most one slot, every other score is unaffected).
        Requires stored fields (store_content=True), raising otherwise
        like highlight().  Returns [(rank, docid, score)]."""
        from collections import Counter

        content = self.get_doc(docid)
        if content is None:
            raise ValueError(
                f"doc {docid} has no stored fields — more_like_this "
                "requires an index built with store_content=True"
            )
        kws = self._mlt_keywords(content, topn)
        if not kws:
            return []
        freq = Counter(kws)
        hits = self.topk(
            " ".join(kws), k=k + 1, mode="or",
            analyzer=lambda _text: freq,
        )
        out = [(d, s) for _, d, s in hits if d != docid][:k]
        return [(r + 1, d, s) for r, (d, s) in enumerate(out)]

    def topk_after(self, text: str, cursor, k: int = 10,
                   cursor_rank: int | None = None, mode: str = "and",
                   analyzer=None):
        """Cursor pagination — the serving-tier twin of
        ops/search.search_after_topk: the next ``k`` hits strictly
        after ``cursor`` = (score, docid) under the (score desc,
        docid asc) total order.  ``cursor_rank`` (the cursor's global
        rank, known to a sequential pager: page*k) sizes the first
        kernel call; without it the fetch depth doubles until the page
        fills or the result set is exhausted — each probe is still the
        block-max-pruned kernel, so deep pages cost more (the
        documented deep-paging behavior of every cursor API), never a
        full rescore of shallow pages.  Returns [(rank, docid, score)]
        with ranks continuing after the cursor position when
        cursor_rank is given, else 1-based within the page."""
        c_score, c_doc = float(cursor[0]), int(cursor[1])
        m = (int(cursor_rank) if cursor_rank else k) + k
        while True:
            rows = self.topk(text, k=m, mode=mode, analyzer=analyzer)
            after = [
                (d, s) for _, d, s in rows
                if s < c_score or (s == c_score and d > c_doc)
            ]
            if len(after) >= k or len(rows) < m:
                break
            m *= 2
        base = int(cursor_rank) if cursor_rank else 0
        return [
            (base + i + 1, d, s) for i, (d, s) in enumerate(after[:k])
        ]

    def explain(self, text: str, docid: int, analyzer=None):
        """Per-term score breakdown for ONE doc — the serving-tier twin
        of ops/search.explain_score (the Lucene ``explain`` surface):
        [(term, tf, df, idf, contribution)] rows, conjunctive BM25 over
        the analyzed terms, using the exact serving state (corrected
        df, composed avgdl, tombstone liveness).  Returns [] when the
        doc is missing any term or is not live."""
        from ..params import BM25_B, BM25_K1

        if analyzer is None:
            freq = analyze_query(text, stem=self.stem)
        else:
            freq = analyzer(text)
        terms = sorted(freq)
        if not terms or any(t not in self._df for t in terms):
            return []
        dl_ids, dl_lens = self._dl
        at = int(np.searchsorted(dl_ids, docid))
        if at >= dl_ids.size or dl_ids[at] != docid:
            return []  # not live (tombstoned or never stored)
        dl = float(dl_lens[at])
        k1, b = BM25_K1, BM25_B
        denom = k1 * (1.0 - b + b * dl / self.avgdl)
        out = []
        for t in terms:
            tf = 0
            for d1, d2, _mw, (ids, tfs) in self._blocks_for(t):
                if d1 <= docid <= d2:
                    j = int(np.searchsorted(ids, docid))
                    if j < ids.size and ids[j] == docid:
                        tf = int(tfs[j])
                    break
            if tf == 0:
                return []  # conjunctive: every term must match
            idf = bm25_idf(self.n_survivors, self._df[t])
            contrib = idf * tf * (k1 + 1.0) / (tf + denom)
            out.append((t, tf, self._df[t], idf, contrib))
        return out

    def suggest(self, term: str, topn: int = 3):
        """SymSpell did-you-mean over the served term dictionary — the
        serving-tier twin of ops/textops.fuzzy_terms, same rule: dict
        terms within Levenshtein <= 1 of the lowercased probe, ranked
        (distance asc, df desc, term asc), as [(term, df, dist)].

        Candidates come from a lazily built symmetric-delete variant
        map over ``self._df`` (the variant intersection is a SUPERSET
        of ed<=1, so the exact filter runs after — fuzzy_terms'
        losslessness argument verbatim).  The map costs ~|term|+1
        entries per dict term, built once per load; refresh() rebuilds
        state so a maintenance commit invalidates it for free.
        Suggestions are the STORED surface forms — under stem=True
        that is the stemmed vocabulary, by design (the corrected term
        feeds straight back into topk()).
        """
        q = term.lower()
        vm = self._variant_map
        if vm is None:
            vm = {}
            for t in self._df:
                for v in _del1(t):
                    vm.setdefault(v, []).append(t)
            self._variant_map = vm
        cand = set()
        for v in _del1(q):
            cand.update(vm.get(v, ()))
        scored = sorted(
            (d, -self._df[t], t)
            for t in cand
            if (d := _levenshtein(q, t)) <= 1
        )
        return [(t, -negdf, d) for d, negdf, t in scored[:topn]]

    def _terms_matching(self, kind: str, base: str) -> list:
        """All STORED dictionary terms matching the pattern — a bisect
        over the lazily sorted term list ("prefix": ``base*``) or the
        lazily sorted REVERSED term list ("suffix": ``*base``, Lucene's
        ReversedWildcardFilter rule).  Both lists are lazy termdict
        views and MUST be reset in __init__ (the refresh-staleness
        contract).  Uncapped: callers apply their own rewrite cap."""
        import bisect

        p = base.lower()
        if not p:
            return []
        if kind == "prefix":
            terms = self._sorted_terms
            if terms is None:
                terms = self._sorted_terms = sorted(self._df)
            lo = bisect.bisect_left(terms, p)
            hi = bisect.bisect_right(terms, p + "\uffff")
            return terms[lo:hi]
        rev = self._rev_terms
        if rev is None:
            rev = self._rev_terms = sorted(t[::-1] for t in self._df)
        rp = p[::-1]
        lo = bisect.bisect_left(rev, rp)
        hi = bisect.bisect_right(rev, rp + "\uffff")
        return [r[::-1] for r in rev[lo:hi]]

    def _expanded_topk(self, match_terms, k, max_expand):
        """Shared tail of prefix/suffix search: cap the expansions by
        (df desc, term asc) — the Lucene rewrite-cap rule — then score
        DISJUNCTIVELY through the OR-mode WAND kernel (a doc sums BM25
        over the expansions it contains)."""
        from collections import Counter

        exp = sorted(
            match_terms, key=lambda t: (-self._df[t], t)
        )[:max_expand]
        if not exp:
            return []
        return self.topk(
            " ".join(exp), k=k, mode="or",
            analyzer=lambda text: Counter(text.split()),
        )

    def prefix_topk(self, prefix: str, k: int = 10,
                    max_expand: int = 4):
        """Trailing-wildcard search — the serving-tier twin of
        ops/search.prefix_topk: expand against the served term
        dictionary (_terms_matching bisect), cap, score disjunctively.
        The prefix matches STORED surface forms (the stemmed
        vocabulary under stem=True, by design — a wildcard has no
        stem) and is NOT analyzed.  Returns [(rank, docid, score)]."""
        return self._expanded_topk(
            self._terms_matching("prefix", prefix), k, max_expand
        )

    def suffix_topk(self, suffix: str, k: int = 10,
                    max_expand: int = 4):
        """Leading-wildcard search (``*suffix``) — the reversed-termdict
        twin of prefix_topk (ops/search.suffix_topk on the Spark tier):
        ``*suffix`` becomes the prefix scan ``reverse(suffix)*``.
        Matches STORED surface forms, NOT analyzed.  Returns
        [(rank, docid, score)]."""
        return self._expanded_topk(
            self._terms_matching("suffix", suffix), k, max_expand
        )

    def _blended_candidates(self, text: str):
        """Raw per-candidate blend components over THIS replica's docid
        partition: ``(docids, bm25_sum, cosine, pr, hub, auth)`` float
        arrays (empty when the planner aborts or no doc matches).

        Normalization is deliberately NOT applied here: the blend's L2
        norms span the query's WHOLE candidate set, so a sharded
        deployment must pool candidates across replicas first
        (``_blend_rank`` — see ShardedSearcher.blended_topk)."""
        from ..params import BM25_B, BM25_K1
        from .scoring import plan_query_terms

        empty = (np.empty(0, np.int64),) + tuple(
            np.empty(0, np.float64) for _ in range(5)
        )
        rows, meta = plan_query_terms(
            [(0, text)], lambda t: self._df.get(t, 0),
            self.n_survivors, stem=self.stem,
        )
        if not rows:
            return empty
        dl_ids, dl_lens = self._dl
        if dl_ids.size == 0:
            return empty
        nterms = meta[0]["nterms"]
        qnorm = meta[0]["qnorm"]
        k1, b = BM25_K1, BM25_B

        id_ch, bm_ch, dot_ch, sq_ch = [], [], [], []
        for _, term, qw, idf in rows:
            blocks = self._blocks_for(term)
            if not blocks:
                # df > 0 globally but no postings in THIS partition:
                # conjunctive miss for every doc the replica serves
                return empty
            ids = np.concatenate([bl[3][0] for bl in blocks])
            tfs = np.concatenate([bl[3][1] for bl in blocks])
            pos = np.minimum(
                np.searchsorted(dl_ids, ids), dl_ids.size - 1
            )
            mem = dl_ids[pos] == ids  # tombstone liveness
            ids, pos = ids[mem], pos[mem]
            tff = tfs[mem].astype(np.float64)
            w = (
                tff * (k1 + 1.0)
                / (tff + k1 * (1.0 - b + b * dl_lens[pos] / self.avgdl))
            )
            if self._imp_table is not None:
                # BM25F: the multiplied value flows into the BM25 sum
                # AND the doc-vector cosine (score_candidates'
                # importance=True rule, exactly)
                from .wand import _imp_mult

                imps = np.concatenate(
                    [bl[3][2] for bl in blocks]
                )[mem]
                w = w * _imp_mult(self._imp_table, imps)
            bm = idf * w
            id_ch.append(ids)
            bm_ch.append(bm)
            dot_ch.append(bm * qw)
            sq_ch.append(bm * bm)

        ids_all = np.concatenate(id_ch)
        if ids_all.size == 0:
            return empty
        order = np.argsort(ids_all, kind="stable")
        ids_s = ids_all[order]
        starts = np.flatnonzero(
            np.concatenate([[True], ids_s[1:] != ids_s[:-1]])
        )
        counts = np.diff(np.concatenate([starts, [ids_s.size]]))
        # conjunctive: docs containing every planned term
        keep = counts == nterms
        if not keep.any():
            return empty
        docids = ids_s[starts][keep]
        bm25_sum = np.add.reduceat(
            np.concatenate(bm_ch)[order], starts
        )[keep]
        dot = np.add.reduceat(np.concatenate(dot_ch)[order], starts)[keep]
        dnorm2 = np.add.reduceat(np.concatenate(sq_ch)[order], starts)[keep]
        cosine = dot / (np.sqrt(dnorm2) * qnorm)

        pos = np.searchsorted(dl_ids, docids)  # candidates ⊂ docs
        pr = self._quals["pr_quality"][pos]
        hub = self._quals["hub_quality"][pos]
        auth = self._quals["auth_quality"][pos]
        return (docids, bm25_sum, cosine, pr, hub, auth)


def _blend_rank(docids, bm25_sum, cosine, pr, hub, auth, k):
    """Candidate-set normalization + quality blend + top-k — the
    query-GLOBAL half of blended scoring (norms are L2 over the full
    candidate set, so this runs once over pooled shard candidates).
    Returns [(rank, docid, score)] tie-broken (score desc, docid asc),
    matching scoring.score_queries_ondisk exactly."""
    from ..params import (
        AUTH_FACTOR,
        COSINE_FACTOR,
        COSINE_GATE,
        HUB_FACTOR,
        NET_RELEVANCE_FACTOR,
        PR_FACTOR,
        QUALITY_FACTOR,
        TFIDF_FACTOR,
    )

    if docids.size == 0:
        return []

    def safe(x, norm):
        return x / norm if norm > 0 else np.zeros_like(x)

    sum_norm = float(np.sqrt(np.sum(bm25_sum * bm25_sum)))
    cos_norm = float(np.sqrt(np.sum(cosine * cosine)))
    pr_norm = float(np.sqrt(np.sum(pr * pr)))
    hub_norm = float(np.sqrt(np.sum(hub * hub)))
    auth_norm = float(np.sqrt(np.sum(auth * auth)))
    rel = np.where(
        cosine > COSINE_GATE,
        TFIDF_FACTOR * safe(bm25_sum, sum_norm)
        + COSINE_FACTOR * safe(cosine, cos_norm),
        0.0,
    )
    qual = (
        PR_FACTOR * safe(pr, pr_norm)
        + HUB_FACTOR * safe(hub, hub_norm)
        + AUTH_FACTOR * safe(auth, auth_norm)
    )
    score = NET_RELEVANCE_FACTOR * rel + QUALITY_FACTOR * qual
    top = np.lexsort((docids, -score))[:k]
    return [
        (r + 1, int(docids[i]), float(score[i]))
        for r, i in enumerate(top)
    ]


class ShardedSearcher:
    """Docid-range-sharded serving over ONE segmented index dir — the
    scale-out path past a single replica's RAM envelope (module
    docstring): each shard is a LocalSearcher restricted to a
    contiguous run of segments (generations carry contiguous dense
    docid ranges, index/segments.append_segment), so per-doc state and
    posting blocks split ~evenly while corpus stats and the term
    dictionary stay global in every shard.

    Losslessness: BM25/blended scores depend only on global stats
    (n_survivors, avgdl, df) plus the doc's own length/qualities —
    never on which shard a doc lives in — so per-shard answers are
    exact.  WAND top-k merges by (score desc, docid asc): the global
    top-k is a subset of the union of per-shard top-k's.  The blended
    chain normalizes over the query's whole candidate set, so shards
    return RAW candidates (_blended_candidates) and the router blends
    once over the pool.  Both surfaces are rank-identical to an
    unsharded LocalSearcher with scores equal to float round-off
    (OR-mode picks its seed term from shard-local block maxima, which
    can permute the per-term accumulation order — observed ≤1e-14,
    within the repo-wide 1e-9 score tolerance; AND-mode accumulates
    rarest-global-df-first in every shard, bit-identical).
    Asserted in tests/test_serve_local.py.

    In production each shard is its own replica process/host fed the
    same parquet index off shared storage, and the router fans out
    over RPC; here the shards are in-process objects — the state
    partitioning, not the transport, is what this demonstrates.
    """

    def __init__(self, index_dir: str, n_shards: int, stem: bool = True,
                 cache_terms: int = 256):
        if n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        self.index_dir = index_dir
        self.stem = stem
        self._cache_terms = cache_terms
        self._n_shards_req = n_shards
        self._build()

    def _build(self) -> None:
        with open(os.path.join(self.index_dir, "segments.json")) as f:
            names = json.load(f)["segments"]
        n = min(self._n_shards_req, len(names))
        # contiguous runs = docid-range shards (append order is docid
        # order); sizes differ by at most one segment
        bounds = [round(i * len(names) / n) for i in range(n + 1)]
        self.shards = [
            LocalSearcher(self.index_dir, stem=self.stem,
                          cache_terms=self._cache_terms,
                          segments=names[bounds[i]:bounds[i + 1]])
            for i in range(n)
        ]
        self._loaded_stamp = self.shards[0]._loaded_stamp

    @property
    def n_survivors(self) -> int:
        return self.shards[0].n_survivors  # global in every shard

    def refresh(self) -> None:
        """Reload and RE-PARTITION: segments committed since load (or
        removed by merge) are reassigned across shards."""
        self._build()

    def maybe_refresh(self) -> bool:
        stamp = self.shards[0]._commit_stamp()
        if stamp == self._loaded_stamp:
            return False
        self.refresh()
        return True

    def get_doc(self, docid: int) -> str | None:
        """Stored-fields point read across shards: every live doc is
        in exactly one shard's docid range, and a shard returns None
        for ids outside its range (the _dl liveness mask), so the
        first non-None answer is THE answer."""
        for sh in self.shards:
            content = sh.get_doc(docid)
            if content is not None:
                return content
        return None

    def topk(self, text: str, k: int = 10, mode: str = "and",
             analyzer=None, allowed=None, exclude_terms=None):
        """Global [(rank, docid, score)] — merge of per-shard WAND
        top-k's, identical to an unsharded replica's answer.
        ``allowed``/``exclude_terms`` filter eligibility exactly as
        LocalSearcher.topk's (each shard applies them to its own docid
        range)."""
        cands = []
        for sh in self.shards:
            cands.extend(
                (s, d) for _, d, s in sh.topk(text, k=k, mode=mode,
                                              analyzer=analyzer,
                                              allowed=allowed,
                                              exclude_terms=exclude_terms)
            )
        cands.sort(key=lambda sd: (-sd[0], sd[1]))
        return [(r + 1, d, s) for r, (s, d) in enumerate(cands[:k])]

    def blended_topk(self, text: str, k: int = 10):
        """Global blended top-k: pool every shard's raw candidates,
        then normalize + blend ONCE (the norms are candidate-set-wide,
        so blending per shard and merging would be wrong)."""
        parts = [sh._blended_candidates(text) for sh in self.shards]
        pooled = tuple(
            np.concatenate([p[i] for p in parts]) for i in range(6)
        )
        return _blend_rank(*pooled, k=k)

    def phrase_topk(self, phrase, k: int = 20, analyzer=None):
        """Global phrase top-k: every doc lives in exactly one shard
        and its occurrence count is shard-local, so merging per-shard
        answers by (count desc, docid asc) is exact."""
        cands = []
        for sh in self.shards:
            cands.extend(sh.phrase_topk(phrase, k=k, analyzer=analyzer))
        cands.sort(key=lambda dc: (-dc[1], dc[0]))
        return cands[:k]

    def search(self, q: str, k: int = 10, allowed=None, analyzer=None):
        """Global query-language search: phrase eligibility is
        shard-local (every doc's positions live in exactly one shard)
        and scores are global-stat-only, so merging per-shard answers
        by (score desc, docid asc) is exact — same argument as topk."""
        cands = []
        for sh in self.shards:
            cands.extend(
                (s, d) for _, d, s in sh.search(q, k=k, allowed=allowed,
                                                analyzer=analyzer)
            )
        cands.sort(key=lambda sd: (-sd[0], sd[1]))
        return [(r + 1, d, s) for r, (s, d) in enumerate(cands[:k])]

    def proximity_topk(self, terms, k: int = 10, analyzer=None):
        """Global proximity top-k: scores depend only on global stats
        (n_survivors, avgdl, df — identical in every shard) plus the
        doc's own postings, so the merge by (score desc, docid asc) is
        exact."""
        cands = []
        for sh in self.shards:
            cands.extend(sh.proximity_topk(terms, k=k, analyzer=analyzer))
        cands.sort(key=lambda t: (-t[2], t[0]))
        return cands[:k]

    def span_near_topk(self, terms, k: int = 10, analyzer=None):
        """Global span-near top-k: min_win comes from the doc's own
        positions (shard-local by construction) and scores are
        global-stat-only — merging by (score desc, docid asc) is
        exact, proximity_topk's argument verbatim."""
        cands = []
        for sh in self.shards:
            cands.extend(sh.span_near_topk(terms, k=k, analyzer=analyzer))
        cands.sort(key=lambda t: (-t[2], t[0]))
        return cands[:k]

    def suggest(self, term: str, topn: int = 3):
        """Did-you-mean: every replica loads the GLOBAL termdict (df is
        a corpus-wide stat every shard needs for idf), so shard 0's
        answer is already exact — no merge."""
        return self.shards[0].suggest(term, topn=topn)

    def count(self, text: str, mode: str = "and",
              analyzer=None) -> int:
        """Global hit count: every live doc lives in exactly one
        shard's docid range, so per-shard counts sum exactly."""
        return sum(
            sh.count(text, mode=mode, analyzer=analyzer)
            for sh in self.shards
        )

    def allowed_for_field(self, field: str, value: str):
        """Global metadata-filter resolution: every live doc's metadata
        lives in exactly one shard's docs tables, so the union of
        per-shard resolutions is exact; feed it to topk(allowed=...) —
        each shard intersects its own docid range."""
        parts = [
            sh.allowed_for_field(field, value) for sh in self.shards
        ]
        return np.unique(np.concatenate(parts)).astype(np.int64)

    def more_like_this(self, docid: int, k: int = 10, topn: int = 5):
        """Global MLT: the source content lives in exactly one shard
        (self.get_doc) and keyword extraction uses only GLOBAL stats
        (shard 0's termdict/n_survivors — identical in every shard),
        so the keyword set equals an unsharded replica's; OR-mode
        scores are global-stat-only, so the per-shard merge is exact
        (topk's argument verbatim)."""
        from collections import Counter

        content = self.get_doc(docid)
        if content is None:
            raise ValueError(
                f"doc {docid} has no stored fields — more_like_this "
                "requires an index built with store_content=True"
            )
        kws = self.shards[0]._mlt_keywords(content, topn)
        if not kws:
            return []
        freq = Counter(kws)
        hits = self.topk(
            " ".join(kws), k=k + 1, mode="or",
            analyzer=lambda _text: freq,
        )
        out = [(d, s) for _, d, s in hits if d != docid][:k]
        return [(r + 1, d, s) for r, (d, s) in enumerate(out)]

    def slop_topk(self, terms, slop: int = 3, k: int = 20,
                  analyzer=None):
        """Global sloppy-phrase top-k: a doc's ordered-window count is
        computed from its own positions (shard-local by construction),
        so merging per-shard answers by (count desc, docid asc) is
        exact — phrase_topk's argument verbatim."""
        cands = []
        for sh in self.shards:
            cands.extend(
                sh.slop_topk(terms, slop=slop, k=k, analyzer=analyzer)
            )
        cands.sort(key=lambda dc: (-dc[1], dc[0]))
        return cands[:k]

    def corrected_topk(self, text: str, k: int = 10, analyzer=None):
        """Global spell-corrected search: the termdict is GLOBAL in
        every shard, so each shard rewrites the query to the IDENTICAL
        corrected term set, and conjunctive scores are
        global-stat-only — merging by (score desc, docid asc) is
        exact, topk's argument verbatim."""
        cands = []
        for sh in self.shards:
            cands.extend(
                (s, d) for _, d, s in sh.corrected_topk(
                    text, k=k, analyzer=analyzer
                )
            )
        cands.sort(key=lambda sd: (-sd[0], sd[1]))
        return [(r + 1, d, s) for r, (s, d) in enumerate(cands[:k])]

    def prefix_topk(self, prefix: str, k: int = 10,
                    max_expand: int = 4):
        """Global prefix search: the termdict (and so the capped
        expansion set) is GLOBAL in every shard — each shard expands
        to the identical term list — and OR-mode scores are
        global-stat-only, so merging per-shard answers by
        (score desc, docid asc) is exact, same argument as topk."""
        cands = []
        for sh in self.shards:
            cands.extend(
                (s, d) for _, d, s in sh.prefix_topk(
                    prefix, k=k, max_expand=max_expand
                )
            )
        cands.sort(key=lambda sd: (-sd[0], sd[1]))
        return [(r + 1, d, s) for r, (s, d) in enumerate(cands[:k])]

    def suffix_topk(self, suffix: str, k: int = 10,
                    max_expand: int = 4):
        """Global leading-wildcard search: the reversed-termdict
        expansion is GLOBAL in every shard (identical capped term
        list), so the merge is exact — prefix_topk's argument
        verbatim."""
        cands = []
        for sh in self.shards:
            cands.extend(
                (s, d) for _, d, s in sh.suffix_topk(
                    suffix, k=k, max_expand=max_expand
                )
            )
        cands.sort(key=lambda sd: (-sd[0], sd[1]))
        return [(r + 1, d, s) for r, (s, d) in enumerate(cands[:k])]

    def snippet_windows(self, text, k: int = 10, w: int = 12,
                        analyzer=None):
        """Global snippet offsets: window fields are computed from one
        doc's own positions (shard-local by construction), and scores
        are global-stat-only — so merging per-shard rows by
        (score desc, docid asc) and re-ranking is exact."""
        cands = []
        for sh in self.shards:
            cands.extend(
                row[1:] for row in sh.snippet_windows(
                    text, k=k, w=w, analyzer=analyzer
                )
            )
        cands.sort(key=lambda t: (-t[1], t[0]))
        return [(r + 1, *row) for r, row in enumerate(cands[:k])]

    def highlight(self, text, k: int = 10, w: int = 12, analyzer=None,
                  pre: str = "**", post: str = "**"):
        """Rendered snippets across shards: each hit's window AND bytes
        are shard-local (one doc lives in exactly one shard), so the
        merge is the snippet_windows merge with the shard's own
        rendering carried along."""
        cands = []
        for sh in self.shards:
            cands.extend(
                row[1:] for row in sh.highlight(
                    text, k=k, w=w, analyzer=analyzer, pre=pre, post=post
                )
            )
        cands.sort(key=lambda t: (-t[1], t[0]))
        return [(r + 1, *row) for r, row in enumerate(cands[:k])]
