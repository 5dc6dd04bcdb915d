"""Incremental segmented index (Lucene-style generations).

The reference's only incremental mode is resume-from-checkpoint of a
single monolithic build (lib/writer.py:40-57); a web-scale corpus is
never done arriving.  This module adds generation segments on top of
the unchanged writer: every generation is a COMPLETE index directory
(written by shards.write_index with its own manifest, so each append is
independently resumable and byte-deterministic), and readers serve the
union:

    index_dir/
      segments.json          ordered generation list + tombstone meta
      seg=0/  docs/ termdict/ postings/ mergeinfo.json _manifest.json
      seg=1/  ...
      tombstones/            (docid) parquet — docs removed from serving
      df_corrections/        (term, df_sub, cf_sub) parquet — the
                             tombstoned docs' term counts, subtracted
                             from the union termdict so idf is computed
                             from SURVIVING df (a monolithic rebuild of
                             the survivor set scores identically)

Append semantics:
 * new docids continue the dense space (docid_offset = Σ prior n_total),
   so segment docid ranges are disjoint and ascending — WAND's
   sorted-block invariants hold across the union for free;
 * exact dedup runs within the new batch AND against all prior
   segments (sha256 anti-join on the stored docs.sha256 column,
   INCLUDING tombstoned docs: tombstoned content must not re-enter
   while its surviving near-dup twin is still being served);
 * cross-segment NEAR-dup (simhash) is deliberately not an append-time
   filter — at 100 TB that re-comparison is its own job:
   ``compact_near_dups`` runs the banded self-join over the stored
   fingerprints of all generations and tombstones the losers, without
   rewriting a single segment.

Query-side: ``load_segments`` returns the same IndexShards handle the
single-index reader produces — blocks/docs are lazy unions (parquet
scans still prune per segment via bucket/term pushdown) and the
termdict re-aggregates lazily, so score_queries_ondisk / wand_topk /
fetch_postings work unchanged.  Serving-state exactness:

 * avgdl composes from per-segment INTEGER token sums minus the
   tombstoned docs' tokens — bit-identical to a monolithic rebuild's
   mean over the survivor set;
 * termdict df/cf subtract the stored df_corrections, so idf matches
   the rebuild;
 * each segment's block ``max_weight`` (written under that segment's
   own build avgdl, shards.py) is scaled by max(1, avgdl_serve /
   avgdl_build) so WAND's upper bound stays valid when the serving
   avgdl drifts above a segment's build avgdl.  Proof of safety: the
   tf-side weight w(tf,dl,A) = tf(k1+1)/(tf + k1(1-b+b·dl/A)) is
   increasing in A, and for A' ≥ A the ratio w(A')/w(A) =
   (tf + c_A)/(tf + c_A') with c_A ≥ c_A' is decreasing in tf, so it
   is maximized at tf→0 where it equals c_A/c_A' =
   (1-b+b·dl/A)/(1-b+b·dl/A'), which is increasing in dl with
   supremum A'/A.  Hence w(A') ≤ w(A)·A'/A ≤ stored_max·A'/A for
   every posting in the block, and tombstoned docids that decode from
   blocks are masked against the docs table inside the WAND kernels
   (query/wand._dl_member) before they can score.

Quality scope: PageRank/HITS quality is computed at build/append time
over each generation's OWN link subgraph (build_tables consumes the
extracted edges and folds quality into that generation's docs rows;
edges are not persisted).  Cross-generation links — a doc in seg=1
importing a doc in seg=0 — are therefore not observed, and neither
compaction nor ``merge_segments`` re-derives them (merge preserves the
docs rows' quality values).  This is the documented segmented
tradeoff, like the A~B~C near-dup note: authority drifts only where
link neighborhoods straddle an append boundary, and a full
``build_tables(compute_quality=True)`` rebuild over the reunited
corpus is the refresh path.  (The driver-contract segment entries pin
exactness with quality pinned constant, where the tradeoff is vacuous.)

``merge_segments`` is the physical analogue of the reference's merge
step (lib/writer.py:166-300): all generations minus tombstones are
rewritten into ONE fresh segment through the ordinary build/write path
(byte-deterministic, resumable), tombstone + correction state resets,
and the termdict is recomputed exactly.

Concurrency contract: maintenance operations (append / compact /
merge) are SINGLE-WRITER — run one at a time (the deploy shape is a
periodic tools/maintain_index_job.py run).  Readers are unrestricted:
every commit is one atomic segments.json swap, so a concurrent
load_segments / LocalSearcher always sees a consistent before-or-after
state, and crashed writers leave only invisible orphans (see
_reserve_name / compact_near_dups).  Two concurrent WRITERS are not
safe: a compaction committing in the middle of a merge would be wiped
by the merge's state reset.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .shards import IndexShards, load_index, write_index

SEGMENTS_FILE = "segments.json"
TOMBSTONES_DIR = "tombstones"
DF_CORRECTIONS_DIR = "df_corrections"


def _read_meta(index_dir: str) -> dict:
    p = os.path.join(index_dir, SEGMENTS_FILE)
    if not os.path.exists(p):
        return {"version": 1, "segments": []}
    with open(p) as f:
        return json.load(f)


def _save_meta(index_dir: str, meta: dict) -> None:
    p = os.path.join(index_dir, SEGMENTS_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, p)  # atomic: readers see old or new list, never half


def _read_segments(index_dir: str) -> list[str]:
    return _read_meta(index_dir)["segments"]


def _reserve_name(index_dir: str, meta: dict) -> str:
    """Allocate a generation name and PERSIST the bumped counter before
    anything is written under it.  A crashed append/merge leaves an
    orphan directory whose name is never reused — a rerun writes a
    fresh name — so a later write_index can never resume from a half-
    written manifest that belongs to a DIFFERENT operation (the
    stage-skip in write_index is only safe when the inputs match).
    Orphans are ignored by readers (only meta-listed segments load) and
    reclaimed at the next merge's cleanup."""
    n = int(meta.get("next_seg", len(meta["segments"])))
    meta["next_seg"] = n + 1
    _save_meta(index_dir, meta)
    return f"seg={n}"


def _commit_segment(index_dir: str, name: str,
                    replace: bool = False) -> dict:
    """Atomically publish a fully-written generation (fresh meta read:
    single-writer for appends, but tombstone state may have advanced)."""
    meta = _read_meta(index_dir)
    meta["segments"] = [name] if replace else meta["segments"] + [name]
    _save_meta(index_dir, meta)
    return meta


def _seg_stats(index_dir: str, segs: list[str]) -> list[dict]:
    out = []
    for s in segs:
        with open(os.path.join(index_dir, s, "mergeinfo.json")) as f:
            st = json.load(f)
        if "token_sum" not in st:  # pre-token_sum index
            st["token_sum"] = round(st["avgdl"] * st["n_survivors"])
        out.append(st)
    return out


def _raw_docs(spark: SparkSession, index_dir: str,
              segs: list[str]) -> DataFrame:
    """Union of the STORED docs of every generation — pre-tombstone.
    The dedup universe for appends: tombstoned content stays known."""
    from functools import reduce

    parts = [
        spark.read.parquet(os.path.join(index_dir, s, "docs"))
        for s in segs
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def init_segmented(spark: SparkSession, tables, index_dir: str,
                   store_content: bool = False,
                   store_importance: bool = False) -> str:
    """Write the first generation from built IndexTables.

    ``store_importance=True`` (segmented BM25F): the generation is
    written in the importance-payload flavor (write_index), and the
    flavor becomes a property of the WHOLE index — appends inherit it
    (append_segment reads it from the committed mergeinfo), merges
    preserve it, and load_segments refuses a mixed index.  Requires
    ``tables`` built with ``importance_fn``."""
    os.makedirs(index_dir, exist_ok=True)
    meta = _read_meta(index_dir)
    if meta["segments"]:
        raise ValueError(f"{index_dir} already has segments")
    name = _reserve_name(index_dir, meta)
    write_index(spark, tables, os.path.join(index_dir, name),
                store_content=store_content,
                store_importance=store_importance)
    _commit_segment(index_dir, name)
    return name


def append_segment(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    store_content: bool = False,
    **build_kwargs,
) -> str:
    """Build a new generation from ``corpus`` and commit it.

    The new segment's docids start after every existing segment's
    (dense space continues); content whose sha256 already exists in any
    prior segment — INCLUDING tombstoned docs — is dropped.
    ``build_kwargs`` pass through to build_tables
    (stem/simhash_bits/id_order/compute_quality...).

    The importance-payload flavor is INHERITED from the committed
    segments (never a parameter: a per-append choice would mix
    flavors, which every reader refuses).  On a BM25F index the
    caller must pass ``importance_fn`` in ``build_kwargs`` — a
    missing ``important`` column fails loudly in write_index.
    """
    from .pipeline import build_tables

    meta = _read_meta(index_dir)
    segs = meta["segments"]
    if not segs:
        raise ValueError(f"{index_dir} has no segments; init_segmented first")
    seg_stats = _seg_stats(index_dir, segs)
    store_importance = _index_flavor(seg_stats)
    if store_importance and not build_kwargs.get("importance_fn"):
        # build_tables would silently fall back to the const-0 parity
        # default (every posting priority 0 → uniform 0.8 multiplier),
        # making the appended docs' field weighting differ from the
        # index's — a BM25F index demands its extractor on every append
        raise ValueError(
            "appending to an importance-payload (BM25F) index requires"
            " importance_fn= (the flavor is inherited, the extractor"
            " is not)"
        )
    # dedup against the STORED segment docs, not the serving view:
    # load_segments anti-joins tombstones, and a new doc whose content
    # equals a tombstoned doc's must NOT re-enter while the near-dup
    # twin that caused the tombstone is still alive
    raw = _raw_docs(spark, index_dir, segs)
    known = raw.select("sha256") if "sha256" in raw.columns else None
    n_total = sum(st["n_total"] for st in seg_stats)
    tables = build_tables(
        spark,
        corpus,
        docid_offset=int(n_total),
        known_sha=known,
        **build_kwargs,
    )
    name = _reserve_name(index_dir, meta)
    write_index(spark, tables, os.path.join(index_dir, name),
                store_content=store_content,
                store_importance=store_importance)
    _commit_segment(index_dir, name)
    return name


def _decode_postings(blocks: DataFrame, flavor: bool) -> DataFrame:
    """(term, docid, tf, positions[, important]) rows from block
    payloads, decoding with the index's payload flavor — the merge
    paths' shared decode step (a plain decode of an importance payload
    would drop the field priorities; write_index could then never
    re-encode them)."""
    from .shards import (
        DECODE_SCHEMA,
        DECODE_SCHEMA_IMP,
        decode_blocks,
        decode_blocks_imp,
    )

    return blocks.select("term", "payload").mapInArrow(
        decode_blocks_imp if flavor else decode_blocks,
        schema=DECODE_SCHEMA_IMP if flavor else DECODE_SCHEMA,
    )


def _index_flavor(seg_stats) -> bool:
    """The index-wide importance-payload flavor; mixed segments raise
    (block maxima and decode layouts differ — no reader can serve a
    mix losslessly, the serve_local rule)."""
    flags = {bool(st.get("importance_payload")) for st in seg_stats}
    if len(flags) > 1:
        raise ValueError(
            "mixed importance-payload flavors across segments"
        )
    return flags.pop()


def load_segments(spark: SparkSession, index_dir: str,
                  cache_meta: bool = True) -> IndexShards:
    """Open all generations as ONE IndexShards handle (serving view:
    tombstones removed, stats and termdict corrected, block maxima
    rescaled — see module docstring)."""
    meta = _read_meta(index_dir)
    segs = meta["segments"]
    if not segs:
        raise ValueError(f"{index_dir} has no segments")
    parts = [
        load_index(spark, os.path.join(index_dir, s), cache_meta=False)
        for s in segs
    ]
    seg_stats = _seg_stats(index_dir, segs)

    # ---- serving stats, computed FIRST (block-max scaling needs them)
    n_total = sum(st["n_total"] for st in seg_stats)
    n_surv = sum(st["n_survivors"] for st in seg_stats)
    token_sum = sum(st["token_sum"] for st in seg_stats)
    n_tomb = int(meta.get("n_tombstones", 0))
    if n_tomb:
        n_surv -= n_tomb
        token_sum -= int(meta.get("tomb_tokens", 0))
    avgdl = token_sum / n_surv if n_surv else 0.0
    stats = {
        "n_total": n_total,
        "n_survivors": n_surv,
        "avgdl": avgdl,
        "token_sum": token_sum,
        "n_terms": None,  # unknown without an agg job; unused by queries
        "posting_block": seg_stats[0].get("posting_block"),
        "n_buckets": seg_stats[0].get("n_buckets"),
        # segmented BM25F: the flavor is index-wide (mixed raises) and
        # rides the stats so every reader (fetch_postings decode
        # variant, wand_topk's two-way flavor guard, score_queries_
        # ondisk) treats the union exactly like a monolithic index
        "importance_payload": _index_flavor(seg_stats),
    }

    # ---- blocks: lazy union, per-segment max_weight correction.
    # factor = max(1, avgdl_serve / avgdl_build) keeps the stored bound
    # an upper bound under the serving avgdl (proof: module docstring);
    # factor 1 when avgdl only shrank (weights shrink with it).
    # The proof carries UNCHANGED to importance-payload segments: a
    # stored BM25F max_weight is max over postings of (mult · w) with
    # mult a per-posting CONSTANT, and w_serve <= f · w_build per
    # posting implies mult·w_serve <= f · (mult·w_build) <= f ·
    # stored_max — scaling by f keeps the importance-scaled bound an
    # upper bound, so segmented BM25F WAND stays lossless.
    def corrected_blocks(p, st):
        build_avgdl = st["avgdl"] or 1.0
        factor = max(1.0, avgdl / build_avgdl) if avgdl else 1.0
        if factor == 1.0:
            return p.blocks
        return p.blocks.withColumn(
            "max_weight", F.col("max_weight") * F.lit(factor)
        )

    blocks = corrected_blocks(parts[0], seg_stats[0])
    docs = parts[0].docs
    for p, st in zip(parts[1:], seg_stats[1:]):
        blocks = blocks.unionByName(corrected_blocks(p, st))
        docs = docs.unionByName(p.docs)

    from functools import reduce

    termdict = (
        reduce(
            lambda a, b2: a.unionByName(b2),
            (p.termdict for p in parts),
        )
        .groupBy("term")
        .agg(
            F.first("bucket").alias("bucket"),
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").cast("long").alias("cf"),
            F.sum("n_blocks").cast("int").alias("n_blocks"),
            F.max("max_weight").alias("max_weight"),
        )
        if len(parts) > 1
        else parts[0].termdict
    )

    # tombstone state loads ONLY from meta-listed compaction generations
    # (tomb_gens): an orphan directory from a crashed compaction — data
    # written, meta save never reached — is invisible, and the rerun
    # overwrites it before committing (crash-idempotent)
    tomb_gens = meta.get("tomb_gens", [])
    if n_tomb and tomb_gens:
        tombs = spark.read.parquet(*[
            os.path.join(index_dir, TOMBSTONES_DIR, g) for g in tomb_gens
        ])
        docs = docs.join(tombs, "docid", "left_anti")
        corr_paths = [
            p for g in tomb_gens
            if os.path.isdir(
                p := os.path.join(index_dir, DF_CORRECTIONS_DIR, g)
            )
        ]
        if corr_paths:
            # subtract the tombstoned docs' per-term counts so idf is
            # computed from SURVIVING df (compact_near_dups stores the
            # corrections from one pruned postings scan); a term whose
            # df drops to 0 has no surviving postings and must vanish
            # from the dictionary like it would in a rebuild
            corr = (
                spark.read.parquet(*corr_paths)
                .groupBy("term")
                .agg(
                    F.sum("df_sub").alias("_dfs"),
                    F.sum("cf_sub").alias("_cfs"),
                )
            )
            termdict = (
                termdict.join(corr, "term", "left")
                .withColumn(
                    "df",
                    (
                        F.col("df") - F.coalesce(F.col("_dfs"), F.lit(0))
                    ).cast("long"),
                )
                .withColumn(
                    "cf",
                    (
                        F.col("cf") - F.coalesce(F.col("_cfs"), F.lit(0))
                    ).cast("long"),
                )
                .drop("_dfs", "_cfs")
                .filter(F.col("df") > 0)
            )
    if cache_meta:
        from pyspark import StorageLevel

        termdict = termdict.persist(StorageLevel.MEMORY_AND_DISK)
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    return IndexShards(
        blocks=blocks, termdict=termdict, docs=docs, stats=stats
    )


CORR_RANGE = 4096  # docid range-bucket width for the distributed prune
                  # (the stored-fields sidecar's range_id granularity)
CORR_SPAN_CAP = 64  # widest block (in buckets) still pruned by explode


def _tombstone_corrections(spark: SparkSession, blocks: DataFrame,
                           tomb_ids) -> DataFrame:
    """Per-term (df_sub, cf_sub) of the tombstoned docs, from ONE
    docid-range-pruned pass over the block metadata + payloads.

    ``tomb_ids`` is either a bounded Python iterable of docids (the
    explicit delete_docs batch — query-terms-sized, broadcastable) or
    a ``docid`` **DataFrame** (the maintenance flows: predicate
    deletes, near-dup compaction, merge rewrites — unbounded at
    100 TB, so the set must NEVER cross the driver).

    List path: block-level pruning is vectorized against the broadcast
    sorted tombstone array (searchsorted range-overlap on the
    skip-pointer columns, no decode); only overlapping payloads are
    decoded, and membership is a second searchsorted.

    DataFrame path (fully distributed, no driver state): blocks prune
    by a range-bucket LEFT SEMI join — the narrow skip-pointer
    projection explodes each block to the CORR_RANGE buckets its
    [docid_first, docid_last] span covers (salted striping keeps spans
    tight, so the explode is O(1) per block) and semi-joins the
    distinct tombstone buckets; surviving payloads decode once
    (docid+tf sections only) and the posting rows semi-join the
    tombstone ids on docid before the per-term aggregate.  Shuffles
    carry only (range_id)/(docid)-keyed narrow rows and the pruned
    payload subset.

    Either way the output is term-count-sized — the whole point vs a
    physical rewrite: the index is read once but nothing is rewritten.
    """
    import numpy as np

    if isinstance(tomb_ids, DataFrame):
        return _tombstone_corrections_df(blocks, tomb_ids)

    tomb = np.asarray(sorted(int(d) for d in tomb_ids), dtype=np.int64)
    tomb_b = spark.sparkContext.broadcast(tomb)

    def scan(batches):
        import pyarrow as pa

        from .varbyte import decode_payloads_np

        t = tomb_b.value
        out_schema = pa.schema([
            ("term", pa.string()),
            ("df_sub", pa.int64()),
            ("cf_sub", pa.int64()),
        ])
        for rb in batches:
            d1 = rb.column(
                rb.schema.get_field_index("docid_first")
            ).to_numpy()
            d2 = rb.column(
                rb.schema.get_field_index("docid_last")
            ).to_numpy()
            hit = np.searchsorted(t, d1, "left") != np.searchsorted(
                t, d2, "right"
            )
            if not hit.any():
                continue
            idx = np.flatnonzero(hit)
            terms = rb.column(rb.schema.get_field_index("term")).take(
                pa.array(idx)
            ).to_pylist()
            payloads = rb.column(
                rb.schema.get_field_index("payload")
            ).take(pa.array(idx)).to_pylist()
            n, ids, tfs, _, _ = decode_payloads_np(
                [bytes(p) for p in payloads], want_positions=False
            )
            pos = np.minimum(np.searchsorted(t, ids), t.size - 1)
            mem = t[pos] == ids
            off = np.zeros(n.size, dtype=np.int64)
            np.cumsum(n[:-1], out=off[1:])
            df_sub = np.add.reduceat(mem.astype(np.int64), off)
            cf_sub = np.add.reduceat(
                np.where(mem, tfs, 0).astype(np.int64), off
            )
            keep = df_sub > 0
            if not keep.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        [terms[i] for i in np.flatnonzero(keep)],
                        pa.string(),
                    ),
                    pa.array(df_sub[keep], pa.int64()),
                    pa.array(cf_sub[keep], pa.int64()),
                ],
                schema=out_schema,
            )

    partial = blocks.select(
        "term", "docid_first", "docid_last", "payload"
    ).mapInArrow(scan, schema="term string, df_sub long, cf_sub long")
    return partial.groupBy("term").agg(
        F.sum("df_sub").alias("df_sub"), F.sum("cf_sub").alias("cf_sub")
    )


def _tombstone_corrections_df(blocks: DataFrame,
                              tomb_df: DataFrame) -> DataFrame:
    """The distributed half of _tombstone_corrections (see its
    docstring): tombstone ids stay a DataFrame end-to-end."""
    ids = tomb_df.select(F.col("docid").cast("long").alias("docid"))
    tranges = ids.select(
        F.expr(f"(docid - 1) div {CORR_RANGE}").alias("range_id")
    ).distinct()
    # narrow skip-pointer projection → CAPPED range explode →
    # semi-join: the payload column never rides the pruning shuffle.
    # The explode is O(span/CORR_RANGE) per block, so a rare term's
    # single stripe spanning the whole docid space (10^9 docids →
    # ~244k bucket rows PER BLOCK) would make the pruning step itself
    # the bottleneck — blocks wider than CORR_SPAN_CAP buckets skip
    # pruning and decode unconditionally instead.  Correct because
    # `hit` only SELECTS blocks for decoding (a superset is fine: the
    # exact docid semi-join after decode filters precisely), and
    # bounded because a block holds at most one block-cut of postings
    # regardless of its docid span — wide spans mean SPARSE terms, so
    # the unconditional decode is per-block O(block size), not
    # O(span).
    proj = blocks.select("term", "docid_first", "docid_last")
    r_first = F.expr(f"(docid_first - 1) div {CORR_RANGE}")
    r_last = F.expr(f"(docid_last - 1) div {CORR_RANGE}")
    span = r_last - r_first
    narrow = (
        proj.filter(span <= CORR_SPAN_CAP)
        .withColumn("range_id", F.explode(F.sequence(r_first, r_last)))
        .join(tranges, "range_id", "left_semi")
        # (term, docid_first) is a block key: per segment a term's
        # blocks have distinct docid_first, and segments own disjoint
        # docid intervals
        .select("term", "docid_first")
        .distinct()
    )
    wide = proj.filter(span > CORR_SPAN_CAP).select(
        "term", "docid_first"
    )
    hit = narrow.unionByName(wide)
    pruned = blocks.join(
        hit, ["term", "docid_first"], "left_semi"
    ).select("term", "payload")

    def _decode_tf(batches):
        import numpy as np
        import pyarrow as pa

        from .varbyte import decode_payloads_np

        for rb in batches:
            terms = rb.column(
                rb.schema.get_field_index("term")
            ).to_pylist()
            payloads = rb.column(
                rb.schema.get_field_index("payload")
            ).to_pylist()
            if not terms:
                continue
            n, dids, tfs, _, _ = decode_payloads_np(
                [bytes(p) for p in payloads], want_positions=False
            )
            rep = np.repeat(np.array(terms, dtype=object), n)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rep.tolist(), pa.string()),
                    pa.array(dids, pa.int64()),
                    pa.array(tfs.astype(np.int64), pa.int64()),
                ],
                names=["term", "docid", "tf"],
            )

    decoded = pruned.mapInArrow(
        _decode_tf, schema="term string, docid long, tf long"
    )
    return (
        decoded.join(ids, "docid", "left_semi")
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df_sub"),
            F.sum("tf").cast("long").alias("cf_sub"),
        )
    )


def compact_near_dups(spark: SparkSession, index_dir: str,
                      bits: int = 64) -> int:
    """Cross-segment near-dup compaction from STORED fingerprints.

    Build-time simhash dedup is per-segment (append_segment docstring);
    this job closes the cross-generation gap: the banded LSH self-join +
    local-min rule (pipeline.simhash_dropped) runs over the fingerprint
    column of every surviving doc across ALL generations, and newly
    caught docs land in a tombstone list — removed from serving (the
    exhaustive scorers join postings against docs; the WAND kernels
    mask decoded docids against docs, query/wand._dl_member) without
    rewriting any segment.  Serving state is adjusted exactly: survivor
    count, token sum, AND the term dictionary (per-term df/cf of the
    tombstoned docs, aggregated from one pruned postings scan into
    ``df_corrections/``) — so scores equal a monolithic rebuild of the
    survivor set (asserted by tests/test_segments.py rank-identity).

    ``bits`` must match what the segments were built with (64 = scale
    default).  Idempotent: already-tombstoned docs are invisible to the
    next run.  Crash-safe: each compaction writes its tombstones and
    corrections into a fresh generation subdir (``tombstones/g<N>``,
    ``df_corrections/g<N>``, mode=overwrite) and COMMITS by listing the
    generation in segments.json last — a crash before the commit leaves
    an invisible orphan that the rerun (which recomputes the identical
    dropped set from unchanged serving state) simply overwrites, so
    corrections can never be applied twice.  NOTE vs a monolithic
    rebuild: comparisons see surviving docs only — a chain A~B(dropped
    at build), B~C, A≁C keeps C where the monolithic pass might not;
    the standard segmented tradeoff.

    :return: number of newly tombstoned docs.
    """
    from .pipeline import simhash_dropped

    cur = load_segments(spark, index_dir, cache_meta=False)
    if "fingerprint" not in cur.docs.columns:
        raise ValueError("segments were built without fingerprints")
    fps = cur.docs.filter(F.col("fingerprint").isNotNull()).select(
        "docid", "fingerprint"
    )
    dropped = simhash_dropped(fps, bits)
    tomb_df = cur.docs.join(dropped, "docid").select(
        "docid", "total_tokens"
    )
    return _commit_tombstones(spark, index_dir, cur.blocks, tomb_df)


def _commit_tombstones(spark: SparkSession, index_dir: str,
                       blocks: DataFrame, tomb_df: DataFrame,
                       bounded_ids=None) -> int:
    """Write one tombstone generation for ``tomb_df`` ((docid,
    total_tokens) DataFrame of LIVE docs) with its df_corrections, and
    commit both atomically via segments.json — the shared tail of
    compact_near_dups, delete_docs, and delete_where (same
    crash-idempotence: data dirs are mode=overwrite on the
    not-yet-listed generation, the meta save is the single commit
    point).

    The dropped set stays a DataFrame end-to-end: the generation is
    written from the join output, corrections run distributively, and
    the ONLY values crossing the driver are the (count, token-sum)
    scalar pair — mass deletion on a 100-TB corpus never materializes
    billions of ids driver-side.  ``bounded_ids`` (optional Python
    list, the explicit delete_docs batch) routes corrections through
    the broadcast-searchsorted kernel instead; the commit layout is
    identical.

    :return: number of newly tombstoned docs.
    """
    tomb_df = tomb_df.persist()
    try:
        row = tomb_df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("total_tokens"), F.lit(0)).alias("t"),
        ).collect()[0]
        n_new, tok = int(row["n"]), int(row["t"])
        if not n_new:
            return 0
        corr = _tombstone_corrections(
            spark, blocks,
            bounded_ids if bounded_ids is not None
            else tomb_df.select("docid"),
        )
        meta = _read_meta(index_dir)
        gen = f"g{int(meta.get('next_tomb_gen', 0))}"
        # overwrite, not append: a rerun after a crashed commit lands
        # on the same (still-uncommitted) generation dir
        corr.write.mode("overwrite").parquet(
            os.path.join(index_dir, DF_CORRECTIONS_DIR, gen)
        )
        tomb_df.select("docid").write.mode("overwrite").parquet(
            os.path.join(index_dir, TOMBSTONES_DIR, gen)
        )
        # single atomic commit: generation listed + counters advanced
        meta["tomb_gens"] = meta.get("tomb_gens", []) + [gen]
        meta["next_tomb_gen"] = int(meta.get("next_tomb_gen", 0)) + 1
        meta["n_tombstones"] = int(meta.get("n_tombstones", 0)) + n_new
        meta["tomb_tokens"] = int(meta.get("tomb_tokens", 0)) + tok
        _save_meta(index_dir, meta)
        return n_new
    finally:
        tomb_df.unpersist()


def delete_docs(spark: SparkSession, index_dir: str, docids) -> int:
    """Explicit delete-by-id — the user-facing tombstone surface next
    to the policy-driven compact_near_dups, completing the CRUD story
    (append_segment = insert, delete_docs = delete, merge/expunge =
    reclaim; the vector side's delete_vectors analogue).

    Tombstones ride the SAME generation machinery as compaction:
    removed from serving immediately (docs anti-join + the WAND
    kernels' _dl_member liveness mask), stats and termdict df/cf
    corrected from one pruned postings scan, postings physically
    reclaimed by the next merge/expunge.  Unknown or already-deleted
    ids no-op (idempotent — a replayed delete batch commits nothing).
    NOTE the append-dedup contract is content-level: new content equal
    to a DELETED doc's is still rejected by append_segment's
    pre-tombstone known_sha rule; re-admitting edited content is the
    normal update path (delete old id, append new content).

    :return: number of newly tombstoned (previously live) docs.
    """
    ids = sorted({int(d) for d in docids})
    if not ids:
        return 0
    cur = load_segments(spark, index_dir, cache_meta=False)
    want = spark.createDataFrame([(d,) for d in ids], "docid long")
    tomb_df = cur.docs.join(want, "docid").select(
        "docid", "total_tokens"
    )
    # the explicit batch is bounded by construction, so resolving the
    # LIVE subset driver-side stays in the bounded-collect class —
    # corrections then take the broadcast-kernel fast path (must be
    # live-only: an already-dead id would double-subtract its df/cf)
    live = [int(r["docid"]) for r in tomb_df.select("docid").collect()]
    if not live:
        return 0
    return _commit_tombstones(
        spark, index_dir, cur.blocks, tomb_df, bounded_ids=live
    )


def upsert_segment(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    **build_kwargs,
) -> dict:
    """Update-by-key — the reindex-a-changed-file flow, composed from
    the existing legs: for every incoming (repo, path) whose LIVE doc
    has different content, tombstone the old doc (delete_docs), then
    append only the genuinely new content as one generation.

    Semantics (all content-sha based, so replays are no-ops):
     * changed content under a known (repo, path) -> old doc deleted,
       new doc admitted (docids never reused; the hole reclaims at the
       next merge/expunge);
     * unchanged content -> old doc KEPT (its docid is stable), the
       incoming row dropped — never the delete-then-reject vanish;
     * brand-new (repo, path) -> plain append;
     * new content equal to ANY stored doc's (live or tombstoned)
       stays out — the corpus-global exact-dedup policy append_segment
       already enforces;
     * a batch with nothing new appends NO generation (an empty
       partitionBy dir is schema-less and would poison reads).

    The stale-docid collect is bounded by the update batch's key count
    (the same bounded-collect class as query terms).

    :return: {"deleted": n, "segment": generation name or None}.
    """
    cur = load_segments(spark, index_dir, cache_meta=False)
    incoming = corpus.select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("_sha")
    ).distinct()
    stale = (
        cur.docs.join(incoming, ["repo", "path"])
        .filter(F.col("sha256") != F.col("_sha"))
        .select("docid")
        .distinct()
        .collect()
    )
    n_del = delete_docs(spark, index_dir, [r["docid"] for r in stale])

    # append only rows whose content is NOT already stored anywhere
    # (pre-tombstone union — the append_segment dedup rule, applied
    # early so an all-duplicate batch skips the generation entirely)
    meta = _read_meta(index_dir)
    known = _raw_docs(spark, index_dir, meta["segments"]).select("sha256")
    fresh = (
        corpus.withColumn("_sha", F.sha2(F.col("content"), 256))
        .join(
            known.withColumnRenamed("sha256", "_sha"), "_sha",
            "left_anti",
        )
        .drop("_sha")
    )
    gen = None
    if not fresh.isEmpty():
        gen = append_segment(spark, index_dir, fresh, **build_kwargs)
    return {"deleted": n_del, "segment": gen}


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Observability surface (the Lucene segments / ES _stats
    analogue): one row per generation plus one 'TOTAL' serving row —
    (segment, n_total, n_stored, n_tombstoned, n_live, token_sum,
    avgdl, n_terms).

    Per-generation rows report BUILD-time stats (mergeinfo: ids
    consumed, stored survivors, stored integer token_sum, build avgdl)
    plus the generation's live tombstone count — tombstones attributed
    to generations by their contiguous docid intervals (list order ==
    docid order, the merge_run invariant) — and the generation's
    termdict size.  The TOTAL row reports the SERVING state exactly as
    load_segments composes it (integer token_sum minus tomb_tokens,
    n_live = stored - tombstones, avgdl = token_sum/n_live) and
    n_terms = distinct terms across the STORED termdicts (the stored
    vocabulary; the SERVING termdict can be smaller when a term's
    entire df was tombstoned away — df_corrections drop it).  avgdl is
    HALF_UP round-6 (the repo's F.round parity contract).

    Scale: metadata reads + one broadcast range-bucket job over the
    tombstone docids + vocab-sized termdict counts — never touches
    postings blocks or content.
    """
    from ..ops.textops import _mmr_round6 as _round6

    meta = _read_meta(index_dir)
    segs = meta["segments"]
    if not segs:
        raise ValueError(f"{index_dir} has no segments")
    st = _seg_stats(index_dir, segs)
    bounds, acc = [], 0
    for m in st:
        bounds.append((acc + 1, acc + int(m["n_total"])))
        acc += int(m["n_total"])
    tomb_counts = [0] * len(segs)
    n_tomb = int(meta.get("n_tombstones", 0))
    tomb_gens = meta.get("tomb_gens", [])
    if n_tomb and tomb_gens:
        tombs = spark.read.parquet(*[
            os.path.join(index_dir, TOMBSTONES_DIR, g)
            for g in tomb_gens
        ])
        rng = spark.createDataFrame(
            [(i, lo, hi) for i, (lo, hi) in enumerate(bounds)],
            "seg int, lo long, hi long",
        )
        got = (
            tombs.join(
                F.broadcast(rng),
                (F.col("docid") >= F.col("lo"))
                & (F.col("docid") <= F.col("hi")),
            )
            .groupBy("seg")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        for r in got:
            tomb_counts[r["seg"]] = int(r["n"])
    tds = [
        spark.read.parquet(os.path.join(index_dir, s, "termdict"))
        for s in segs
    ]
    rows = []
    for s, m, td, tc in zip(segs, st, tds, tomb_counts):
        stored = int(m["n_survivors"])
        rows.append((
            s, int(m["n_total"]), stored, tc, stored - tc,
            int(m["token_sum"]), _round6(float(m["avgdl"])),
            int(td.count()),
        ))
    from functools import reduce

    union_terms = (
        reduce(
            lambda a, b: a.unionByName(b),
            (td.select("term") for td in tds),
        )
        .distinct()
        .count()
    )
    n_total = sum(int(m["n_total"]) for m in st)
    n_stored = sum(int(m["n_survivors"]) for m in st)
    token_sum = (
        sum(int(m["token_sum"]) for m in st)
        - int(meta.get("tomb_tokens", 0))
    )
    n_live = n_stored - n_tomb
    avgdl = token_sum / n_live if n_live else 0.0
    rows.append((
        "TOTAL", n_total, n_stored, n_tomb, n_live,
        token_sum, _round6(avgdl), int(union_terms),
    ))
    return spark.createDataFrame(
        rows,
        "segment string, n_total long, n_stored long,"
        " n_tombstoned long, n_live long, token_sum long,"
        " avgdl double, n_terms long",
    )


def _merge_stored_sidecar(spark: SparkSession, index_dir: str,
                          input_segs: list[str], out_dir: str,
                          survivors: DataFrame) -> bool:
    """Rebuild a merged generation's stored-fields sidecar from the
    inputs' sidecars (docids preserved; tombstoned rows drop out via
    the survivor semi-join).  The merged generation gets a sidecar iff
    EVERY input has one — store_content must be used consistently to
    be useful (the mixed-run rule from index/stored.py), and a partial
    sidecar would silently serve None for half the corpus.  Runs
    BEFORE the segments.json commit swap, so crash safety rides the
    same atomic-commit argument as the posting data."""
    from .stored import STORED_DIR, has_stored_fields, write_stored_fields

    dirs = [os.path.join(index_dir, s) for s in input_segs]
    if not all(has_stored_fields(d) for d in dirs):
        return False
    # one read per sidecar + union: a single multi-path read trips
    # partition discovery over the differing seg-dir roots
    stored = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(os.path.join(d, STORED_DIR)) for d in dirs],
    )
    write_stored_fields(
        spark,
        stored.join(survivors.select("docid"), "docid", "left_semi")
        .select("docid", "content"),
        out_dir,
    )
    return True


def merge_segments(spark: SparkSession, index_dir: str) -> str:
    """Physically rewrite all generations (minus tombstones) into ONE
    fresh segment — the analogue of the reference's k-way merge
    (lib/writer.py:166-300), expressed as a rebuild through the
    ordinary write path.

    The surviving postings are decoded from the block union, filtered
    against the serving docs view, and re-encoded by write_index — so
    the output is byte-deterministic (same salted striping contract as
    any build).  Docids are PRESERVED (the dense space keeps its
    tombstone holes — ids are never reused, the same rule as every
    filter stage), the termdict is recomputed exactly from the
    surviving postings, and tombstone/correction state resets.  Commit
    is atomic: the target name is RESERVED (counter persisted) before
    any write — a crashed merge leaves an orphan dir whose name no
    later append or merge can collide with (reclaimed at the next
    successful merge's cleanup) — and segments.json swaps only after
    the new segment is fully written.

    :return: the new single segment's name.
    """
    import shutil

    meta = _read_meta(index_dir)
    segs = meta["segments"]
    if not segs:
        raise ValueError(f"{index_dir} has no segments")
    cur = load_segments(spark, index_dir, cache_meta=False)

    # flavor-preserving: an importance-payload index decodes the
    # trailing important[n] section and re-encodes it (merge must not
    # silently downgrade BM25F segments to the plain flavor)
    flavor = bool(cur.stats.get("importance_payload"))
    postings = (
        _decode_postings(cur.blocks, flavor)
        # liveness + doc length in one join against the serving docs
        .join(
            cur.docs.select("docid", "total_tokens"), "docid"
        )
    )

    from .pipeline import IndexTables

    tables = IndexTables(
        postings=postings,
        docs=cur.docs,
        stats={
            "n_total": cur.stats["n_total"],
            "n_survivors": cur.stats["n_survivors"],
            "avgdl": cur.stats["avgdl"],
            "token_sum": cur.stats["token_sum"],
        },
    )
    # name reserved (counter persisted) BEFORE any write: a crashed
    # merge leaves an orphan dir a later append can never collide with
    name = _reserve_name(index_dir, meta)
    write_index(spark, tables, os.path.join(index_dir, name),
                store_importance=flavor)
    _merge_stored_sidecar(spark, index_dir, segs,
                          os.path.join(index_dir, name), cur.docs)

    meta = _read_meta(index_dir)
    meta["segments"] = [name]
    meta["n_tombstones"] = 0
    meta["tomb_tokens"] = 0
    meta["tomb_gens"] = []
    _save_meta(index_dir, meta)
    # delete every non-live seg dir: the merged-away generations AND
    # any orphans left by crashed appends/merges (reserved names whose
    # commit never happened)
    for entry in os.listdir(index_dir):
        if entry.startswith("seg=") and entry != name:
            shutil.rmtree(os.path.join(index_dir, entry),
                          ignore_errors=True)
    for d in (TOMBSTONES_DIR, DF_CORRECTIONS_DIR):
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
    return name


def merge_run(spark: SparkSession, index_dir: str, start: int,
              length: int) -> str:
    """Physically merge an ADJACENT run ``segments[start:start+length]``
    into one fresh generation — the PARTIAL analogue of merge_segments,
    the unit a tiered policy (maybe_merge) invokes.  At 100 TB a full
    rewrite per maintenance window is not an option; Lucene/LSM engines
    only ever merge small adjacent runs, and this is that operation.

    Adjacency is required because segment docid ranges ascend in list
    order (appends continue the dense space), so an adjacent run covers
    one CONTIGUOUS docid interval — the merged segment slots back into
    the list with the sorted-block/disjoint-range invariants intact.

    Semantics (all proven by tests/test_segments.py):
     * docids preserved; tombstoned docs INSIDE the run are removed
       physically (their postings decode-filter away, their tokens
       leave the segment's token_sum);
     * tombstones OUTSIDE the run survive: they are rewritten into a
       fresh tombstone generation and their df/cf corrections are
       RECOMPUTED from the unmerged segments' blocks (one pruned scan)
       — the union termdict stays exactly the monolithic rebuild's;
     * stats compose: merged n_total = Σ run n_total (docid-offset
       accounting for future appends is unchanged), n_survivors /
       token_sum subtract the run's tombstones;
     * commit is one atomic segments.json swap AFTER the new segment
       and the new tombstone/correction generations are fully written;
       a crash before the swap leaves only invisible orphans (fresh
       reserved names, never reused) and the rerun redoes the merge
       from unchanged serving state.  Merged-away dirs and stale
       tombstone generations are deleted after the swap; leftovers
       from a crash between swap and cleanup are reclaimed by the next
       full merge's sweep.
    """
    import shutil

    from .pipeline import IndexTables

    meta = _read_meta(index_dir)
    segs = meta["segments"]
    # length 1 is a single-segment rewrite (expunge_deletes' unit):
    # same contiguous-interval math, the "merge" just drops tombstones
    if not (0 <= start and length >= 1 and start + length <= len(segs)):
        raise ValueError(
            f"invalid run [{start}:{start + length}) of {len(segs)} segments"
        )
    run = segs[start:start + length]
    all_stats = _seg_stats(index_dir, segs)
    run_stats = all_stats[start:start + length]

    # the run's contiguous docid interval (docids are offset+1..offset+n)
    lo = sum(st["n_total"] for st in all_stats[:start]) + 1
    hi = lo + sum(st["n_total"] for st in run_stats) - 1

    parts = [
        load_index(spark, os.path.join(index_dir, s), cache_meta=False)
        for s in run
    ]
    blocks = parts[0].blocks
    docs = parts[0].docs
    for p in parts[1:]:
        blocks = blocks.unionByName(p.blocks)
        docs = docs.unionByName(p.docs)

    # ---- tombstone split: inside the run -> removed physically now;
    # outside -> survive into a recomputed generation
    tomb_gens = meta.get("tomb_gens", [])
    run_tomb_tokens = 0
    # out-of-run tombstones stay a DataFrame end-to-end (rewritten
    # into the fresh generation below without crossing the driver —
    # only their count does)
    rem_df = None
    if tomb_gens:
        tombs = spark.read.parquet(*[
            os.path.join(index_dir, TOMBSTONES_DIR, g) for g in tomb_gens
        ])
        in_run = F.col("docid").between(lo, hi)
        row = (
            docs.join(tombs.filter(in_run), "docid")
            .agg(F.coalesce(F.sum("total_tokens"), F.lit(0)).alias("t"))
            .collect()[0]
        )
        run_tomb_tokens = int(row["t"])
        rem_df = tombs.filter(~in_run).select("docid").persist()
        docs = docs.join(tombs, "docid", "left_anti")

    # flavor-preserving decode + re-encode (the merge_segments rule)
    flavor = _index_flavor(all_stats)
    postings = _decode_postings(blocks, flavor).join(
        docs.select("docid", "total_tokens"), "docid"
    )

    n_total = sum(st["n_total"] for st in run_stats)
    token_sum = sum(st["token_sum"] for st in run_stats) - run_tomb_tokens
    # survivors after physical tombstone removal = stored docs kept
    n_surv_merged = docs.count()
    if n_surv_merged == 0:
        # an empty partitionBy parquet dir is schema-less and poisons
        # reads (the IVF compact-to-zero rule) — and dropping the
        # segment would break the dense docid-offset accounting.
        # A fully-dead run stays in place (serving already masks it);
        # merge_segments or a wider run reclaims it.
        raise ValueError(
            "run has no surviving docs; widen the run or merge_segments"
        )
    tables = IndexTables(
        postings=postings,
        docs=docs,
        stats={
            "n_total": n_total,
            "n_survivors": n_surv_merged,
            "avgdl": token_sum / n_surv_merged if n_surv_merged else 0.0,
            "token_sum": token_sum,
        },
    )
    name = _reserve_name(index_dir, meta)
    write_index(spark, tables, os.path.join(index_dir, name),
                store_importance=flavor)
    _merge_stored_sidecar(spark, index_dir, run,
                          os.path.join(index_dir, name), docs)

    # ---- remaining tombstone state, written BEFORE the commit swap
    meta = _read_meta(index_dir)
    new_segs = segs[:start] + [name] + segs[start + length:]
    new_tomb_gens: list[str] = []
    n_remain = int(rem_df.count()) if rem_df is not None else 0
    tokens_remain = 0
    gen = f"g{int(meta.get('next_tomb_gen', 0))}"
    if n_remain:
        others = [s for s in segs if s not in run]
        odocs = _raw_docs(spark, index_dir, others)
        tokens_remain = int(
            odocs.join(rem_df, "docid")
            .agg(F.coalesce(F.sum("total_tokens"), F.lit(0)).alias("t"))
            .collect()[0]["t"]
        )
        oblocks = None
        for s in others:
            p = load_index(
                spark, os.path.join(index_dir, s), cache_meta=False
            )
            oblocks = (
                p.blocks if oblocks is None
                else oblocks.unionByName(p.blocks)
            )
        corr = _tombstone_corrections(spark, oblocks, rem_df)
        corr.write.mode("overwrite").parquet(
            os.path.join(index_dir, DF_CORRECTIONS_DIR, gen)
        )
        rem_df.write.mode("overwrite").parquet(
            os.path.join(index_dir, TOMBSTONES_DIR, gen)
        )
        new_tomb_gens = [gen]
    if rem_df is not None:
        rem_df.unpersist()

    old_tomb_gens = meta.get("tomb_gens", [])
    meta["segments"] = new_segs
    meta["tomb_gens"] = new_tomb_gens
    meta["next_tomb_gen"] = int(meta.get("next_tomb_gen", 0)) + 1
    meta["n_tombstones"] = n_remain
    meta["tomb_tokens"] = tokens_remain
    _save_meta(index_dir, meta)  # the one atomic commit

    for s in run:
        shutil.rmtree(os.path.join(index_dir, s), ignore_errors=True)
    for g in old_tomb_gens:
        if g not in new_tomb_gens:
            for d in (TOMBSTONES_DIR, DF_CORRECTIONS_DIR):
                shutil.rmtree(os.path.join(index_dir, d, g),
                              ignore_errors=True)
    return name


def maybe_merge(spark: SparkSession, index_dir: str,
                merge_factor: int = 4) -> str | None:
    """Size-tiered merge policy (Lucene's LogDocMergePolicy shape):
    segments tier by floor(log_mf(n_total)); the FIRST adjacent run of
    ``merge_factor`` same-tier segments is merged via merge_run.  Call
    after every append (the deploy loop in tools/maintain_index_job):
    steady state is O(merge_factor · log(N)) segments, and each doc is
    rewritten O(log(N)) times total — the LSM write-amplification
    bound — instead of participating in a full rewrite per window.

    Deterministic: the policy reads only committed mergeinfo stats, so
    the same segment list always picks the same run.  Returns the new
    segment's name, or None when no tier is full.
    """
    import math

    if merge_factor < 2:
        raise ValueError("merge_factor must be >= 2")
    meta = _read_meta(index_dir)
    segs = meta["segments"]
    if len(segs) < merge_factor:
        return None
    stats = _seg_stats(index_dir, segs)
    levels = [
        int(math.floor(
            math.log(max(int(st["n_total"]), 1), merge_factor)
        )) if int(st["n_total"]) > 0 else 0
        for st in stats
    ]
    for i in range(len(segs) - merge_factor + 1):
        window = levels[i:i + merge_factor]
        if max(window) == min(window):
            return merge_run(spark, index_dir, i, merge_factor)
    return None


def expunge_deletes(spark: SparkSession, index_dir: str,
                    max_del_frac: float = 0.2) -> list[str]:
    """Rewrite every segment whose tombstoned-doc fraction exceeds
    ``max_del_frac`` — Lucene's expungeDeletes: reclaim dead postings
    without merging anything, touching ONLY the segments that carry
    the garbage.  Each rewrite is a single-segment merge_run, so all
    of its guarantees hold (docids preserved, out-of-segment
    tombstones recomputed, atomic swap per segment).

    Returns the new segment names (empty when no segment crosses the
    threshold).  Complements maybe_merge: the tier policy bounds
    segment COUNT, this bounds dead-posting OCCUPANCY — a deployment
    runs both in its maintenance window.
    """
    meta = _read_meta(index_dir)
    segs = meta["segments"]
    tomb_gens = meta.get("tomb_gens", [])
    if not segs or not tomb_gens or not meta.get("n_tombstones"):
        return []
    tombs = spark.read.parquet(*[
        os.path.join(index_dir, TOMBSTONES_DIR, g) for g in tomb_gens
    ])
    stats = _seg_stats(index_dir, segs)
    bounds, off = [], 0
    for st in stats:
        bounds.append((off + 1, off + st["n_total"]))
        off += st["n_total"]
    # docid -> segment attribution runs distributively (broadcast
    # range join over the per-segment docid intervals, the index_stats
    # pattern) — only len(segs) count rows cross the driver, never
    # the tombstone set itself
    rng = spark.createDataFrame(
        [(i, lo, hi) for i, (lo, hi) in enumerate(bounds)],
        "seg int, lo long, hi long",
    )
    per_seg = [0] * len(segs)
    for r in (
        tombs.join(
            F.broadcast(rng),
            (F.col("docid") >= F.col("lo"))
            & (F.col("docid") <= F.col("hi")),
        )
        .groupBy("seg")
        .agg(F.count("*").alias("n"))
        .collect()
    ):
        per_seg[int(r["seg"])] = int(r["n"])
    out = []
    for i in range(len(segs) - 1, -1, -1):  # right-to-left: indices of
        # unprocessed (smaller-i) segments survive earlier rewrites
        n_surv = stats[i]["n_survivors"]
        # fully-dead segments are skipped: a zero-survivor rewrite
        # cannot be written (merge_run refuses) and serving already
        # masks every doc — the next full/tiered merge reclaims them
        if (n_surv and per_seg[i] < n_surv
                and per_seg[i] / n_surv > max_del_frac):
            out.append(merge_run(spark, index_dir, i, 1))
    return out


FSCK_SCHEMA = "check string, term string, detail string"


def fsck_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Index audit (Lucene CheckIndex analogue): re-derive every
    stored invariant from the raw bytes and return a DataFrame of
    violations — EMPTY means healthy.  Works on a segments dir or a
    single write_index dir.

    Checks, all distributed (one full block-decode pass + joins):
      * block-count     — decoded posting count == stored ``n``
      * block-sorted    — decoded docids strictly ascending
      * block-bounds    — first/last decoded == docid_first/docid_last
      * block-cf        — sum of decoded tf == stored ``cf``
      * block-bytes     — payload re-encodes byte-identically through
                          the scalar reference encoder in the index's
                          payload FLAVOR (mergeinfo importance_payload
                          picks the decode; catches trailing garbage,
                          truncated importance sections, non-canonical
                          encodes)
      * block-imp-range — (importance flavor only) every decoded field
                          priority lies in params.IMPORTANCE's domain
      * block-bucket    — bucket == xxhash64 routing of the term (the
                          reader's pruning reaches this block)
      * posting-orphan  — decoded docid absent from the STORED docs
                          (pre-tombstone: tombstoned postings are
                          legitimately present until a merge)
      * termdict-df     — serving termdict df != live posting doc
                          count (tombstone-masked), i.e. the
                          df_corrections accounting broke
      * docs-dup        — duplicate docid in the serving docs view

    The decode uses the byte-at-a-time REFERENCE decoder
    (varbyte.decode_block_py), not the vectorized kernel the query
    path runs — fsck is the independent implementation, so a bug in
    the fast path cannot vouch for itself.  Cost is a full index scan
    by design (the maintenance-window audit job, not a serving path).
    """
    from .shards import term_bucket_col

    seg_meta = os.path.join(index_dir, "segments.json")
    # cache_meta=False: an audit must read the CURRENT bytes — the
    # session meta cache could vouch for a termdict that has since
    # been corrupted on disk
    if os.path.exists(seg_meta):
        sh = load_segments(spark, index_dir, cache_meta=False)
        meta = _read_meta(index_dir)
        stored = _raw_docs(spark, index_dir, meta["segments"])
    else:
        sh = load_index(spark, index_dir, cache_meta=False)
        stored = sh.docs

    # payload flavor from the committed mergeinfo (never guessed from
    # bytes): an importance index decodes the trailing important[n]
    # section and audits it — values in the multiplier table's domain,
    # and the payload re-encodes BYTE-IDENTICALLY through the scalar
    # reference encoder (catches trailing garbage, truncated sections,
    # and non-canonical encodes in either flavor)
    has_imp = bool(sh.stats.get("importance_payload"))
    n_imp_levels = None
    if has_imp:
        from ..params import IMPORTANCE

        n_imp_levels = len(IMPORTANCE)

    def _audit(batches):
        import pyarrow as pa

        from .varbyte import decode_block_py, encode_block

        for b in batches:
            terms = b.column("term").to_pylist()
            ns = b.column("n").to_pylist()
            firsts = b.column("docid_first").to_pylist()
            lasts = b.column("docid_last").to_pylist()
            cfs = b.column("cf").to_pylist()
            payloads = b.column("payload").to_pylist()
            out = []
            for t, n, lo, hi, cf, pl in zip(
                terms, ns, firsts, lasts, cfs, payloads
            ):
                pl = bytes(pl)
                if has_imp:
                    ids, tfs, poss, imps = decode_block_py(
                        pl, with_importance=True
                    )
                    if any(
                        not (0 <= v < n_imp_levels) for v in imps
                    ):
                        out.append(("block-imp-range", t,
                                    f"importance value outside "
                                    f"[0,{n_imp_levels})"))
                    reenc = encode_block(ids, tfs, poss, imps)
                else:
                    ids, tfs, poss = decode_block_py(pl)
                    reenc = encode_block(ids, tfs, poss)
                if reenc != pl:
                    out.append(("block-bytes", t,
                                "payload is not the canonical scalar "
                                "encode of its decode (flavor "
                                f"importance={has_imp})"))
                if len(ids) != n:
                    out.append(("block-count", t,
                                f"decoded {len(ids)} != n {n}"))
                if any(b2 <= a2 for a2, b2 in zip(ids, ids[1:])):
                    out.append(("block-sorted", t, "docids not "
                                "strictly ascending"))
                if ids and (ids[0] != lo or ids[-1] != hi):
                    out.append(("block-bounds", t,
                                f"[{ids[0]},{ids[-1]}] != "
                                f"stored [{lo},{hi}]"))
                if sum(tfs) != cf:
                    out.append(("block-cf", t,
                                f"sum(tf) {sum(tfs)} != cf {cf}"))
            if out:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([r[i] for r in out]) for i in range(3)],
                    names=["check", "term", "detail"],
                )

    blocks = sh.blocks
    block_viol = blocks.select(
        "term", "n", "docid_first", "docid_last", "cf", "payload"
    ).mapInArrow(_audit, schema=FSCK_SCHEMA)

    bucket_viol = (
        blocks.filter(F.col("bucket") != term_bucket_col())
        .select(
            F.lit("block-bucket").alias("check"),
            F.col("term"),
            F.concat(
                F.lit("bucket "), F.col("bucket").cast("string"),
                F.lit(" != routing "),
                term_bucket_col().cast("string"),
            ).alias("detail"),
        )
    )

    # the (term, docid) rows driving the orphan/df joins decode via
    # the SAME scalar reference decoder as the block audit — keeping
    # shards.decode_blocks (the vectorized fast path) out of fsck
    # entirely, so a fast-path bug cannot vouch for itself on any half
    # of the audit
    def _decode_scalar(batches):
        import pyarrow as pa

        from .varbyte import decode_block_py

        for b in batches:
            terms = b.column("term").to_pylist()
            payloads = b.column("payload").to_pylist()
            o_t, o_d = [], []
            for t, pl in zip(terms, payloads):
                ids, _, _ = decode_block_py(bytes(pl))
                o_t.extend(t for _ in ids)
                o_d.extend(ids)
            if o_t:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(o_t), pa.array(o_d, type=pa.int64())],
                    names=["term", "docid"],
                )

    decoded = blocks.select("term", "payload").mapInArrow(
        _decode_scalar, schema="term string, docid long"
    )
    orphan_viol = (
        decoded.select("term", "docid")
        .join(stored.select("docid"), "docid", "left_anti")
        .groupBy("term")
        .agg(F.count("*").alias("_n"),
             F.min("docid").alias("_d"))
        .select(
            F.lit("posting-orphan").alias("check"), "term",
            F.concat(
                F.col("_n").cast("string"),
                F.lit(" orphan postings, e.g. docid "),
                F.col("_d").cast("string"),
            ).alias("detail"),
        )
    )

    live_df = (
        decoded.select("term", "docid")
        .join(sh.docs.select("docid"), "docid")
        .groupBy("term")
        .agg(F.countDistinct("docid").alias("_live"))
    )
    df_viol = (
        sh.termdict.select("term", "df")
        .join(live_df, "term", "full_outer")
        .filter(
            F.coalesce(F.col("df"), F.lit(0))
            != F.coalesce(F.col("_live"), F.lit(0))
        )
        .select(
            F.lit("termdict-df").alias("check"), "term",
            F.concat(
                F.lit("termdict df "),
                F.coalesce(F.col("df"), F.lit(0)).cast("string"),
                F.lit(" != live "),
                F.coalesce(F.col("_live"), F.lit(0)).cast("string"),
            ).alias("detail"),
        )
    )

    dup_viol = (
        sh.docs.groupBy("docid").agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1)
        .select(
            F.lit("docs-dup").alias("check"),
            F.col("docid").cast("string").alias("term"),
            F.concat(F.col("_c").cast("string"),
                     F.lit(" rows")).alias("detail"),
        )
    )

    return (
        block_viol.unionByName(bucket_viol)
        .unionByName(orphan_viol)
        .unionByName(df_viol)
        .unionByName(dup_viol)
    )


def delete_where(spark: SparkSession, index_dir: str,
                 predicate: str) -> int:
    """Delete-by-predicate — the policy/GDPR surface over the stored
    docs metadata (``repo``, ``path``, ``commit``, ``sha256``,
    ``url``): resolves the LIVE docids matching the SQL ``predicate``
    and routes them through the SAME _commit_tombstones machinery as
    delete_docs, so every delete guarantee (immediate serving removal, exact
    df/cf corrections, idempotent replays, physical reclaim at the
    next merge/expunge) applies unchanged.

    ``delete_where(spark, d, "repo = 'src1'")`` forgets a whole
    repository; a re-run matches nothing (already tombstoned) and
    returns 0.  The resolved set stays a DataFrame end-to-end — a
    predicate matching half a 100-TB corpus never pulls its docids
    through the driver (only the count/token-sum scalars cross);
    commit + corrections ride the same _commit_tombstones machinery
    as delete_docs and compact_near_dups.

    :return: number of newly tombstoned docs.
    """
    cur = load_segments(spark, index_dir, cache_meta=False)
    tomb_df = cur.docs.filter(predicate).select("docid", "total_tokens")
    return _commit_tombstones(spark, index_dir, cur.blocks, tomb_df)
