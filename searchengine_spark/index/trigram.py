"""Persisted trigram index — Zoekt's shard, expressed as parquet.

ops/textops.substring_search proves the semantics (trigram-coverage
candidate pruning + exact containment verify, brute-force-oracled) but
inlines the trigram build per query.  This module is the deployment
shape: build the (trigram, doc_id) table ONCE, partitioned by a
deterministic trigram bucket, and serve substring queries from
partition-pruned reads — the same build/serve split as the postings
shards (index/shards.py) and the persisted IVF (ops/vectors.py).

Layout under ``index_dir``::

    cells/tb=<bucket>/*.parquet   (tg string, doc_id long)
    cells_g<N>/tb=<bucket>/...    append generations (append_trigram;
                                  readers union them — a doc_id lives
                                  in exactly one generation, keeping
                                  coverage counts exact)
    tombs_t<N>/*.parquet          (doc_id) tombstone generations
                                  (delete_trigram) — dead docs' cell
                                  rows stay physically present until a
                                  rebuild, but every serving surface
                                  (Spark ops AND LocalGrep/ShardedGrep)
                                  masks them, the same liveness rule as
                                  the WAND _dl_member mask and the ANN
                                  tombstone anti-join
    trigram_index.json            manifest (generation list, tombstone
                                  list, batch tags, n_docs), written
                                  LAST — the completeness marker (cells
                                  alone mean a crashed build); every
                                  append/delete commits by atomic
                                  manifest swap

The index stores NO text: verification joins the caller's documents
table on the candidate ids only (candidates ≪ corpus by construction),
so the corpus is never duplicated.  Buckets use the SAME xxhash64 rule
as the postings shards (index/xxhash64.term_bucket parity-tested vs
Spark's F.xxhash64), so the Python-side query planner prunes the same
partitions the build wrote.

Scale: the build is one explode + one partitioned write (trigram
cardinality is bounded — ≤ ~1 M distinct printable trigrams — so
every bucket is dense and the per-bucket files stay wide); a query
reads only its ≤ len(q)−2 trigrams' buckets with In(tg) pushed to
parquet (plan-asserted in tests/test_ops.py).
"""

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .xxhash64 import term_bucket

TRIGRAM_BUCKETS = 64
MANIFEST = "trigram_index.json"


def _trigrams_col():
    """In-row-distinct character trigrams of lowercased ``text`` — the
    ONE definition shared with ops/textops.substring_search."""
    return F.array_distinct(
        F.expr(
            "transform(sequence(1, greatest(length(text) - 2, 0)),"
            " i -> substring(lower(text), i, 3))"
        )
    )


def build_trigram_index(spark: SparkSession, docs: DataFrame,
                        index_dir: str,
                        n_buckets: int = TRIGRAM_BUCKETS) -> str:
    """Build the trigram shard from a (doc_id, text) DataFrame.
    Manifest written last = completeness marker; rebuild-in-place is
    crash-safe the same way (cells overwritten first, manifest swapped
    after all data is down)."""
    tri = docs.select(
        "doc_id", F.explode(_trigrams_col()).alias("tg")
    ).withColumn(
        "tb",
        F.pmod(F.xxhash64("tg"), F.lit(n_buckets)).cast("int"),
    )
    tri.write.mode("overwrite").partitionBy("tb").parquet(
        os.path.join(index_dir, "cells")
    )
    # n_docs = INDEXED docs (trigram-producing, len(text) >= 3) — the
    # same semantics append_trigram uses for its n_docs accounting, so
    # build and append never drift (a tokenless doc lands in no cells
    # generation on either path and is counted by neither); counted
    # from the written cells, not a re-explode of the corpus
    cells_dir = os.path.join(index_dir, "cells")
    has_cells = any(
        e.startswith("tb=") for e in os.listdir(cells_dir)
    )  # an all-tokenless corpus writes no partitions (schema-less dir)
    n_docs = (
        spark.read.parquet(cells_dir).select("doc_id").distinct().count()
        if has_cells else 0
    )
    tmp = os.path.join(index_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(
            {"version": 1, "n_buckets": n_buckets, "n_docs": n_docs}, f
        )
    os.replace(tmp, os.path.join(index_dir, MANIFEST))
    return index_dir


def _gens(manifest: dict) -> list:
    """Generation dirs, oldest first — pre-generation manifests (v1)
    mean the single ``cells`` dir."""
    return manifest.get("generations", ["cells"])


def append_trigram(spark: SparkSession, docs: DataFrame,
                   index_dir: str, batch_tag: str | None = None) -> int:
    """Append new (doc_id, text) rows as a fresh cells generation —
    the incremental half of the Zoekt story (build once, keep
    indexing): readers union the generation dirs, and coverage counts
    stay exact because a doc_id lives in EXACTLY ONE generation
    (already-indexed ids are anti-joined out, so replayed or
    overlapping batches cannot double a doc's trigram rows — the
    coverage == |need| rule depends on per-doc distinctness).

    ``batch_tag`` gives streaming idempotence (the append_ivf
    contract): a committed tag no-ops, and an append whose every doc
    is already indexed (or tokenless) commits its tag WITHOUT a
    generation (an empty partitionBy dir is schema-less and would
    poison the union read).  Commit = one atomic manifest swap AFTER
    the data is down.

    :return: number of newly indexed docs.
    """
    mpath = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(mpath):
        raise ValueError(f"no committed trigram index at {index_dir}")
    with open(mpath) as f:
        manifest = json.load(f)
    if batch_tag and batch_tag in manifest.get("tags", []):
        return 0
    gens = _gens(manifest)
    from functools import reduce

    existing = (
        reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(os.path.join(index_dir, g))
                for g in gens
            ],
        )
        .select("doc_id")
        .distinct()
    )
    fresh = docs.join(existing, "doc_id", "left_anti")
    tri = fresh.select(
        "doc_id", F.explode(_trigrams_col()).alias("tg")
    ).withColumn(
        "tb",
        F.pmod(
            F.xxhash64("tg"), F.lit(int(manifest["n_buckets"]))
        ).cast("int"),
    )
    # n_new counts docs that PRODUCE trigram rows: a tokenless doc
    # (len(text) < 3) lands in no generation, so the anti-join can
    # never exclude a replay of it — counting it would drift n_docs
    # (and overstate the return) on every untagged re-send
    n_new = tri.select("doc_id").distinct().count()
    gen = f"cells_g{len(gens)}"
    if n_new:
        tri.write.mode("overwrite").partitionBy("tb").parquet(
            os.path.join(index_dir, gen)
        )
        manifest["generations"] = gens + [gen]
    manifest["n_docs"] = int(manifest.get("n_docs", 0)) + int(n_new)
    if batch_tag:
        manifest.setdefault("tags", []).append(batch_tag)
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)
    return int(n_new)


def delete_trigram(spark: SparkSession, index_dir: str,
                   doc_ids=None, docs_df: DataFrame | None = None) -> int:
    """Tombstone docs in the trigram shard — the grep tier's liveness
    story (every other serving tier masks deletes: WAND `_dl_member`,
    ANN tombstone anti-join, stored-fields get_doc; without this a doc
    deleted/upserted away in the text index keeps matching substring
    and regex queries until a full trigram rebuild).

    ``doc_ids``: explicit bounded id list (the delete_docs shape), OR
    ``docs_df``: a one-column (doc_id) DataFrame for the distributed
    delete-by-predicate path (the delete_where rule — never a
    driver-side id collect).  Already-dead or never-indexed ids no-op
    (idempotent replays): fresh ids are anti-joined against the
    current tombstone union before writing, so replaying a delete adds
    no generation.  Cell rows stay physically present (reclaimed only
    by a rebuild); every reader masks them.  Commit = tombstone
    parquet written first, ONE atomic manifest swap after.

    :return: number of newly tombstoned ids.
    """
    mpath = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(mpath):
        raise ValueError(f"no committed trigram index at {index_dir}")
    with open(mpath) as f:
        manifest = json.load(f)
    if (doc_ids is None) == (docs_df is None):
        raise ValueError("pass exactly one of doc_ids / docs_df")
    if docs_df is None:
        docs_df = spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id long"
        )
    fresh = docs_df.select("doc_id").distinct()
    dead = _tombstones_df(spark, index_dir, manifest)
    if dead is not None:
        fresh = fresh.join(dead, "doc_id", "left_anti")
    tombs = manifest.get("tombstones", [])
    gen = f"tombs_t{len(tombs)}"
    gdir = os.path.join(index_dir, gen)
    # overwrite on the not-yet-listed dir: a crashed commit's rerun
    # lands on the same name (the _commit_tombstones precedent)
    fresh.write.mode("overwrite").parquet(gdir)
    n_new = int(spark.read.parquet(gdir).count())
    if not n_new:
        # an all-already-dead replay commits nothing: its empty dir is
        # never listed, so no later compaction would reclaim it
        shutil.rmtree(gdir, ignore_errors=True)
        return 0
    manifest["tombstones"] = tombs + [gen]
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)
    return n_new


def compact_trigram(spark: SparkSession, index_dir: str) -> int:
    """Physically reclaim tombstoned docs: rewrite the union of cells
    generations MINUS the tombstone set into ONE fresh generation and
    clear the tombstone list — the trigram shard's merge_segments
    analogue (until this runs, dead rows are only masked).

    Crash-safe commit: the survivor cells land in a fresh
    ``cells_c<K>`` dir (K = persisted compaction counter, never
    reused), then ONE atomic manifest swap lists it as the sole
    generation with empty tombstones; merged-away dirs and tombstone
    files are deleted best-effort AFTER the swap (a crash in between
    leaves reclaimable orphans, never a broken reader).  Batch TAGS
    SURVIVE compaction (the append_ivf rule: a replayed streaming
    batch must still no-op).  After compaction a previously deleted
    doc_id MAY re-enter via append — the same physical-reclaim
    semantics as the text index after merge_segments.

    Refuses a zero-survivor rewrite (an empty partitionBy dir is
    schema-less and poisons the union read — rebuild instead).

    :return: number of tombstoned docs physically reclaimed.
    """
    from functools import reduce

    mpath = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(mpath):
        raise ValueError(f"no committed trigram index at {index_dir}")
    with open(mpath) as f:
        manifest = json.load(f)
    dead = _tombstones_df(spark, index_dir, manifest)
    if dead is None:
        return 0
    gens = _gens(manifest)
    cells = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(os.path.join(index_dir, g))
            for g in gens
        ],
    )
    live = cells.join(dead, "doc_id", "left_anti")
    n_dead = int(dead.count())
    if not n_dead:
        # tombstone dirs may exist but cover no ids (shouldn't happen
        # via delete_trigram, which skips empty commits) — just clear
        manifest["tombstones"] = []
    else:
        k = int(manifest.get("n_compactions", 0)) + 1
        gen = f"cells_c{k}"
        # persist the bumped counter BEFORE writing so a crashed
        # compaction's dir name is never reused (the _reserve_name
        # rule); an uncommitted dir is invisible to readers
        manifest["n_compactions"] = k
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        if live.isEmpty():
            raise ValueError(
                "compaction would leave zero survivors; rebuild the "
                "shard instead (empty partitionBy dirs are schema-less)"
            )
        live.write.mode("overwrite").partitionBy("tb").parquet(
            os.path.join(index_dir, gen)
        )
        old_gens = gens
        old_tombs = manifest.get("tombstones", [])
        manifest["generations"] = [gen]
        manifest["tombstones"] = []
        manifest["n_docs"] = int(
            spark.read.parquet(os.path.join(index_dir, gen))
            .select("doc_id").distinct().count()
        )
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)  # the one commit
        for d in old_gens + old_tombs:
            shutil.rmtree(os.path.join(index_dir, d),
                          ignore_errors=True)
        return n_dead
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)
    return 0


def sync_trigram_liveness(spark: SparkSession, index_dir: str,
                          text_index_dir: str) -> int:
    """Propagate the segmented text index's tombstones into the
    trigram shard built over the SAME docid space — the one-call
    bridge that makes delete_docs/delete_where (GDPR forgetting)
    forget the grep index too.  Reads the text index's committed
    tombstone generations (index/segments.py layout) as a DataFrame
    and routes them through :func:`delete_trigram` (idempotent — safe
    to call after every maintenance cycle).

    :return: number of newly tombstoned ids in the trigram shard.
    """
    seg_meta = os.path.join(text_index_dir, "segments.json")
    if not os.path.exists(seg_meta):
        raise ValueError(f"no segmented index at {text_index_dir}")
    with open(seg_meta) as f:
        meta = json.load(f)
    gens = meta.get("tomb_gens", [])
    if not gens:
        return 0
    from functools import reduce

    tomb = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(
                os.path.join(text_index_dir, "tombstones", g)
            )
            for g in gens
        ],
    ).select(F.col("docid").alias("doc_id"))
    return delete_trigram(spark, index_dir, docs_df=tomb)


def _tombstones_df(spark: SparkSession, index_dir: str,
                   manifest: dict) -> DataFrame | None:
    """(doc_id) union of committed tombstone generations; None when
    the shard has none (the common case — readers skip the join)."""
    tombs = manifest.get("tombstones", [])
    if not tombs:
        return None
    from functools import reduce

    return (
        reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(os.path.join(index_dir, g))
                for g in tombs
            ],
        )
        .select("doc_id")
        .distinct()
    )


def _mask_dead(spark: SparkSession, index_dir: str,
               d: DataFrame) -> DataFrame:
    """Anti-join the shard's tombstones (no-op without any) — applied
    at the VERIFY stage of both ondisk ops, so candidate pruning stays
    untouched (dead cell rows only widen the candidate superset, the
    same physical-until-merge rule as WAND postings) while no dead doc
    can ever be returned."""
    mpath = os.path.join(index_dir, MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    dead = _tombstones_df(spark, index_dir, manifest)
    return d if dead is None else d.join(dead, "doc_id", "left_anti")


def _query_trigrams(ql: str, require: bool) -> list:
    """Distinct trigrams of a lowercased literal; < 3 chars raises
    when ``require`` (substring search has nothing to prune with)."""
    if len(ql) < 3:
        if require:
            raise ValueError("substring search needs len(q) >= 3")
        return []
    return sorted({ql[i:i + 3] for i in range(len(ql) - 2)})


def _shard_candidates(spark: SparkSession, index_dir: str, need):
    """Candidate docids covering ALL ``need`` trigrams, from bucket-
    and trigram-pruned cell reads; None when ``need`` is empty (no
    pruning possible — caller falls back to a full verify scan)."""
    mpath = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(mpath):
        raise ValueError(f"no committed trigram index at {index_dir}")
    if not need:
        return None
    with open(mpath) as f:
        manifest = json.load(f)
    n_buckets = int(manifest["n_buckets"])
    tbs = sorted({term_bucket(t, n_buckets) for t in need})
    # per-generation reads unioned (one spark.read over sibling
    # partitioned dirs trips CONFLICTING_DIRECTORY_STRUCTURES);
    # pruning survives the union — the test_segments plan precedent
    from functools import reduce

    cells = reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.parquet(os.path.join(index_dir, g))
            for g in _gens(manifest)
        ],
    )
    return (
        cells.filter(F.col("tb").isin(tbs) & F.col("tg").isin(need))
        .groupBy("doc_id")
        .agg(F.count("*").alias("ncov"))
        .filter(F.col("ncov") == len(need))
        .select("doc_id")
    )


def regex_topk_ondisk(spark: SparkSession, index_dir: str,
                      docs: DataFrame, pattern: str,
                      k: int = 20) -> DataFrame:
    """Regex search from the persisted shard: candidates pruned by the
    per-branch trigram plan (ops/textops.regex_anchor_sets — top-level
    alternation = UNION of each branch's coverage candidates),
    verified with regexp_count — ops/textops.regex_search's contract
    served shard-side (a pattern where any branch lacks a >= 3-char
    literal run falls back to a full verify scan, correct but
    unpruned)."""
    from functools import reduce

    from ..ops.textops import regex_anchor_sets

    pl = pattern.lower()
    need_sets = regex_anchor_sets(pl)
    cand = None
    if need_sets:
        parts = [
            _shard_candidates(spark, index_dir, s) for s in need_sets
        ]
        cand = reduce(lambda a, b: a.unionByName(b), parts).distinct()
    d = docs if cand is None else docs.join(cand, "doc_id")
    d = _mask_dead(spark, index_dir, d)
    return (
        d.withColumn(
            "n_matches",
            F.regexp_count(F.lower("text"), F.lit(pl)).cast("long"),
        )
        .filter(F.col("n_matches") > 0)
        .select("doc_id", "n_matches")
        .orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(k)
    )


def substring_topk_ondisk(spark: SparkSession, index_dir: str,
                          docs: DataFrame, q: str,
                          k: int = 20) -> DataFrame:
    """Serve one substring query from the persisted shard: bucket- and
    trigram-pruned cell read → coverage count == |trigrams(q)| →
    verify candidates by exact containment against ``docs`` (the same
    (doc_id, text) table the index was built from) → occurrence count.
    Identical output contract to ops/textops.substring_search
    ((doc_id, n_occurrences), n desc / doc_id asc, top k) — value-
    identical by the same losslessness argument, pinned in
    tests/test_ops.py."""
    cand = _shard_candidates(
        spark, index_dir,
        _query_trigrams(q.lower(), require=True),
    )
    ql = q.lower()
    lt = F.lower(F.col("text"))
    return (
        _mask_dead(spark, index_dir, docs.join(cand, "doc_id"))
        .withColumn(
            "n_occurrences",
            (
                (F.length(lt) - F.length(F.replace(lt, F.lit(ql))))
                / F.lit(len(ql))
            ).cast("long"),
        )
        .filter(F.col("n_occurrences") > 0)
        .select("doc_id", "n_occurrences")
        .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
        .limit(k)
    )
