"""The benchmark's workloads: ``build`` and ``serve``.

Each workload runs in three phases: set-up (timed whole, from process start,
into ``setup_s``), the measured part, and checks of the program's outputs
against ``reference`` (outside every timed interval).  All load comes from
this one process, one call at a time (a closed loop with one client).

``build`` carries the ingest path as well (one commit of new and repeated
files onto the fresh index, a merge, reloads and query sets): on a 4-core
machine every Spark build pays 25-40 s of job overhead whatever the corpus
size, and a third workload with its own base build would not fit the run
budget.  Every workload reports every end-to-end metric; README.md says
which activity gives each figure on each workload.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

import corpus as gen
import reference as ref

# build settings of the full build: 64-bit simhash (the scale path; on 32
# bits unrelated files collide too often for an exact survivor ground
# truth) and PageRank/HITS on
BUILD = {"compute_quality": True, "simhash_bits": 64}
# appends and the ``serve`` index skip the graph loops: each run of them
# costs 5-10 s of Spark jobs that the run budget cannot carry twice, and
# for an append they only rank the commit's own link subgraph anyway
# (the documented segmented trade-off, index/segments.py)
NO_GRAPH = {"compute_quality": False, "simhash_bits": 64}
K = 10
SCHEMA = "repo string, path string, commit string, lang string, content string"

# build: the base index, one commit onto it, and the two tiers' sizes put
# base and commit in the same merge tier (floor(log2 n) = 9), so
# maybe_merge(merge_factor=2) merges them on that commit
BASE_DOCS = 700
COMMIT_DOCS = 540
COMMIT_REPEATS = 40         # rows of the commit that copy indexed rows
MERGE_FACTOR = 2
BATCH_QUERIES = {"and": 300, "and_none": 50}
FIXED_QUERIES = 100
FIXED_TERMS = 200           # at most this many distinct terms: fits the LRU
FIXED_PASSES = 4            # passes over them per index state
# the latency figures: MEASURED_ROUNDS times a reload and MEASURED_QUERIES
# fresh AND queries, so every figure spans 1,000 queries that each round
# start from the emptied LRU (repeating one small set made p99 the time of
# its slowest query, and its warm-LRU hits a median at two speeds)
MEASURED_ROUNDS = 10
MEASURED_QUERIES = 100

SERVE_DOCS = 1800
SERVE_POOL = {"and": 1500, "and_none": 150, "or": 250, "phrase": 250,
              "blended": 60}
SERVE_MIX = {"and": 0.65, "and_none": 0.05, "or": 0.1, "phrase": 0.1,
             "blended": 0.1}
SERVE_MIN_QUERIES = 1500
# popularity law of the serve stream over each pool.  At exponent 1 about
# half the queries find every term in the LRU, which put the median right
# between the hit and miss latencies; at 0.6 a fifth do, so the median is
# a miss latency averaged over many distinct queries
STREAM_ZIPF = 0.6
# the stream's first SERVE_WARMUP queries run in set-up, so the loop sees
# the term LRU in its steady state rather than filling from empty
SERVE_WARMUP = 1000
CHECK_SAMPLE = {"and": 120, "and_none": 30, "or": 60, "phrase": 60}
REFRESHES = 15             # forced reloads whose median gives refresh_ms


def _percentile(values, q):
    return float(np.percentile(np.asarray(values), q))


def _rss_bytes() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _ranked(rows):
    """LocalSearcher [(rank, docid, score)] -> [(docid, score)]."""
    return [(d, s) for _, d, s in rows]


class Run:
    """State of one benchmark run."""

    def __init__(self, root, scratch, seed, seconds, tracer, t0):
        self.root = root
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.t0 = t0
        self.spark = None
        self.excluded_s = 0.0     # check work done during set-up
        self.metrics = {}         # end-to-end: name -> (value, unit)
        self.layer = {}           # per-layer: name -> (value, unit)
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.rng = np.random.default_rng(seed)
        self.vocab = gen.make_vocab(self.rng)
        self.analyzer = ref.Analyzer()

    def start_spark(self):
        """Start Spark and its Python workers on a thread, so the JVM boots
        while the inputs are generated; ``spark_ready`` waits for it.
        Worker start-up belongs to set-up, not to the first measured job."""
        from concurrent.futures import ThreadPoolExecutor

        ex = ThreadPoolExecutor(max_workers=1)
        self._starting = ex.submit(self._start_spark)
        ex.shutdown(wait=False)

    def spark_ready(self):
        self._starting.result()

    def _start_spark(self):
        import sparkctl

        self.spark = sparkctl.start_spark(self.root, self.scratch)
        if self.tracer is not None:
            tracker = self.spark.sparkContext.statusTracker()
            self.tracer.set_job_counter(
                lambda: max(tracker.getJobIdsForGroup(None) or [-1]) + 1)
        cores = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, 4 * cores, numPartitions=cores).mapInArrow(
            lambda batches: batches, "id long").count()

    def stop_spark(self):
        import sparkctl

        starting = getattr(self, "_starting", None)
        if starting is not None:
            try:
                starting.result()
            except Exception:  # noqa: BLE001 - raised where spark_ready waits
                pass
        spark, self.spark = self.spark, None
        if spark is not None:
            sparkctl.stop_spark(spark)

    def frame(self, rows):
        return self.spark.createDataFrame(
            [(r["repo"], r["path"], r["commit"], r["lang"], r["content"])
             for r in rows], SCHEMA)

    def setup_done(self):
        self.metrics["setup_s"] = (
            time.perf_counter() - self.t0 - self.excluded_s, "s")

    def check(self, what, reason):
        if reason is not None:
            self.errors.append(f"{what}: {reason}")

    def op(self):
        if self.tracer is not None:
            self.tracer.new_operation()

    def path(self, name):
        return os.path.join(self.scratch, name)

    def reference_for(self, batch, index=None):
        index = index or ref.RefIndex(self.analyzer)
        for i in np.flatnonzero(batch.survivor):
            index.add(batch.docids[i], batch.rows[i]["content"])
        return index

    def queries(self, batch, mix):
        return {kind: gen.make_queries(self.rng, self.vocab, batch, kind, n)
                for kind, n in mix.items()}

    def timed_query(self, fn, *args, **kwargs):
        """(result, seconds) of one serving call; a call that raises is
        counted failed and gives None."""
        self.op()
        t = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.failed += 1
            self.errors.append(f"{args!r} raised {e!r}")
            out = None
        return out, time.perf_counter() - t

    def reload(self, searcher, force=False):
        """Seconds one reload takes (maybe_refresh, or refresh)."""
        self.op()
        t = time.perf_counter()
        done = searcher.refresh() if force else searcher.maybe_refresh()
        took = time.perf_counter() - t
        self.check("refresh", None if force or done else
                   "no reload after a commit")
        return took


# --------------------------------------------------------------------------
# steps shared by the workloads


def _wand_batch(run, shards_handle, queries):
    """One wand_topk batch; returns ({qid: [(docid, score)]}, seconds)."""
    from searchengine_spark.query import wand

    run.op()
    t = time.perf_counter()
    got = wand.wand_topk(run.spark, shards_handle, queries, k=K).collect()
    took = time.perf_counter() - t
    by_q = {}
    for r in sorted(got, key=lambda r: (r["qid"], r["rank"])):
        by_q.setdefault(r["qid"], []).append((r["docid"], r["score"]))
    return by_q, took


def _index_facts(index_dir):
    """What the index checks read from an index directory: (docids,
    pr_quality, {term: df}, postings count from the manifest)."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(index_dir, "docs"),
                         columns=["docid", "pr_quality"])
    td = pq.read_table(os.path.join(index_dir, "termdict"),
                       columns=["term", "df"])
    with open(os.path.join(index_dir, "_manifest.json")) as f:
        stages = json.load(f)["stages"]
    return (docs.column("docid").to_numpy(),
            docs.column("pr_quality").to_numpy(),
            dict(zip(td.column("term").to_pylist(),
                     td.column("df").to_pylist())),
            sum(v.get("postings", 0) for k, v in stages.items()
                if k.startswith("postings_group_")))


def _index_checks(run, facts, batch, refidx, quality=True):
    """Survivor set, the postings-count identity, per-term df, and
    pr_quality against a power iteration over the planted edges."""
    ids, pr_got, df_got, manifest_postings = facts
    got, want = np.sort(ids), np.sort(batch.docids[batch.survivor])
    run.check("survivors", None if np.array_equal(got, want) else
              f"{got.size} docs indexed, expected {want.size}; "
              f"extra {np.setdiff1d(got, want)[:5].tolist()} "
              f"missing {np.setdiff1d(want, got)[:5].tolist()}")
    sum_df = sum(df_got.values())
    run.check("postings count", None if
              sum_df == manifest_postings == refidx.n_postings else
              f"sum df {sum_df}, manifest {manifest_postings}, "
              f"distinct terms per doc {refidx.n_postings}")
    run.check("termdict df", None if df_got == refidx.df() else
              "per-term df differs from the reference term counts")
    if quality:
        pr = ref.pagerank(batch.n_total, batch.edges)
        err = float(np.max(np.abs(pr_got - pr[ids - 1]))) if ids.size else 0.0
        run.check("pr_quality", None if err <= ref.PR_ATOL else
                  f"max |pr - reference| = {err:.3g}")


def _check_batch(run, by_q, queries, refidx):
    for qid, text in queries:
        run.check(f"wand_topk {text!r}", ref.compare_ranked(
            by_q.get(qid, []), refidx.bm25(text, "and"), K))


# --------------------------------------------------------------------------
# build


def run_build(run: Run):
    from searchengine_spark.index import pipeline, segments, shards
    from searchengine_spark.query import serve_local

    run.start_spark()
    base = gen.generate_batch(run.rng, run.vocab, BASE_DOCS, "b0")
    qmix = run.queries(base, BATCH_QUERIES)
    batch_q = list(enumerate(qmix["and"] + qmix["and_none"]))
    fixed, terms = [], set()
    for q in gen.make_queries(run.rng, run.vocab, base, "and",
                              2 * FIXED_QUERIES):
        new = terms | set(run.analyzer(q))
        if len(fixed) < FIXED_QUERIES and len(new) <= FIXED_TERMS:
            fixed.append(q)
            terms = new
    pool = [(base.rows[i]["content"], base.words[i])
            for i in np.flatnonzero(base.survivor)]
    pick = run.rng.choice(len(pool), size=COMMIT_REPEATS, replace=False)
    commit = gen.generate_batch(run.rng, run.vocab, COMMIT_DOCS, "b1",
                                docid_offset=base.n_total,
                                repeats=[pool[j] for j in pick])
    measured = gen.make_queries(run.rng, run.vocab, base, "and",
                                MEASURED_ROUNDS * MEASURED_QUERIES)
    seg_dir = run.path("segments")
    run.spark_ready()
    base_df, commit_df = run.frame(base.rows), run.frame(commit.rows)
    run.setup_done()

    # the full build: build_tables + write_index (through init_segmented)
    run.op()
    t = time.perf_counter()
    tables = pipeline.build_tables(run.spark, base_df, **BUILD)
    seg0 = segments.init_segmented(run.spark, tables, seg_dir)
    build_s = time.perf_counter() - t
    run.spark.catalog.clearCache()
    base_dir = os.path.join(seg_dir, seg0)
    by_q, batch_s = _wand_batch(run, shards.load_index(run.spark, base_dir),
                                batch_q)
    run.spark.catalog.clearCache()
    # the merge below deletes the base segment: read what the checks and
    # the per-layer figures need from it now
    base_bytes = _dir_bytes(base_dir)
    base_facts = _index_facts(base_dir)
    if run.tracer is not None:
        _layer_index(run, base_dir, int(base.survivor.sum()))

    rss0 = _rss_bytes()
    searcher = serve_local.LocalSearcher(seg_dir)
    states, refresh_s, write_s = [], [], 0.0

    def serve_fixed(passes, texts=fixed):
        got, lat = {}, []
        for _ in range(passes):
            for q in texts:
                res, dt = run.timed_query(searcher.topk, q, k=K)
                lat.append(dt)
                got[q] = res
        states.append((searcher.n_survivors, got))
        run.attempted += passes * len(texts)
        return lat

    serve_fixed(FIXED_PASSES)
    # the commit: append (exact repeats of indexed rows must be dropped),
    # reads over two segments, then the tiered merge and reads over one
    run.op()
    t = time.perf_counter()
    appended = segments.append_segment(run.spark, seg_dir, commit_df,
                                       **NO_GRAPH)
    write_s += time.perf_counter() - t
    appended_bytes = _dir_bytes(os.path.join(seg_dir, appended))
    refresh_s.append(run.reload(searcher))
    serve_fixed(FIXED_PASSES)
    run.op()
    t = time.perf_counter()
    merged = segments.maybe_merge(run.spark, seg_dir,
                                  merge_factor=MERGE_FACTOR)
    write_s += time.perf_counter() - t
    run.spark.catalog.clearCache()
    run.check("merge", None if merged else "maybe_merge merged nothing")
    refresh_s.append(run.reload(searcher))
    serve_fixed(FIXED_PASSES)
    refresh_s += [run.reload(searcher, force=True) for _ in range(REFRESHES)]
    run.attempted += 5 + REFRESHES + MEASURED_ROUNDS + len(batch_q)
    with open(os.path.join(seg_dir, "segments.json")) as f:
        live_segs = json.load(f)["segments"]
    index_bytes = sum(_dir_bytes(os.path.join(seg_dir, s)) for s in live_segs)
    run.stop_spark()
    lat = []
    for r in range(MEASURED_ROUNDS):
        refresh_s.append(run.reload(searcher, force=True))
        lat += serve_fixed(1, measured[r * MEASURED_QUERIES:
                                       (r + 1) * MEASURED_QUERIES])

    n_base = int(base.survivor.sum())
    run.metrics["build_docs_per_s"] = (BASE_DOCS / build_s, "docs/s")
    run.metrics["ingest_docs_per_s"] = (COMMIT_DOCS / write_s, "docs/s")
    run.metrics["index_bytes_per_doc"] = (base_bytes / n_base, "B/doc")
    run.metrics["batch_queries_per_s"] = (len(batch_q) / batch_s, "queries/s")
    run.metrics["query_ms_p50"] = (_percentile(lat, 50) * 1e3, "ms")
    run.metrics["query_ms_p99"] = (_percentile(lat, 99) * 1e3, "ms")
    run.metrics["serve_rss_mb"] = ((_rss_bytes() - rss0) / 2 ** 20, "MB")
    run.layer["refresh_ms"] = (statistics.median(refresh_s) * 1e3, "ms")

    refidx = run.reference_for(base)
    _index_checks(run, base_facts, base, refidx)
    _check_batch(run, by_q, batch_q, refidx)
    union = run.reference_for(commit, run.reference_for(base))
    for (n_live, got), want in zip(states, [refidx] + [union] * (
            len(states) - 1)):
        run.check("live docs", None if n_live == want.n_docs else
                  f"{n_live} live, expected {want.n_docs}")
        for q, res in got.items():
            if res is not None:
                run.check(f"topk {q!r}", ref.compare_ranked(
                    _ranked(res), want.bm25(q, "and"), K))
    if run.tracer is not None:
        within = int((~commit.survivor[:COMMIT_DOCS - COMMIT_REPEATS]).sum())
        run.layer["segments.count"] = (len(live_segs), "count")
        run.layer["segments.dedup_dropped"] = (
            COMMIT_DOCS - (states[-1][0] - n_base) - within, "count")
        # bytes the commit wrote (its segment, then the merged one) per
        # byte of the appended segment
        run.layer["segments.write_amplification"] = (
            (appended_bytes + index_bytes) / appended_bytes, "ratio")
        _layers(run, base)


# --------------------------------------------------------------------------
# serve


def _stream(rng, pool, n):
    """n (kind, query) picks: the kind by SERVE_MIX, the query by a Zipf
    law over its pool, so popular queries repeat and the tail misses."""
    kinds = list(SERVE_MIX)
    pick_kind = rng.choice(len(kinds), size=n, p=list(SERVE_MIX.values()))
    cums = {k: np.cumsum(1.0 / np.arange(1, len(pool[k]) + 1) ** STREAM_ZIPF)
            for k in kinds}
    out = []
    for ki, u in zip(pick_kind, rng.random(n)):
        qs, c = pool[kinds[ki]], cums[kinds[ki]]
        j = min(int(np.searchsorted(c, u * c[-1])), len(qs) - 1)
        out.append((kinds[ki], qs[j]))
    return out


def _serve_call(searcher, kind):
    if kind == "or":
        return lambda q: searcher.topk(q, k=K, mode="or")
    if kind == "phrase":
        return lambda q: searcher.phrase_topk(q, k=K)
    if kind == "blended":
        return lambda q: searcher.blended_topk(q, k=K)
    return lambda q: searcher.topk(q, k=K)


def run_serve(run: Run):
    from searchengine_spark.index import pipeline, shards
    from searchengine_spark.query import scoring, serve_local

    run.start_spark()
    batch = gen.generate_batch(run.rng, run.vocab, SERVE_DOCS, "s")
    pool = run.queries(batch, SERVE_POOL)
    stream = _stream(run.rng, pool, 20 * SERVE_MIN_QUERIES)
    index_dir = run.path("index")
    run.spark_ready()
    df = run.frame(batch.rows)
    run.op()
    t = time.perf_counter()
    tables = pipeline.build_tables(run.spark, df, **NO_GRAPH)
    shards.write_index(run.spark, tables, index_dir)
    build_s = time.perf_counter() - t
    run.spark.catalog.clearCache()

    # the blended batch both gives batch_queries_per_s and is the expected
    # answer for blended_topk; its time stays out of setup_s
    run.op()
    t = time.perf_counter()
    rows = scoring.score_queries_ondisk(
        run.spark, list(enumerate(pool["blended"])),
        shards.load_index(run.spark, index_dir), k=K).collect()
    batch_s = time.perf_counter() - t
    run.excluded_s += batch_s
    blended_want = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        blended_want.setdefault(pool["blended"][r["qid"]], []).append(
            (r["docid"], r["score"]))
    run.stop_spark()

    rss0 = _rss_bytes()
    searcher = serve_local.LocalSearcher(index_dir)
    calls = {kind: _serve_call(searcher, kind) for kind in SERVE_MIX}
    for kind, q in stream[:SERVE_WARMUP]:
        calls[kind](q)
    run.setup_done()

    lat, seen = [], {}
    start = time.perf_counter()
    i = SERVE_WARMUP
    while (i < SERVE_WARMUP + SERVE_MIN_QUERIES
           or time.perf_counter() - start < run.seconds):
        kind, q = stream[i % len(stream)]
        res, dt = run.timed_query(calls[kind], q)
        lat.append(dt)
        seen.setdefault((kind, q), res)
        i += 1
    rss1 = _rss_bytes()
    reloads = [run.reload(searcher, force=True) for _ in range(REFRESHES)]
    run.attempted += i - SERVE_WARMUP + REFRESHES + 2
    run.metrics["query_ms_p50"] = (_percentile(lat, 50) * 1e3, "ms")
    run.metrics["query_ms_p99"] = (_percentile(lat, 99) * 1e3, "ms")
    run.metrics["serve_rss_mb"] = ((rss1 - rss0) / 2 ** 20, "MB")
    run.layer["refresh_ms"] = (statistics.median(reloads) * 1e3, "ms")
    run.metrics["build_docs_per_s"] = (SERVE_DOCS / build_s, "docs/s")
    run.metrics["ingest_docs_per_s"] = (SERVE_DOCS / build_s, "docs/s")
    run.metrics["index_bytes_per_doc"] = (
        _dir_bytes(index_dir) / int(batch.survivor.sum()), "B/doc")
    run.metrics["batch_queries_per_s"] = (
        len(pool["blended"]) / batch_s, "queries/s")

    refidx = run.reference_for(batch)
    _index_checks(run, _index_facts(index_dir), batch, refidx,
                  quality=False)
    sample = dict.fromkeys(CHECK_SAMPLE, 0)
    for (kind, q), res in seen.items():
        if res is None:
            continue
        if kind == "blended":
            run.check(f"blended {q!r}", ref.compare_ranked(
                _ranked(res), blended_want.get(q, []), K))
            continue
        if sample[kind] >= CHECK_SAMPLE[kind]:
            continue
        sample[kind] += 1
        if kind == "phrase":
            run.check(f"phrase {q!r}", ref.compare_exact(
                res, refidx.phrase(q, K)))
        else:
            mode = "or" if kind == "or" else "and"
            run.check(f"topk/{mode} {q!r}", ref.compare_ranked(
                _ranked(res), refidx.bm25(q, mode), K))
    if run.tracer is not None:
        _layer_index(run, index_dir, int(batch.survivor.sum()))
        _layers(run, batch)


WORKLOADS = {"build": run_build, "serve": run_serve}


# --------------------------------------------------------------------------
# per-layer figures (traced runs only)

PER_LAYER = {
    "text.analyze_docs_per_s": "docs/s",
    "text.simhash_docs_per_s": "docs/s",
    "pipeline.build_tables_s": "s",
    "pipeline.self_s": "s",
    "pipeline.survivors": "count",
    "graph.pagerank_s": "s",
    "graph.hits_s": "s",
    "graph.spark_jobs": "count",
    "shards.write_index_s": "s",
    "shards.postings_bytes": "B",
    "shards.docs_bytes": "B",
    "shards.termdict_bytes": "B",
    "shards.blocks": "count",
    "varbyte.bytes_per_posting": "B",
    "varbyte.decode_postings_per_s": "postings/s",
    "varbyte.decode_positions_per_s": "positions/s",
    "wand.plan_terms_s": "s",
    "wand.batch_s": "s",
    "serve.analyze_ms": "ms",
    "serve.kernel_ms": "ms",
    "serve.decode_ms": "ms",
    "serve.fetch_self_ms": "ms",
    "serve.term_cache_hit_ratio": "ratio",
    "wand.blocks_scored_ratio": "ratio",
    "serve.phrase_ms": "ms",
    "serve.blended_ms": "ms",
    "serve.load_s": "s",
    "refresh_ms": "ms",
    "segments.append_s": "s",
    "segments.merge_s": "s",
    "segments.write_amplification": "ratio",
    "segments.count": "count",
    "segments.dedup_dropped": "count",
}


def _layers(run, batch):
    """Every per-layer figure this run can give; the rest read 0."""
    _layer_text(run, batch)
    _layer_spans(run)
    for name, unit in PER_LAYER.items():
        run.layer.setdefault(name, (0, unit))


def _layer_text(run, batch):
    """The text layer's partition functions, run in-process over the
    corpus rows in Arrow (analyze) and pandas (simhash) batches."""
    import pandas as pd
    import pyarrow as pa

    from searchengine_spark.text.udfs import (
        make_analyze_partition_arrow,
        make_simhash_partition,
    )

    ids = [int(d) for d in batch.docids]
    texts = [r["content"] for r in batch.rows]
    step = 1000
    rbs = [pa.RecordBatch.from_arrays(
        [pa.array(ids[i:i + step], pa.int64()), pa.array(texts[i:i + step])],
        names=["docid", "content"]) for i in range(0, len(ids), step)]
    t = time.perf_counter()
    for _ in make_analyze_partition_arrow(stem=True)(iter(rbs)):
        pass
    run.layer["text.analyze_docs_per_s"] = (
        len(ids) / (time.perf_counter() - t), "docs/s")
    pdfs = [pd.DataFrame({"docid": ids[i:i + step],
                          "content": texts[i:i + step]})
            for i in range(0, len(ids), step)]
    t = time.perf_counter()
    for _ in make_simhash_partition(BUILD["simhash_bits"])(iter(pdfs)):
        pass
    run.layer["text.simhash_docs_per_s"] = (
        len(ids) / (time.perf_counter() - t), "docs/s")


def _layer_index(run, index_dir, n_surv):
    """Index make-up and decode_block_np speed over every block."""
    import pyarrow.parquet as pq

    from searchengine_spark.index.varbyte import decode_block_np

    run.layer["pipeline.survivors"] = (n_surv, "count")
    for part in ("postings", "docs", "termdict"):
        run.layer[f"shards.{part}_bytes"] = (
            _dir_bytes(os.path.join(index_dir, part)), "B")
    blocks = pq.read_table(os.path.join(index_dir, "postings"),
                           columns=["n", "payload"])
    payloads = blocks.column("payload").to_pylist()
    n_post = int(np.sum(blocks.column("n").to_numpy()))
    run.layer["shards.blocks"] = (blocks.num_rows, "count")
    run.layer["varbyte.bytes_per_posting"] = (
        sum(len(p) for p in payloads) / n_post, "B")
    decode = getattr(decode_block_np, "__wrapped__", decode_block_np)
    t = time.perf_counter()
    n = sum(decode(p, want_positions=False)[0].size for p in payloads)
    run.layer["varbyte.decode_postings_per_s"] = (
        n / (time.perf_counter() - t), "postings/s")
    t = time.perf_counter()
    n = sum(decode(p, want_positions=True)[3].size for p in payloads)
    run.layer["varbyte.decode_positions_per_s"] = (
        n / (time.perf_counter() - t), "positions/s")


def _layer_spans(run):
    tr = run.tracer
    st = tr.self_times()

    def total(name, field="total_s"):
        return st.get(name, {}).get(field, 0.0)

    def med_ms(xs):
        return statistics.median(xs) * 1e3 if xs else 0.0

    run.layer["pipeline.build_tables_s"] = (total("pipeline.build_tables"), "s")
    run.layer["pipeline.self_s"] = (
        total("pipeline.build_tables", "self_s"), "s")
    run.layer["graph.pagerank_s"] = (total("graph.pagerank"), "s")
    run.layer["graph.hits_s"] = (total("graph.hits"), "s")
    run.layer["graph.spark_jobs"] = (sum(
        s[6].get("spark_jobs", 0) for s in tr.spans
        if s[3] in ("graph.pagerank", "graph.hits")), "count")
    run.layer["shards.write_index_s"] = (total("shards.write_index"), "s")
    run.layer["wand.plan_terms_s"] = (total("wand.plan_terms"), "s")
    run.layer["wand.batch_s"] = (total("wand.wand_topk"), "s")
    run.layer["segments.append_s"] = (total("segments.append"), "s")
    run.layer["segments.merge_s"] = (total("segments.merge_run"), "s")

    analyze, kernel, decode, fetch_self = [], [], [], []
    lookups = misses = offered = scored = 0
    for sid, kids in tr.under("serve.topk").items():
        span = tr.spans[sid]
        a = sum(s[5] - s[4] for s in kids if s[3] == "serve.analyze")
        kn = sum(s[5] - s[4] for s in kids if s[3] == "serve.kernel")
        dc = sum(s[5] - s[4] for s in kids if s[3] == "varbyte.decode")
        analyze.append(a)
        kernel.append(kn)
        decode.append(dc)
        fetch_self.append(span[5] - span[4] - a - kn - dc)
        for s in kids:
            if s[3] == "serve.kernel":
                lookups += s[6]["terms"]
                offered += s[6]["offered"]
                scored += s[6]["scored"]
            elif s[3] == "serve.term_miss":
                misses += 1
    run.layer["serve.analyze_ms"] = (med_ms(analyze), "ms")
    run.layer["serve.kernel_ms"] = (med_ms(kernel), "ms")
    # most calls hit the LRU and decode nothing: the mean shows the misses
    run.layer["serve.decode_ms"] = (
        sum(decode) / len(decode) * 1e3 if decode else 0.0, "ms")
    run.layer["serve.fetch_self_ms"] = (med_ms(fetch_self), "ms")
    run.layer["serve.term_cache_hit_ratio"] = (
        1.0 - misses / lookups if lookups else 0.0, "ratio")
    run.layer["wand.blocks_scored_ratio"] = (
        scored / offered if offered else 0.0, "ratio")
    run.layer["serve.phrase_ms"] = (
        med_ms([s[5] - s[4] for s in tr.spans_named("serve.phrase")]), "ms")
    run.layer["serve.blended_ms"] = (
        med_ms([s[5] - s[4] for s in tr.spans_named("serve.blended")]), "ms")
    loads = [s[5] - s[4] for s in tr.spans_named("serve.load")]
    run.layer["serve.load_s"] = (
        statistics.median(loads) if loads else 0.0, "s")
