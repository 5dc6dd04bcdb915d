"""Spans around calls into the program's public functions.

A traced run patches the functions named in ``LAYER_FUNCTIONS`` (at every
module that binds them) with wrappers that record one span per call:
(trace id, span id, parent span id, name, start, end, attributes).  Spans
stay in memory and are written out when the run ends.  A layer's self time
is its spans' durations minus the time their direct child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict

# (module path, attribute, span name).  A function imported by name into
# another module is patched there too, since callers look it up there.
LAYER_FUNCTIONS = [
    ("searchengine_spark.index.pipeline", "build_tables", "pipeline.build_tables"),
    ("searchengine_spark.graph.pagerank", "pagerank_df", "graph.pagerank"),
    ("searchengine_spark.graph.hits", "hits_df", "graph.hits"),
    ("searchengine_spark.index.shards", "write_index", "shards.write_index"),
    ("searchengine_spark.index.segments", "write_index", "shards.write_index"),
    ("searchengine_spark.index.segments", "init_segmented", "segments.init"),
    ("searchengine_spark.index.segments", "append_segment", "segments.append"),
    ("searchengine_spark.index.segments", "maybe_merge", "segments.maybe_merge"),
    ("searchengine_spark.index.segments", "merge_run", "segments.merge_run"),
    ("searchengine_spark.query.wand", "wand_topk", "wand.wand_topk"),
    ("searchengine_spark.query.wand", "plan_terms", "wand.plan_terms"),
    ("searchengine_spark.query.scoring", "score_queries_ondisk",
     "scoring.score_queries_ondisk"),
    ("searchengine_spark.query.serve_local", "analyze_query", "serve.analyze"),
    ("searchengine_spark.query.serve_local", "bmw_range", "serve.kernel"),
    ("searchengine_spark.query.serve_local", "bmw_or_range", "serve.kernel"),
    ("searchengine_spark.query.serve_local", "term_bucket", "serve.term_miss"),
    ("searchengine_spark.index.varbyte", "decode_block_np", "varbyte.decode"),
    ("searchengine_spark.query.serve_local.LocalSearcher", "__init__", "serve.load"),
    ("searchengine_spark.query.serve_local.LocalSearcher", "topk", "serve.topk"),
    ("searchengine_spark.query.serve_local.LocalSearcher", "phrase_topk",
     "serve.phrase"),
    ("searchengine_spark.query.serve_local.LocalSearcher", "blended_topk",
     "serve.blended"),
    ("searchengine_spark.query.serve_local.LocalSearcher", "maybe_refresh",
     "serve.refresh"),
]


# spans that record the Spark jobs launched while they run (each count is a
# JVM round trip, too slow for the serving spans)
COUNT_JOBS = {"graph.pagerank", "graph.hits"}


def _resolve(path: str):
    import importlib

    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ModuleNotFoundError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ModuleNotFoundError(path)


class Tracer:
    def __init__(self, job_count=None):
        self.spans = []          # [trace, id, parent, name, t0, t1, attrs]
        self._stack = []
        self._trace = 0
        self._patched = []
        self._job_count = job_count  # callable: Spark jobs launched so far

    def new_operation(self) -> None:
        """Spans recorded from now on share a fresh trace id."""
        self._trace += 1

    def _wrap(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            attrs = {}
            span = [tracer._trace, len(tracer.spans),
                    tracer._stack[-1] if tracer._stack else -1,
                    name, 0.0, 0.0, attrs]
            tracer.spans.append(span)
            tracer._stack.append(span[1])
            jobs = (tracer._job_count() if tracer._job_count
                    and name in COUNT_JOBS else None)
            span[4] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                span[5] = time.perf_counter()
                tracer._stack.pop()
                if jobs is not None:
                    attrs["spark_jobs"] = tracer._job_count() - jobs
            if name == "serve.kernel":
                attrs["offered"] = sum(len(tb["blocks"]) for tb in args[0])
                attrs["terms"] = len(args[0])
                attrs["scored"] = int(out[1])
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for owner_path, attr, name in LAYER_FUNCTIONS:
            owner = _resolve(owner_path)
            # a module imported after another binding was patched holds
            # the wrapper already: wrap and restore the original
            orig = getattr(owner, attr)
            orig = getattr(orig, "__wrapped__", orig)
            setattr(owner, attr, self._wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def set_job_counter(self, job_count) -> None:
        self._job_count = job_count

    # -- reports ------------------------------------------------------------

    def self_times(self) -> dict:
        """name -> {"calls", "total_s", "self_s"}."""
        child = defaultdict(float)
        for s in self.spans:
            if s[2] >= 0:
                child[s[2]] += s[5] - s[4]
        out = {}
        for s in self.spans:
            d = out.setdefault(s[3], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s[5] - s[4]
            d["self_s"] += s[5] - s[4] - child[s[1]]
        return out

    def spans_named(self, name: str) -> list:
        return [s for s in self.spans if s[3] == name]

    def under(self, root_name: str) -> dict:
        """root span id -> every span nested (at any depth) under that
        outermost ``root_name`` span."""
        root_of = {}
        out = defaultdict(list)
        for s in self.spans:          # parents are recorded before children
            p = s[2]
            r = root_of.get(p, -1) if p >= 0 else -1
            if r < 0 and s[3] == root_name:
                root_of[s[1]] = s[1]
                continue
            root_of[s[1]] = r
            if r >= 0:
                out[r].append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for t, i, p, name, t0, t1, attrs in self.spans:
                f.write(json.dumps({"trace": t, "span": i, "parent": p,
                                    "name": name, "start": t0, "end": t1,
                                    **attrs}) + "\n")
