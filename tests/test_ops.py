"""Training-data ops: dedup family, vectors, multimodal, streaming."""

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# -- minhash / jaccard -----------------------------------------------------

@pytest.fixture(scope="session")
def tiny_docs(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),
        (2, base),                                   # exact text twin
        (3, base + " extraword"),                    # near-dup (J ≈ 0.95)
        (4, "completely different tokens entirely unrelated content "
            "nothing shared with the others at all in any way"),
        (5, "short doc"),                            # < 3 tokens → no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_pairs(tiny_docs):
    from searchengine_spark.ops.dedup import minhash_pairs

    pairs = {(r["a"], r["b"]) for r in minhash_pairs(tiny_docs).collect()}
    assert (1, 2) in pairs          # identical → all bands equal
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup shares bands
    assert all(4 not in p and 5 not in p for p in pairs)


def test_minhash_star_edges_skew_safe(spark, tiny_docs):
    """The scale path for LSH candidates (VERDICT r4 #1): per-bucket
    min-hub star edges must (a) yield the SAME drop set and the SAME
    connected components as the all-pairs form, and (b) stay LINEAR on
    a planted template cluster — 10⁴ near-identical docs in one LSH
    bucket emit exactly m−1 edges where minhash_pairs would emit
    m(m−1)/2 ≈ 5·10⁷ rows from that single key."""
    from searchengine_spark.ops.dedup import (
        dup_clusters,
        minhash_pairs,
        minhash_star_edges,
    )

    # -- equivalence on the mixed tiny corpus
    star = minhash_star_edges(tiny_docs)
    pairs = minhash_pairs(tiny_docs)
    star_rows = {(r["a"], r["b"]) for r in star.collect()}
    pair_rows = {(r["a"], r["b"]) for r in pairs.collect()}
    assert star_rows <= pair_rows and star_rows  # star ⊆ clique, nonempty
    # identical drop sets (the training_data_prep rule)
    assert ({b for _, b in star_rows} == {b for _, b in pair_rows})
    # identical connected components
    comp_s = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(star).collect()
    }
    comp_p = {
        r["doc_id"]: r["cluster_id"]
        for r in dup_clusters(pairs).collect()
    }
    assert comp_s == comp_p

    # -- planted 10⁴-member template bucket: row-count ceiling on the
    # candidate stage itself (the test_mass_delete plan-bound pattern)
    m = 10_000
    text = ("template boilerplate license header identical body "
            "repeated across every page of the site")
    tpl = spark.createDataFrame(
        [(i, text) for i in range(1, m + 1)], "doc_id long, text string"
    )
    edges = minhash_star_edges(tpl)
    n = edges.count()
    assert n == m - 1                      # linear, not m(m-1)/2
    hub = {r["a"] for r in edges.select("a").distinct().collect()}
    assert hub == {1}                      # min-hub star


def test_embedding_star_edges_matches_allpairs_candidates(spark):
    """The embedding-side star edges must yield the same components
    and drop set as the all-pairs sign-LSH candidate relation (the
    minhash_star_edges equivalence, on the vectors table)."""
    from searchengine_spark.ops.dedup import dup_clusters
    from searchengine_spark.ops.vectors import (
        embedding_star_edges,
        lsh_band_keys,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    bands = lsh_band_keys(emb, 4, 8).select("vec_id", "band", "key")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a"),
                F.col("b.vec_id").alias("b"))
        .distinct()
    )
    star = embedding_star_edges(spark, SF, 4, 8)
    p_rows = {(r["a"], r["b"]) for r in pairs.collect()}
    s_rows = {(r["a"], r["b"]) for r in star.collect()}
    assert s_rows <= p_rows and s_rows
    assert {y for _, y in s_rows} == {y for _, y in p_rows}  # drop set
    comp_p = {r["doc_id"]: r["cluster_id"]
              for r in dup_clusters(pairs).collect()}
    comp_s = {r["doc_id"]: r["cluster_id"]
              for r in dup_clusters(star).collect()}
    assert comp_p == comp_s and comp_p


def test_jaccard_exact_values(tiny_docs):
    from searchengine_spark.ops.dedup import doc_shingles, jaccard_pairs

    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_pairs(tiny_docs, threshold=0.0).collect()
    }
    sh = {
        d: set()
        for d in (1, 2, 3, 4)
    }
    for r in doc_shingles(tiny_docs).collect():
        sh.setdefault(r["doc_id"], set()).add(r["shingle"])
    for (a, b), j in got.items():
        expect = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        assert math.isclose(j, round(expect, 6), abs_tol=1e-9)
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] < 1.0


def test_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle shared by every doc must not create an
    all-pairs key: with the cap it is dropped from the shingle sets, and
    Jaccard over the remaining sets matches a hand computation."""
    from searchengine_spark.ops.dedup import doc_shingles, jaccard_pairs

    boiler = "copyright license header text "  # 4 tokens → hot shingles
    rows = [
        (i, boiler + f"unique{i} tokens{i} here{i} now{i}")
        for i in range(1, 9)
    ] + [(9, boiler + "unique1 tokens1 here1 extra9")]  # near-dups with 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = jaccard_pairs(docs, threshold=0.0, max_shingle_df=4,
                           log_dropped=True)
    got = {(r["a"], r["b"]): r["jaccard"] for r in capped.collect()}

    # hand-compute over shingle sets with df>4 shingles removed
    sh = {}
    for r in doc_shingles(docs).collect():
        sh.setdefault(r["doc_id"], set()).add(r["shingle"])
    from collections import Counter
    dfc = Counter(s for v in sh.values() for s in v)
    sh = {d: {s for s in v if dfc[s] <= 4} for d, v in sh.items()}
    expect = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] & sh[b]:
                expect[(a, b)] = round(
                    len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6
                )
    assert got == expect
    # the bound: candidate pairs collapse from C(9,2)=36 (everything
    # shares the boilerplate shingle) to only genuinely-similar pairs
    assert len(got) < 36 and (1, 9) in got


def test_dup_clusters_transitive_closure(spark):
    """A~B and B~C must land A, B, C in ONE cluster even without an
    A~C pair (the reason pairs alone can't drive survivorship), and
    disconnected pairs must stay separate clusters."""
    from searchengine_spark.ops.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4), (4, 5)], "a long, b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dup_clusters(pairs).collect()
    }
    assert got == {
        1: (1, 5), 2: (1, 5), 3: (1, 5), 4: (1, 5), 5: (1, 5),
        10: (10, 2), 11: (10, 2),
    }


def test_dup_clusters_long_chain_converges(spark):
    """Pointer jumping must collapse an adversarial 120-node CHAIN
    (diameter 119 — plain propagation would need 119 rounds) well
    inside the round budget."""
    from searchengine_spark.ops.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 120)], "a long, b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dup_clusters(pairs, max_iters=15).collect()
    }
    assert got == {i: (1, 120) for i in range(1, 121)}


def test_dup_clusters_on_jaccard_pairs(tiny_docs):
    """End-to-end over the real pair producer: the planted twins (1, 2)
    and near-dup 3 form one cluster; 4 and 5 are not clustered at all
    (singletons are absent by contract)."""
    from searchengine_spark.ops.dedup import dup_clusters, jaccard_pairs

    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in dup_clusters(
            jaccard_pairs(tiny_docs, threshold=0.5)
        ).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3)}


def test_hybrid_rrf_matches_recomputation(spark):
    """RRF fusion must equal a pandas recomputation from the two
    constituent rankings (depth-cut, 1/(60+rank), absent = 0)."""
    from searchengine_spark.ops.textops import (
        _bm25_scored, _cosine_scored, hybrid_rrf_topk,
    )

    terms = ("spark", "query", "join")
    depth, k = 50, 10
    lex = sorted(
        ((r["doc_id"], r["score"])
         for r in _bm25_scored(spark, SF, terms).collect()),
        key=lambda ds: (-ds[1], ds[0]),
    )[:depth]
    vec = sorted(
        ((r["vec_id"], r["cosine"])
         for r in _cosine_scored(spark, SF, 0).collect()),
        key=lambda ds: (-ds[1], ds[0]),
    )[:depth]
    lex_rank = {d: i + 1 for i, (d, _) in enumerate(lex)}
    vec_rank = {d: i + 1 for i, (d, _) in enumerate(vec)}
    want = []
    for d in set(lex_rank) | set(vec_rank):
        rrf = (1.0 / (60 + lex_rank[d]) if d in lex_rank else 0.0) + (
            1.0 / (60 + vec_rank[d]) if d in vec_rank else 0.0
        )
        want.append(
            (d, lex_rank.get(d, 0), vec_rank.get(d, 0), round(rrf, 6))
        )
    want.sort(key=lambda t: (-t[3], t[0]))
    got = [
        (r["doc_id"], r["bm25_rank"], r["cos_rank"], r["rrf_score"])
        for r in hybrid_rrf_topk(
            spark, SF, terms=terms, depth=depth, k=k
        ).collect()
    ]
    assert got == want[:k] and len(got) == k


def test_ivf_persisted_identical_and_pruned(spark, tmp_path):
    """The persisted IVF index must (a) return EXACTLY the per-query
    trained path's ranking and (b) physically read only the probed
    cells — cid is a partition column, so the probe filter must show
    up as PartitionFilters in the scan."""
    from searchengine_spark.ops.vectors import (
        NPROBE, ann_ivf_kmeans_topk, build_ivf_index, ivf_topk_ondisk,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    d = str(tmp_path / "ivf")
    build_ivf_index(spark, emb, d)
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    served = ivf_topk_ondisk(spark, d, qv, k=10, exclude_vec_id=0)
    trained = ann_ivf_kmeans_topk(spark, SF, query_vec_id=0, k=10)
    assert [(r["vec_id"], r["cosine"]) for r in served.collect()] == [
        (r["vec_id"], r["cosine"]) for r in trained.collect()
    ]
    plan = served._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [cid" in plan, plan
    assert plan.count("IN (") >= 1 or "isin" in plan.lower(), plan
    # and the filter actually prunes: nprobe cells out of all built
    import os

    n_cells = len(
        [p for p in os.listdir(os.path.join(d, "cells"))
         if p.startswith("cid=")]
    )
    assert n_cells > NPROBE


def test_ivf_append_identity_pruning_and_crash_safety(spark, tmp_path):
    """append_ivf must change WHEN vectors were added, never the answer:
    build on evens + append odds == one quantizer pass over the union
    with the same centroids; probe pruning survives the generation
    union; an uncommitted generation (crashed append) is invisible and
    reclaimed by the next append."""
    import os

    from pyspark.sql import functions as F

    from searchengine_spark.ops.vectors import (
        _assign_cells,
        append_ivf,
        build_ivf_index,
        ivf_topk_ondisk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    odds = emb.filter(F.col("vec_id") % 2 == 1)

    d1 = str(tmp_path / "ivf_seg")
    build_ivf_index(spark, evens, d1)
    assert append_ivf(spark, odds, d1) == "cells_g1"

    # monolithic twin: same centroids, one assignment pass over the union
    d2 = str(tmp_path / "ivf_mono")
    cent_df = spark.read.parquet(os.path.join(d1, "centroids.parquet"))
    _assign_cells(emb, cent_df).write.partitionBy("cid").parquet(
        os.path.join(d2, "cells")
    )
    cent_df.write.parquet(os.path.join(d2, "centroids.parquet"))

    qvs = [r["embedding"] for r in
           emb.filter(F.col("vec_id").isin([0, 3, 7])).orderBy(
               "vec_id").collect()]
    for qv in qvs:
        a = [(r["vec_id"], r["cosine"]) for r in
             ivf_topk_ondisk(spark, d1, qv, k=10).collect()]
        b = [(r["vec_id"], r["cosine"]) for r in
             ivf_topk_ondisk(spark, d2, qv, k=10).collect()]
        assert a == b and len(a) == 10

    # pruning survives the union: BOTH generation scans carry the
    # partition filter
    served = ivf_topk_ondisk(spark, d1, qvs[0], k=10)
    plan = served._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count("PartitionFilters: [cid") >= 2, plan

    # crash safety: an orphan generation dir (no manifest commit) is
    # never served, and the next append overwrites it
    orphan = os.path.join(d1, "cells_g2")
    _assign_cells(
        emb.filter(F.col("vec_id") == 0).withColumn(
            "vec_id", F.lit(999_999)
        ),
        cent_df,
    ).write.partitionBy("cid").parquet(orphan)
    before = [(r["vec_id"], r["cosine"]) for r in
              ivf_topk_ondisk(spark, d1, qvs[0], k=10).collect()]
    assert 999_999 not in [v for v, _ in before]
    assert append_ivf(
        spark,
        emb.filter(F.col("vec_id") == 1).withColumn(
            "vec_id", F.lit(888_888)
        ),
        d1,
    ) == "cells_g2"
    # the committed copy is an exact duplicate of vec 1: querying with
    # vec 1's embedding must surface it (cosine 1.0 tops its own cell,
    # which is the first probe); the orphan's fake vector was
    # physically overwritten by the commit and must never appear
    qv1 = emb.filter(F.col("vec_id") == 1).first()["embedding"]
    got = {r["vec_id"]
           for r in ivf_topk_ondisk(spark, d1, qv1, k=10).collect()}
    assert 888_888 in got
    assert 999_999 not in got

    # appending to an incomplete index (no centroids) must refuse
    d3 = str(tmp_path / "ivf_crashed")
    os.makedirs(os.path.join(d3, "cells"), exist_ok=True)
    import pytest

    with pytest.raises(ValueError):
        append_ivf(spark, odds, d3)


def test_ivf_delete_and_compact(spark, tmp_path):
    """delete_vectors tombstones without rewriting cells; compact_ivf
    rewrites survivors into one base and drops the old dirs — and
    neither changes any SURVIVING answer.  A second delete+compact
    cycle must pick a fresh base name (no overwrite of the dir being
    read)."""
    import os

    from pyspark.sql import functions as F

    from searchengine_spark.ops.vectors import (
        _ivf_manifest,
        append_ivf,
        build_ivf_index,
        compact_ivf,
        delete_vectors,
        ivf_topk_ondisk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    d = str(tmp_path / "ivf_maint")
    build_ivf_index(spark, emb.filter(F.col("vec_id") % 2 == 0), d)
    append_ivf(spark, emb.filter(F.col("vec_id") % 2 == 1), d)

    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    base100 = [(r["vec_id"], r["cosine"]) for r in
               ivf_topk_ondisk(spark, d, qv, k=100,
                               exclude_vec_id=0).collect()]

    # tombstone the current top-3: survivors keep their exact order
    dead = [v for v, _ in base100[:3]]
    delete_vectors(spark, d, dead)
    want = [vc for vc in base100 if vc[0] not in dead][:10]
    got = [(r["vec_id"], r["cosine"]) for r in
           ivf_topk_ondisk(spark, d, qv, k=10, exclude_vec_id=0).collect()]
    assert got == want

    # an uncommitted tombstone dir (crashed delete) is invisible
    spark.createDataFrame(
        [(want[0][0],)], "vec_id long"
    ).write.parquet(os.path.join(d, "tombs_t2"))
    still = [(r["vec_id"], r["cosine"]) for r in
             ivf_topk_ondisk(spark, d, qv, k=10, exclude_vec_id=0).collect()]
    assert still == want

    # compact: same answers, one base dir; the REPLACED dirs stay on
    # disk for one compaction interval (deferred GC — replicas holding
    # the previous manifest keep serving), listed under manifest "gc"
    newbase = compact_ivf(spark, d)
    m = _ivf_manifest(d)
    assert m["base"] == newbase and m["generations"] == [] \
        and m["tombstones"] == []
    assert sorted(m["gc"]) == ["cells", "cells_g1", "tombs_t1"]
    assert os.path.exists(os.path.join(d, "cells"))
    assert os.path.exists(os.path.join(d, "cells_g1"))
    # never-committed orphans ARE GC'd immediately (no reader can
    # reference them)
    assert not os.path.exists(os.path.join(d, "tombs_t2"))
    after = [(r["vec_id"], r["cosine"]) for r in
             ivf_topk_ondisk(spark, d, qv, k=10, exclude_vec_id=0).collect()]
    assert after == want
    plan = ivf_topk_ondisk(
        spark, d, qv, k=10
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [cid" in plan, plan

    # second cycle: the new base must not collide with the current one
    # NOR with the deferred-gc dirs still on disk; the first compact's
    # leftovers are GC'd now (their grace interval is over)
    dead2 = [want[0][0]]
    delete_vectors(spark, d, dead2)
    newbase2 = compact_ivf(spark, d)
    assert newbase2 != newbase
    assert newbase2 not in ("cells", "cells_g1")
    assert not os.path.exists(os.path.join(d, "cells"))
    assert not os.path.exists(os.path.join(d, "cells_g1"))
    assert not os.path.exists(os.path.join(d, "tombs_t1"))
    assert os.path.exists(os.path.join(d, newbase))  # deferred one cycle
    want2 = [vc for vc in want if vc[0] not in dead2]
    got2 = [(r["vec_id"], r["cosine"]) for r in
            ivf_topk_ondisk(spark, d, qv, k=9, exclude_vec_id=0).collect()]
    assert got2 == want2[:9]


def test_ivf_rebuild_in_place_resets_maintenance(spark, tmp_path):
    """build_ivf_index over an already-maintained index dir must RESET
    the maintenance state: the stale manifest's base/generations/
    tombstones must not survive to serve pre-rebuild data, and the
    rebuilt index must answer exactly like a fresh build in an empty
    dir — while the committed batch-tag history is preserved (a
    replayed stream micro-batch whose rows the rebuild consumed must
    still no-op)."""
    import os

    from pyspark.sql import functions as F

    from searchengine_spark.ops.vectors import (
        _ivf_manifest,
        append_ivf,
        build_ivf_index,
        delete_vectors,
        ivf_topk_ondisk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    evens = emb.filter(F.col("vec_id") % 2 == 0)
    d = str(tmp_path / "ivf_rebuild")
    build_ivf_index(spark, evens, d)
    append_ivf(spark, emb.filter(F.col("vec_id") % 2 == 1), d,
               batch_tag="stream:x:0")
    delete_vectors(spark, d, [2, 4])

    # retrain in place on the evens only (e.g. after a curation pass)
    build_ivf_index(spark, evens, d)
    m = _ivf_manifest(d)
    assert m["base"] == "cells" and m["generations"] == [] \
        and m["tombstones"] == []
    assert m["batches"] == ["stream:x:0"]  # replay guard survives
    assert not os.path.exists(os.path.join(d, "cells_g1"))
    assert not os.path.exists(os.path.join(d, "tombs_t1"))

    # answers == a fresh build in an empty dir (no stale generations:
    # odd vectors gone, tombstoned evens resurrected by the rebuild)
    d2 = str(tmp_path / "ivf_fresh")
    build_ivf_index(spark, evens, d2)
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    a = [(r["vec_id"], r["cosine"]) for r in
         ivf_topk_ondisk(spark, d, qv, k=10).collect()]
    b = [(r["vec_id"], r["cosine"]) for r in
         ivf_topk_ondisk(spark, d2, qv, k=10).collect()]
    assert a == b and len(a) == 10
    assert all(v % 2 == 0 for v, _ in a)
    # the already-committed tag no-ops against the rebuilt index
    assert append_ivf(spark, emb.limit(3), d,
                      batch_tag="stream:x:0") is None


def test_ivf_empty_append_and_compact_to_empty(spark, tmp_path):
    """Empty maintenance inputs must never poison the index: an empty
    append commits its batch_tag only (idempotence without a schema-
    less generation dir), and compacting a fully-tombstoned index
    leaves a readable empty base that later appends grow again."""
    from pyspark.sql import functions as F

    from searchengine_spark.ops.vectors import (
        _ivf_manifest,
        append_ivf,
        build_ivf_index,
        compact_ivf,
        delete_vectors,
        ivf_topk_ondisk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    some = emb.filter(F.col("vec_id") < 8)
    d = str(tmp_path / "ivf_empty")
    build_ivf_index(spark, some, d)
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    # empty tagged append: no generation, tag committed, index readable
    empty = some.filter(F.col("vec_id") < 0)
    assert append_ivf(spark, empty, d, batch_tag="s:0") is None
    m = _ivf_manifest(d)
    assert m["generations"] == [] and m["batches"] == ["s:0"]
    assert len(ivf_topk_ondisk(spark, d, qv, k=8).collect()) == 8
    # replay of the empty batch still no-ops; untagged empty is a no-op
    assert append_ivf(spark, some, d, batch_tag="s:0") is None
    assert append_ivf(spark, empty, d) is None
    assert _ivf_manifest(d) == m

    # tombstone everything, compact: empty but readable and servable
    delete_vectors(spark, d, list(range(8)))
    compact_ivf(spark, d)
    assert ivf_topk_ondisk(spark, d, qv, k=8).collect() == []

    # the index is not dead: a later append serves again
    append_ivf(spark, emb.filter(F.col("vec_id").isin([10, 11])), d)
    got = {r["vec_id"]
           for r in ivf_topk_ondisk(spark, d, qv, k=8).collect()}
    assert got == {10, 11}


def test_bm25_snippets_match_python_recomputation(spark):
    """Snippets must equal a direct Python recomputation: 80 chars of
    the original text from max(1, strpos(lower(text), rarest) - 40)."""
    from searchengine_spark.ops.textops import (
        bm25_snippets, bm25_topk, documents, term_tf,
    )
    from pyspark.sql import functions as F

    terms = ("spark", "query", "join")
    dft = {
        r["term"]: r["df"]
        for r in term_tf(spark, SF)
        .filter(F.col("term").isin(list(terms)))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    rare = min(terms, key=lambda t: (dft[t], t))
    top = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(spark, SF, terms=terms, k=10).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in documents(spark, SF)
        .filter(F.col("doc_id").isin(list(top)))
        .collect()
    }
    got = {
        r["doc_id"]: (r["score"], r["snippet"])
        for r in bm25_snippets(spark, SF, terms=terms, k=10).collect()
    }
    assert set(got) == set(top)
    for d_, text in texts.items():
        p = text.lower().find(rare) + 1  # 1-based, match guaranteed
        start = max(1, p - 40)
        want = text[start - 1:start - 1 + 80]
        assert got[d_] == (top[d_], want), d_


def test_phrase_match_indexed_equals_text_derived(spark):
    """The index's stored positions payload, served end-to-end: the
    index-backed phrase operator must reproduce the text-derived one
    for every probed phrase (incl. 3-term and absent phrases)."""
    from searchengine_spark.ops.textops import (
        phrase_match,
        phrase_match_indexed,
    )

    for phrase in [("table", "hash"), ("hash", "table", "scan"),
                   ("zzzqx", "table")]:
        a = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in phrase_match(spark, SF, phrase=phrase, k=50).collect()
        )
        b = sorted(
            (r["doc_id"], r["n_occurrences"])
            for r in phrase_match_indexed(
                spark, SF, phrase=phrase, k=50
            ).collect()
        )
        assert a == b, phrase
    assert len(a) == 0  # absent-term phrase → empty both ways


def test_min_pair_distance_kernel_matches_brute_force():
    """Merge-scan min |pa−pb| == brute-force min over all pairs —
    including tf≈10³ arrays where the brute pair set is 10⁶ rows (the
    blowup the kernel exists to avoid)."""
    import random

    import pandas as pd

    from searchengine_spark.ops.textops import min_pair_distance_udf

    # exercise the wrapped pandas function directly
    fn = min_pair_distance_udf().func
    rng = random.Random(3)
    cases = []
    for m, n in [(1, 1), (3, 5), (50, 7), (1000, 1000), (1, 1000)]:
        a = sorted(rng.sample(range(1, 50_000), m))
        b = sorted(rng.sample(range(1, 50_000), n))
        cases.append((a, b))
    got = fn(
        pd.Series([c[0] for c in cases]), pd.Series([c[1] for c in cases])
    )
    for g, (a, b) in zip(got, cases):
        brute = min(abs(x - y) for x in a for y in b)
        assert int(g) == brute


def test_proximity_plan_has_no_position_explode(spark):
    """proximity_topk must join the two posting rows per doc and scan
    the position arrays — never explode positions into pair rows (a
    tf-heavy doc would make tf_a×tf_b rows)."""
    from searchengine_spark.ops.textops import proximity_topk

    df = proximity_topk(spark, SF)
    plan = df._jdf.queryExecution().toString().lower()
    assert "explode(positions" not in plan and "posexplode" not in plan
    assert df.count() > 0
    with pytest.raises(ValueError):
        proximity_topk(spark, SF, terms=("one", "two", "three"))
    with pytest.raises(ValueError):
        proximity_topk(spark, SF, terms=("same", "same"))


def test_min_cover_window_kernel_matches_brute_force(spark):
    """Anchor-searchsorted minimal cover == brute-force min over the
    full cartesian product of one position per term (small arrays),
    plus a tf≈10³ 4-term case checked against an independent pure-
    Python anchor recompute (the product there would be 10¹² tuples —
    the blowup the kernel exists to avoid)."""
    import itertools
    import random

    import pandas as pd

    from searchengine_spark.ops.textops import min_cover_window_udf

    fn = min_cover_window_udf().func
    rng = random.Random(7)
    small = []
    for sizes in [(1, 1), (3, 5), (4, 4, 4), (2, 7, 3), (5, 2, 6, 3)]:
        small.append(
            tuple(sorted(rng.sample(range(1, 300), m)) for m in sizes)
        )
    for arrs in small:
        got = int(fn(*[pd.Series([list(a)]) for a in arrs]).iloc[0])
        brute = min(
            max(c) - min(c) + 1 for c in itertools.product(*arrs)
        )
        assert got == brute, arrs

    big = tuple(
        sorted(rng.sample(range(1, 100_000), 1000)) for _ in range(4)
    )
    got = int(fn(*[pd.Series([list(a)]) for a in big]).iloc[0])
    best = None
    union = sorted(set().union(*big))
    for p in union:
        nxts = []
        ok = True
        for a in big:
            nxt = next((x for x in a if x >= p), None)
            if nxt is None:
                ok = False
                break
            nxts.append(nxt)
        if ok:
            w = max(nxts) - p + 1
            best = w if best is None else min(best, w)
    assert got == best


def test_span_near_matches_python_and_has_no_explode(spark):
    """span_near_topk's min_win recomputed from the raw text in pure
    Python for every returned doc; the plan joins posting rows (never
    explodes positions); degenerate term lists raise."""
    import re as _re

    from searchengine_spark.ops.textops import (
        SPAN_NEAR_TERMS,
        span_near_topk,
    )

    df = span_near_topk(spark, SF, k=25)
    plan = df._jdf.queryExecution().toString().lower()
    assert "explode(positions" not in plan and "posexplode" not in plan
    rows = df.collect()
    assert len(rows) == 25
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    tok = _re.compile(r"[a-z0-9]+")
    prev = None
    for r in rows:
        toks = tok.findall(docs[r["doc_id"]].lower())
        pos = {t: [] for t in SPAN_NEAR_TERMS}
        for i, t in enumerate(toks, start=1):
            if t in pos:
                pos[t].append(i)
        assert all(pos[t] for t in SPAN_NEAR_TERMS)  # conjunctive
        best = None
        anchors = sorted(p for ps in pos.values() for p in ps)
        for p in anchors:
            nxts = [
                next((x for x in ps if x >= p), None)
                for ps in pos.values()
            ]
            if all(x is not None for x in nxts):
                w = max(nxts) - p + 1
                best = w if best is None else min(best, w)
        assert r["min_win"] == best
        assert r["min_win"] >= len(SPAN_NEAR_TERMS)
        if prev is not None:  # rank order (score desc, doc_id asc)
            assert (-prev["score"], prev["doc_id"]) < (
                -r["score"], r["doc_id"]
            )
        prev = r
    with pytest.raises(ValueError):
        span_near_topk(spark, SF, terms=("solo",))
    with pytest.raises(ValueError):
        span_near_topk(spark, SF, terms=("dup", "dup", "key"))


# -- vectors ---------------------------------------------------------------

def test_neardup_lsh_subset_and_recall(spark):
    """LSH-blocked near-dup must be a subset of the exhaustive all-pairs
    result with high recall (deterministic: fixed Rademacher planes)."""
    from searchengine_spark.ops.vectors import (
        embedding_neardup,
        embedding_neardup_lsh,
    )

    brute = {
        (r["a"], r["b"]): r["cosine"]
        for r in embedding_neardup(spark, SF).collect()
    }
    lsh = {
        (r["a"], r["b"]): r["cosine"]
        for r in embedding_neardup_lsh(spark, SF).collect()
    }
    assert set(lsh) <= set(brute)
    for p, c in lsh.items():
        assert c == brute[p]  # exact cosine, not an approximation
    assert len(brute) > 0
    recall = len(lsh) / len(brute)
    assert recall >= 0.85, f"recall {recall:.3f} ({len(lsh)}/{len(brute)})"


def test_ivf_kmeans_recall(spark):
    """Trained-quantizer IVF: genuine cosines (correctly ordered) with
    high recall@10 vs brute force.  Deterministic (fixed init/iters/
    rounding), so the floor is pinned below the observed value; recall
    is not asserted to dominate the stride quantizer — with nprobe=3 on
    near-random vectors the two trade individual neighbors."""
    from searchengine_spark.ops.textops import ann_cosine_topk
    from searchengine_spark.ops.vectors import ann_ivf_kmeans_topk

    brute = [r["vec_id"] for r in ann_cosine_topk(spark, SF, k=10).collect()]
    rows = ann_ivf_kmeans_topk(spark, SF, k=10).collect()
    trained = [r["vec_id"] for r in rows]
    cos = [r["cosine"] for r in rows]
    assert cos == sorted(cos, reverse=True)
    r_trained = len(set(trained) & set(brute))
    assert r_trained >= 6, r_trained


def test_ivf_is_subset_of_brute_force_ranking(spark):
    """IVF results must be genuine cosines (a subset of the exhaustive
    ranking, correctly ordered) and achieve nonzero recall@10."""
    from searchengine_spark.ops.textops import ann_cosine_topk
    from searchengine_spark.ops.vectors import ann_ivf_topk

    brute = [r["vec_id"] for r in ann_cosine_topk(spark, SF, k=10).collect()]
    ivf_rows = ann_ivf_topk(spark, SF, k=10).collect()
    ivf = [r["vec_id"] for r in ivf_rows]
    cos = [r["cosine"] for r in ivf_rows]
    assert cos == sorted(cos, reverse=True)
    assert len(set(ivf) & set(brute)) >= 3  # recall >= 0.3 on this data


def test_ann_sq8_recall_and_edge_cases(spark, tmp_path):
    """SQ8 top-k against the exact brute-force ranking: with 256 bins
    per dimension the quantization error is ~1e-3 in cosine, so
    recall@10 must stay high; every reported approx score sits close
    to its exact cosine.  A constant (zero-width) dimension must pin
    code 0 / recon lo instead of dividing by zero."""
    from searchengine_spark.ops.textops import ann_cosine_topk
    from searchengine_spark.ops.vectors import ann_sq8_topk

    sf = "/root/testdata/sf0.001"
    exact = [r["vec_id"] for r in ann_cosine_topk(spark, sf).collect()]
    got = ann_sq8_topk(spark, sf).collect()
    sq_ids = [r["vec_id"] for r in got]
    assert len(set(sq_ids) & set(exact)) >= 8
    for r in got:
        assert abs(r["approx"] - r["cosine"]) < 0.01

    # zero-width dimension: every vector shares dim-1 value 7.0
    import pandas as pd

    rows = [(i, [7.0] + [float((i * 7 + j) % 5 - 2) for j in range(3)])
            for i in range(6)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as float)) AS embedding"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = ann_sq8_topk(spark, str(tmp_path), k=5).collect()
    assert len(out) == 5          # no division-by-zero NULLs dropped rows
    assert all(r["cosine"] is not None and r["approx"] is not None
               for r in out)


def test_ann_recall_consistent_with_single_query_ops(spark):
    """ann_recall's per-query overlap must equal intersecting the
    existing single-query entries (ann_ivf_topk vs ann_cosine_topk)."""
    from searchengine_spark.ops.textops import ann_cosine_topk
    from searchengine_spark.ops.vectors import ann_ivf_topk, ann_recall

    sf = "/root/testdata/sf0.001"
    rows = {
        r["query_vec_id"]: r for r in ann_recall(spark, sf).collect()
    }
    assert len(rows) == 20  # 500 vectors, every 25th is a query
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows.values())
    for qid in (0, 100):
        ivf = {
            r["vec_id"]
            for r in ann_ivf_topk(spark, sf, query_vec_id=qid).collect()
        }
        exact = {
            r["vec_id"]
            for r in ann_cosine_topk(spark, sf, query_vec_id=qid).collect()
        }
        assert rows[qid]["n_hits"] == len(ivf & exact)
        assert rows[qid]["recall"] == round(len(ivf & exact) / 10, 6)


def test_pagerank_dupgraph_matches_python(spark):
    """Serial PageRank over the same pair graph, 5 pinned iterations —
    recomputes ops/dedup.pagerank_dupgraph (and thereby the G1 loop)
    independently of both Spark and the SQL oracle."""
    from collections import defaultdict

    from searchengine_spark.ops.dedup import jaccard_pairs, pagerank_dupgraph
    from searchengine_spark.params import PR_DAMPING

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r["pr"] for r in pagerank_dupgraph(docs).collect()}

    nbrs = defaultdict(set)
    for r in jaccard_pairs(docs, threshold=0.5).collect():
        nbrs[r["a"]].add(r["b"])
        nbrs[r["b"]].add(r["a"])
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    rank = {i: 1.0 / len(ids) for i in ids}
    for _ in range(5):
        contrib = defaultdict(float)
        for u, vs in nbrs.items():
            share = rank[u] / len(vs)
            for v in vs:
                contrib[v] += share
        # per-iteration 6dp rounding — the cross-engine float contract
        # (pagerank_df round_to=6 / the oracle's round() per rK stage)
        rank = {
            i: round(
                (1.0 - PR_DAMPING) + PR_DAMPING * contrib.get(i, 0.0), 6
            )
            for i in ids
        }
    assert set(got) == set(ids)
    # the graph must differentiate: some doc above the teleport floor
    assert max(got.values()) > round(1.0 - PR_DAMPING, 6)
    for i in ids:
        assert abs(got[i] - rank[i]) <= 1e-6


# -- multimodal ------------------------------------------------------------

def test_media_pipeline_deterministic(spark):
    from searchengine_spark.ops.multimodal import (
        extract_features,
        fake_features,
        frame_sample,
        synth_media,
    )

    docs = spark.createDataFrame(
        [(1, "hello world", "python"), (2, "bye", "md")],
        "doc_id long, text string, lang string",
    )
    media = synth_media(docs)
    rows = {r["id"]: r for r in media.collect()}
    assert bytes(rows[1]["media"]) == b"hello world"
    assert rows[1]["media_type"] == "text/x-python"
    assert rows[1]["meta"]["duration_ms"] == 110

    feats = {r["id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 11
    expect = fake_features(b"hello world")
    got = list(feats[1]["features"])
    assert all(abs(a - b) < 1e-6 for a, b in zip(got, expect))
    assert all(0.0 <= x < 1.0 for x in got)

    frames = frame_sample(media, every_ms=50).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["id"], []).append((r["frame_idx"], r["t_ms"]))
    assert len(by_id[1]) == 2  # 110ms at 50ms → 2 frames
    assert by_id[1] == [(0, 0), (1, 50)]


def test_media_driver_entries_match_python(spark):
    """media_features / media_frames (the driver-entry forms): float32
    slice arithmetic and frame counts vs a serial recomputation."""
    import hashlib
    import struct

    import numpy as np

    from searchengine_spark.ops.multimodal import (
        media_features,
        media_frames,
    )

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }

    feats = {r["doc_id"]: r for r in media_features(spark, sf).collect()}
    assert set(feats) == set(docs)
    for doc_id, text in docs.items():
        data = text.encode()
        h = hashlib.sha256(data).digest()
        assert feats[doc_id]["n_bytes"] == len(data)
        for i in range(8):
            v = struct.unpack(">I", h[4 * i : 4 * i + 4])[0] / 2**32
            # the array<float> schema stores float32; widening is exact
            assert feats[doc_id][f"f{i}"] == float(np.float32(v))

    frames = media_frames(spark, sf).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["doc_id"], []).append((r["frame_idx"], r["t_ms"]))
    for doc_id, text in docs.items():
        nf = max(1, (len(text.encode()) * 10) // 1000)
        assert sorted(by_id[doc_id]) == [
            (i, i * 1000) for i in range(nf)
        ]


def test_real_decode_is_gated():
    from searchengine_spark.ops import multimodal as M

    if not M._HAVE_PIL:
        with pytest.raises(NotImplementedError):
            M.real_decode_image(b"\x89PNG")


# -- streaming -------------------------------------------------------------

def test_streaming_incremental_ivf(spark, tmp_path):
    """Streamed embedding files must land as committed IVF generations,
    exactly-once across an availableNow restart, and serve rankings
    identical to one quantizer pass over the union — plus the
    batch_tag no-op guards the manifest-committed/checkpoint-uncommitted
    replay window, and the tag history survives compaction."""
    import os

    from pyspark.sql import functions as F

    from searchengine_spark.ops.vectors import (
        _assign_cells,
        _ivf_manifest,
        append_ivf,
        build_ivf_index,
        compact_ivf,
        ivf_topk_ondisk,
    )
    from searchengine_spark.streaming.ivf import incremental_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    d = str(tmp_path / "ivf_stream")
    in_dir = str(tmp_path / "emb_in")
    ckpt = str(tmp_path / "ckpt")
    build_ivf_index(spark, emb.filter(F.col("vec_id") % 2 == 0), d)

    # wave 1: half the odd vectors arrive
    odds = emb.filter(F.col("vec_id") % 2 == 1)
    odds.filter(F.col("vec_id") % 4 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_ivf(spark, in_dir, d, ckpt)
    m1 = _ivf_manifest(d)
    assert len(m1["generations"]) == 1 and len(m1["batches"]) == 1

    # re-drain with nothing new: checkpoint replays nothing
    incremental_ivf(spark, in_dir, d, ckpt)
    assert _ivf_manifest(d) == m1

    # wave 2: the rest arrives
    odds.filter(F.col("vec_id") % 4 == 3).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_ivf(spark, in_dir, d, ckpt)
    m2 = _ivf_manifest(d)
    assert len(m2["generations"]) == 2

    # served union == one quantizer pass over all vectors
    d2 = str(tmp_path / "ivf_mono")
    cent_df = spark.read.parquet(os.path.join(d, "centroids.parquet"))
    _assign_cells(emb, cent_df).write.partitionBy("cid").parquet(
        os.path.join(d2, "cells")
    )
    cent_df.write.parquet(os.path.join(d2, "centroids.parquet"))
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    a = [(r["vec_id"], r["cosine"]) for r in
         ivf_topk_ondisk(spark, d, qv, k=10, exclude_vec_id=0).collect()]
    b = [(r["vec_id"], r["cosine"]) for r in
         ivf_topk_ondisk(spark, d2, qv, k=10, exclude_vec_id=0).collect()]
    assert a == b and len(a) == 10

    # tags are namespaced by the stream's checkpoint identity
    assert all(t.startswith("stream:") and t.count(":") == 2
               for t in m2["batches"])

    # replay window: an already-committed batch_tag is a no-op
    assert append_ivf(
        spark, odds.limit(3), d, batch_tag=m2["batches"][0]
    ) is None
    assert _ivf_manifest(d) == m2

    # ...and stays one after compaction folds the generations away
    compact_ivf(spark, d)
    m3 = _ivf_manifest(d)
    assert m3["generations"] == [] and m3["batches"] == m2["batches"]
    assert append_ivf(
        spark, odds.limit(3), d, batch_tag=m2["batches"][1]
    ) is None
    assert [(r["vec_id"], r["cosine"]) for r in
            ivf_topk_ondisk(spark, d, qv, k=10,
                            exclude_vec_id=0).collect()] == a

    # a FRESH checkpoint is a new stream: its batch ids restart at 0
    # but its tags must NOT collide with the old stream's — the new
    # data lands instead of being swallowed as a replay
    in_dir2 = str(tmp_path / "emb_in2")
    ckpt2 = str(tmp_path / "ckpt2")
    spark.createDataFrame(
        [(777_777, emb.first()["embedding"])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("append").parquet(in_dir2)
    incremental_ivf(spark, in_dir2, d, ckpt2)
    m4 = _ivf_manifest(d)
    assert len(m4["batches"]) > len(m3["batches"])
    got = {r["vec_id"] for r in
           ivf_topk_ondisk(spark, d, emb.first()["embedding"],
                           k=50).collect()}
    assert 777_777 in got


def test_streaming_incremental_ingest(spark, tmp_path):
    from searchengine_spark.streaming.ingest import incremental_postings
    from searchengine_spark.text.analyze import analyze_counts

    in_dir = str(tmp_path / "in")
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")

    rows1 = [
        ("r1", "a.py", "c1", "python", "spark streaming batch one"),
        ("r1", "b.py", "c2", "python", "second document tokens here"),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_postings(spark, in_dir, stage, ckpt)
    p1 = spark.read.parquet(f"{stage}/postings")
    docs1 = spark.read.parquet(f"{stage}/docs")
    assert docs1.count() == 2
    n1 = p1.count()
    assert n1 == sum(len(analyze_counts(c)) for *_x, c in rows1)

    # second wave: only the new file is processed (checkpoint resume)
    rows2 = [("r2", "c.py", "c3", "python", "late arriving document")]
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_postings(spark, in_dir, stage, ckpt)
    docs2 = spark.read.parquet(f"{stage}/docs")
    assert docs2.count() == 3  # appended once, not reprocessed
    assert docs2.select("docid").distinct().count() == 3
    p2 = spark.read.parquet(f"{stage}/postings")
    assert p2.count() == n1 + len(analyze_counts(rows2[0][-1]))

    # content sha invariant carried through the stream
    got = {r["repo"]: r["sha256"] for r in docs2.collect()}
    import hashlib

    assert got["r2"] == hashlib.sha256(rows2[0][-1].encode()).hexdigest()


def test_streaming_stateful_dedup(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): first arrival
    of a content sha survives; same-batch dups lose by (repo, path,
    commit) order; cross-batch dups are suppressed by checkpointed
    state even though the second run is a fresh availableNow query."""
    import hashlib

    from searchengine_spark.streaming.dedup import run_dedup_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "repo string, path string, commit string, lang string, "
        "content string"
    )

    rows1 = [
        ("r9", "z.py", "c9", "python", "alpha beta gamma"),  # loses: key
        ("r1", "a.py", "c1", "python", "alpha beta gamma"),  # wins
        ("r1", "b.py", "c2", "python", "unique text one"),
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_dedup_stream(spark, in_dir, out_dir, ckpt)
    got1 = {
        (r["repo"], r["path"]) for r in spark.read.parquet(out_dir).collect()
    }
    assert got1 == {("r1", "a.py"), ("r1", "b.py")}

    # second wave, new query run, same checkpoint: the seen-sha state is
    # restored, so the cross-batch dup is dropped and only novel content
    # lands
    rows2 = [
        ("r2", "c.py", "c3", "python", "alpha beta gamma"),  # dup: dropped
        ("r2", "d.py", "c4", "python", "unique text two"),
    ]
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_dedup_stream(spark, in_dir, out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    got2 = {(r["repo"], r["path"]) for r in out.collect()}
    assert got2 == {("r1", "a.py"), ("r1", "b.py"), ("r2", "d.py")}
    # carried sha column is the real content hash
    sha = {
        r["path"]: r["sha256"] for r in out.collect()
    }
    assert sha["d.py"] == hashlib.sha256(b"unique text two").hexdigest()


# -- summaries + importance (SURVEY.md S12/J5, P2) -------------------------

def test_summarize_and_attach(spark):
    from searchengine_spark.ops.summarize import (
        attach_summaries,
        summarize_docs,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "  lots   of  space here ")],
        "docid long, content string",
    )
    s = {r["docid"]: r["summary"] for r in summarize_docs(docs).collect()}
    assert s[1] == "one two three four"
    assert s[2] == "lots of space here"

    res = spark.createDataFrame([(1, 1), (3, 2)], "docid long, rank int")
    out = {
        r["docid"]: r["summary"]
        for r in attach_summaries(res, summarize_docs(docs)).collect()
    }
    assert out[1] == "one two three four"
    assert out[3] == ""  # missing → empty string (lib/queryproc.py:295)


def test_importance_extraction(spark):
    from searchengine_spark.text.importance import extract_importance
    from searchengine_spark.text.udfs import (
        POSTINGS_SCHEMA,
        make_analyze_partition,
    )
    from pyspark.sql import functions as F

    code = "def hashmap_insert(key):\n    return bucket\nplain line tokens\n"
    imp = extract_importance(code, "src/hashmap.py")
    assert imp["hashmap"] == 1          # path token = title-analogue
    assert imp["insert"] == 2           # def line = header-analogue
    assert "plain" not in imp

    df = spark.createDataFrame(
        [(1, code, "src/hashmap.py")],
        "docid long, content string, path string",
    )
    rows = df.mapInPandas(
        make_analyze_partition(
            stem=True, importance_fn=extract_importance
        ),
        schema=POSTINGS_SCHEMA,
    ).collect()
    by_term = {r["term"]: r["important"] for r in rows}
    assert by_term["hashmap"] == 1
    assert by_term["plain"] == 0
    # default path stays bug-compatible: constant 0 (SURVEY.md P13)
    rows0 = df.select("docid", "content").mapInPandas(
        make_analyze_partition(stem=True), schema=POSTINGS_SCHEMA
    ).collect()
    assert {r["important"] for r in rows0} == {0}


def test_streaming_queries_match_batch(spark, tables, index_dir, tmp_path):
    """Streaming front-end must answer exactly like the batch engine."""
    import json as _json

    from searchengine_spark.index.shards import load_index
    from searchengine_spark.query.scoring import score_queries_ondisk
    from searchengine_spark.streaming.queries import serve_query_stream

    shards = load_index(spark, index_dir)
    qdir = tmp_path / "q"
    qdir.mkdir()
    queries = [(1, "parser notes"), (8, "hash bucket")]
    (qdir / "batch1.json").write_text(
        "\n".join(
            _json.dumps({"qid": q, "query": t}) for q, t in queries
        )
    )
    out = str(tmp_path / "res")
    serve_query_stream(
        spark, shards, str(qdir), out, str(tmp_path / "ck"), k=10
    )
    got = sorted(
        (r["qid"], r["rank"], r["docid"])
        for r in spark.read.parquet(out).collect()
    )
    expect = sorted(
        (r["qid"], r["rank"], r["docid"])
        for r in score_queries_ondisk(spark, queries, shards, k=10).collect()
    )
    assert got == expect and len(got) > 0


def test_pq_codes_deterministic_and_exact_on_codebook_rows(spark):
    """PQ encoding is a pure function of the data: codes are invariant
    to input partitioning, and every codebook-source row must encode to
    its own code in all subspaces (distance exactly 0)."""
    from pyspark.sql import functions as F

    from searchengine_spark.ops.vectors import (
        PQ_CODES,
        PQ_M,
        PQ_STRIDE,
        _pq_codebook,
        _pq_encode,
        pq_codes,
    )

    got = {
        r["vec_id"]: [r[f"m{m}"] for m in range(PQ_M)]
        for r in pq_codes(spark, SF).collect()
    }
    assert len(got) == 500
    for c in range(PQ_CODES):
        assert got[c * PQ_STRIDE] == [c] * PQ_M  # self-encodes exactly

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cb = _pq_codebook(emb)
    re32 = {
        r["vec_id"]: list(r["codes"])
        for r in _pq_encode(emb.repartition(32), cb).collect()
    }
    assert re32 == got  # partition-count invariant


def test_pq_adc_approximates_and_rerank_recovers_exact_order(spark):
    """ADC scores are the quantized cosine (recomputed in pure Python
    from the shared codebook); the rerank variant must equal the exact
    round-5 cosine ranking restricted to its ADC shortlist, and keep
    decent recall vs the exhaustive baseline."""
    from searchengine_spark.ops.textops import ann_cosine_topk
    from searchengine_spark.ops.vectors import (
        PQ_CODES,
        PQ_M,
        PQ_SUB,
        _pq_codebook,
        _pq_encode,
        _seq_dot,
        ann_ivf_pq_rerank_topk,
        ann_ivf_pq_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cb = _pq_codebook(emb)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in _pq_encode(emb, cb).collect()
    }
    q = [float(x) for x in emb.filter(
        F.col("vec_id") == 0
    ).first()["embedding"]]
    qn = _seq_dot(q, q) ** 0.5

    got = ann_ivf_pq_topk(spark, SF, k=10).collect()
    assert len(got) == 10
    for r in got:
        cs = codes[r["vec_id"]]
        sdq = sum(
            _seq_dot(q[m * PQ_SUB:(m + 1) * PQ_SUB], cb[m][cs[m]])
            for m in range(PQ_M)
        )
        scc = sum(_seq_dot(cb[m][cs[m]], cb[m][cs[m]])
                  for m in range(PQ_M))
        assert abs(r["pq_score"] - round(sdq / (qn * scc ** 0.5), 5)) \
            <= 1e-5

    rr = [(r["vec_id"], r["cosine"])
          for r in ann_ivf_pq_rerank_topk(spark, SF, k=10).collect()]
    assert [c for _, c in rr] == sorted(
        (c for _, c in rr), reverse=True
    )
    brute = [r["vec_id"]
             for r in ann_cosine_topk(spark, SF, k=10).collect()]
    assert len({v for v, _ in rr} & set(brute)) >= 3


def test_pq_kmeans_training_reduces_distortion(spark):
    """The trained codebooks must be a genuine refinement: total squared
    reconstruction error over the corpus is no worse than the stride
    init's (k-means descent; 6dp mean rounding can only add ulp-scale
    noise), and the codebooks actually move."""
    import numpy as np

    from searchengine_spark.ops.vectors import (
        PQ_M,
        PQ_SUB,
        _pq_codebook,
        _pq_encode,
        pq_kmeans_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    cb0 = _pq_codebook(emb)
    cb1 = pq_kmeans_codebooks(spark, emb)
    assert cb1 != cb0  # training moved the codebooks

    def distortion(cb):
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in _pq_encode(emb, cb).collect()
        }
        tot = 0.0
        for vid, v in vecs.items():
            for m in range(PQ_M):
                d = v[m * PQ_SUB:(m + 1) * PQ_SUB] - np.asarray(
                    cb[m][codes[vid][m]]
                )
                tot += float(d @ d)
        return tot

    d0, d1 = distortion(cb0), distortion(cb1)
    assert d1 <= d0 * (1 + 1e-9), (d0, d1)
    assert d1 < d0 * 0.9  # and materially better, not just ulps


def test_span_dedup_matches_brute_force(tiny_docs):
    """Planted corpus: docs 1/2 are token-identical (every window
    duplicated, frac 1.0), doc 3 shares its first 20 tokens, docs 4/5
    have no duplicated window.  Expected values recomputed brute-force
    with the engine tokenizer."""
    from collections import Counter

    from searchengine_spark.ops.dedup import SPAN_W, span_dedup
    from searchengine_spark.text.tokenizer import tokenize

    rows = {r["doc_id"]: r["text"] for r in tiny_docs.collect()}
    toks = {d: tokenize(t) for d, t in rows.items()}
    occ = Counter()
    for d, ts in toks.items():
        for i in range(len(ts) - SPAN_W + 1):
            occ[" ".join(ts[i:i + SPAN_W])] += 1
    expect = {}
    for d, ts in toks.items():
        starts = [
            i for i in range(len(ts) - SPAN_W + 1)
            if occ[" ".join(ts[i:i + SPAN_W])] >= 2
        ]
        covered = {p for s in starts for p in range(s, s + SPAN_W)}
        frac = round(len(covered) / len(ts), 6) if ts else 0.0
        expect[d] = (len(ts), len(starts), frac)

    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_spans"], r["dup_token_frac"])
        for r in span_dedup(tiny_docs).collect()
    }
    assert got == expect
    assert got[1][2] == 1.0 and got[2][2] == 1.0   # identical twins
    assert got[1][1] > 0
    assert 0.9 < got[3][2] < 1.0                   # shared prefix only
    assert got[4] == (got[4][0], 0, 0.0)
    assert got[5] == (got[5][0], 0, 0.0)           # shorter than a window


def test_fuzzy_terms_ranking_matches_brute_force(spark, tmp_path):
    """Planted vocabulary where one probe has MULTIPLE ed<=1 candidates
    with distinct df (ranking exercised: dist asc, df desc, term asc);
    expected output recomputed with a pure-Python Levenshtein."""
    from searchengine_spark.ops.textops import (
        FUZZY_MIN_LEN,
        FUZZY_Q,
        FUZZY_TOPN,
        fuzzy_terms,
    )
    from searchengine_spark.text.tokenizer import tokenize

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    # "words" dominates df; "wards"/"wores" sit at lev<=1 of its probe
    # "wrds"... (probe = drop 2nd char).  Five len>=4 terms so FUZZY_Q
    # probes exist; "of" is sub-threshold noise.
    rows = []
    for i in range(8):
        rows.append((i, "words alpha bravo charlie delta of"))
    for i in range(8, 12):
        rows.append((i, "wards of"))
    rows.append((12, "wordsy of"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "fz")
    docs.write.parquet(f"{sf}/documents.parquet")

    # brute-force expectation
    df_count = {}
    for d, t in rows:
        for term in set(tokenize(t)):
            df_count[term] = df_count.get(term, 0) + 1
    top = sorted(
        (t for t in df_count if len(t) >= FUZZY_MIN_LEN),
        key=lambda t: (-df_count[t], t),
    )[:FUZZY_Q]
    probes = sorted({t[0] + t[2:] for t in top})
    expect = []
    for q in probes:
        cand = sorted(
            ((lev(q, t), -df_count[t], t) for t in df_count
             if lev(q, t) <= 1),
        )[:FUZZY_TOPN]
        for rk, (ds, negdf, t) in enumerate(cand, 1):
            expect.append((q, t, -negdf, ds, rk))

    got = [
        (r["q"], r["term"], r["df"], r["dist"], r["rank"])
        for r in fuzzy_terms(spark, sf)
        .orderBy("q", "rank").collect()
    ]
    assert got == sorted(expect, key=lambda x: (x[0], x[4]))
    # the multi-candidate probe really has >1 candidate
    from collections import Counter as C
    assert max(C(q for q, *_ in got).values()) > 1


def test_strip_dup_spans_keeps_canonical_copy(tiny_docs):
    """Docs 1/2 token-identical: doc 1 (smaller doc_id) holds every
    canonical occurrence and survives untouched; doc 2 is fully
    stripped; doc 3 loses exactly its shared 20-token prefix.  Expected
    output recomputed brute-force with the engine tokenizer."""
    from collections import Counter

    from searchengine_spark.ops.dedup import SPAN_W, strip_dup_spans
    from searchengine_spark.text.tokenizer import tokenize

    rows = {r["doc_id"]: r["text"] for r in tiny_docs.collect()}
    toks = {d: tokenize(t) for d, t in rows.items()}
    occ, firsts = Counter(), {}
    for d in sorted(toks):
        ts = toks[d]
        for i in range(len(ts) - SPAN_W + 1):
            s = " ".join(ts[i:i + SPAN_W])
            occ[s] += 1
            firsts.setdefault(s, (d, i))
    expect = {}
    for d, ts in toks.items():
        rem = set()
        for i in range(len(ts) - SPAN_W + 1):
            s = " ".join(ts[i:i + SPAN_W])
            if occ[s] >= 2 and firsts[s] != (d, i):
                rem.update(range(i, i + SPAN_W))
        kept = [t for p, t in enumerate(ts) if p not in rem]
        expect[d] = (len(ts), len(ts) - len(kept), " ".join(kept))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in strip_dup_spans(tiny_docs).collect()
    }
    assert got == expect
    assert got[1][1] == 0                       # canonical copy intact
    assert got[1][2] == " ".join(toks[1])
    assert got[2][1] == got[2][0] and got[2][2] == ""   # twin stripped
    assert 0 < got[3][1] < got[3][0]            # prefix-only removal
    assert got[4][1] == 0 and got[5][1] == 0


def test_span_ops_self_overlapping_repetition(spark):
    """A doc that is one token repeated 5x SPAN_W: every window is the
    SAME shingle (within-doc duplication, fully self-overlapping).
    span_dedup must flag everything; strip_dup_spans must keep exactly
    the canonical window's span plus the tail the later windows no
    longer cover once removed... — both recomputed brute-force."""
    from collections import Counter

    from searchengine_spark.ops.dedup import (
        SPAN_W,
        span_dedup,
        strip_dup_spans,
    )
    from searchengine_spark.text.tokenizer import tokenize

    n = 5 * SPAN_W
    rows = [
        (1, " ".join(["loop"] * n)),
        (2, "alpha bravo " + " ".join(["loop"] * SPAN_W) + " charlie"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    toks = {d: tokenize(t) for d, t in rows}
    occ, firsts = Counter(), {}
    for d in sorted(toks):
        ts = toks[d]
        for i in range(len(ts) - SPAN_W + 1):
            s = " ".join(ts[i:i + SPAN_W])
            occ[s] += 1
            firsts.setdefault(s, (d, i))

    sd = {r["doc_id"]: r for r in span_dedup(docs).collect()}
    assert sd[1]["dup_spans"] == n - SPAN_W + 1
    assert sd[1]["dup_token_frac"] == 1.0
    # doc 2's loop-run window also collides with doc 1's shingle
    assert sd[2]["dup_spans"] == 1

    st = {r["doc_id"]: r for r in strip_dup_spans(docs).collect()}
    for d, ts in toks.items():
        rem = set()
        for i in range(len(ts) - SPAN_W + 1):
            s = " ".join(ts[i:i + SPAN_W])
            if occ[s] >= 2 and firsts[s] != (d, i):
                rem.update(range(i, i + SPAN_W))
        kept = [t for p, t in enumerate(ts) if p not in rem]
        assert st[d]["n_removed"] == len(ts) - len(kept), d
        assert st[d]["clean_text"] == " ".join(kept), d
    # the canonical window is itself ERODED by overlapping marked
    # windows (positions 2..SPAN_W are covered by starts 2..): only the
    # single position no marked window reaches survives — the rule is
    # position-level, not occurrence-level, and self-overlap shows it
    assert st[1]["clean_text"] == "loop"
    # doc 2 loses its whole loop run, keeps the unique frame
    assert st[2]["clean_text"] == "alpha bravo charlie"


def test_tfidf_keywords_and_more_like_this(spark, tmp_path):
    """Planted corpus: keywords of the source doc are its distinctive
    (low-df) terms, not the corpus-wide boilerplate; more_like_this
    ranks the doc sharing those keywords first and never returns the
    source itself."""
    from searchengine_spark.ops.textops import (
        more_like_this,
        tfidf_keywords,
    )

    filler = "common words shared by every document here"
    rows = [
        (1, f"{filler} quantum entanglement teleportation qubit decoherence"),
        (2, f"{filler} quantum entanglement teleportation qubit photon"),
        (3, f"{filler} gardening compost seedling trowel mulch"),
        (4, f"{filler} gardening compost seedling trowel pruning"),
        (5, filler),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "mlt")
    docs.write.parquet(f"{sf}/documents.parquet")

    kw = {
        r["rank"]: r["term"]
        for r in tfidf_keywords(spark, sf)
        .filter(F.col("doc_id") == 1).collect()
    }
    assert set(kw.values()) == {
        "quantum", "entanglement", "teleportation", "qubit", "decoherence"
    }
    # df=1 'decoherence' outranks the df=2 quantum terms (higher idf)
    assert kw[1] == "decoherence"

    got = [r["doc_id"] for r in more_like_this(spark, sf, doc_id=1).collect()]
    assert 1 not in got
    assert got[0] == 2          # shares 4 of 5 keywords
    assert set(got[1:]) <= {3, 4, 5}


def test_result_clusters_topic_groups(spark, tmp_path):
    """Planted result set with two keyword-sharing topic groups and one
    loner: clustering must yield exactly {1,2}, {3,4}, {5} with
    min-member cluster ids and correct sizes.  The shared query term
    'probe' (df = all docs, tfidf 0) must NOT create edges — each doc
    carries 5 distinctive keywords that crowd it out of the top-5."""
    from searchengine_spark.ops.textops import result_clusters

    rows = [
        (1, "probe quantum entanglement qubit photon alpha1"),
        (2, "probe quantum entanglement qubit photon alpha2"),
        (3, "probe garden compost mulch trowel beta1"),
        (4, "probe garden compost mulch trowel beta2"),
        (5, "probe solo1 solo2 solo3 solo4 solo5"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "rc")
    docs.write.parquet(f"{sf}/documents.parquet")

    got = result_clusters(spark, sf, terms=("probe",), depth=10).collect()
    assert [(r["cluster_id"], r["doc_id"], r["cluster_size"])
            for r in got] == [
        (1, 1, 2), (1, 2, 2), (3, 3, 2), (3, 4, 2), (5, 5, 1)
    ]


def test_phrase_suggest_context_beats_unigram(spark, tmp_path):
    """Planted corpus where per-term correction and whole-query
    correction disagree: 'hush' has 5x the df/cu of 'hash' (the
    (dist, df) rule of fuzzy_terms/corrected_topk would pick it), but
    'table hash' is a frequent bigram while 'table hush' never occurs
    — the bigram LM must rank (table, hash) first.  Scores are
    recomputed brute-force with the exact interpolation floats."""
    import math

    from searchengine_spark.ops.textops import phrase_suggest

    rows = [(i, "table hash") for i in range(1, 11)]
    rows += [(i, "hush aa") for i in range(11, 61)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "sugg")
    docs.write.parquet(f"{sf}/documents.parquet")

    # planted contrast is real: hush dominates hash on df and cu
    # (the unigram rule would correct 'hsh' -> 'hush')
    got = phrase_suggest(spark, sf).collect()
    assert [(r["term1"], r["term2"]) for r in got[:2]] == [
        ("table", "hash"), ("table", "hush")
    ]
    # probe = top eligible bigram (table, hash) misspelled to
    # ('tble', 'hsh'); candidates: tble->{table}, hsh->{hash, hush}
    lam, oml, tot = 0.8, 1.0 - 0.8, 120.0
    s1 = round(
        math.log(10 / tot)                       # P(table)
        + math.log(lam * 10 / 10 + oml * 10 / tot)  # P(hash|table)
        - 1.0 * (1 + 1),                         # two edits
        6,
    )
    s2 = round(
        math.log(10 / tot) + math.log(oml * 50 / tot) - 2.0, 6
    )
    assert abs(got[0]["score"] - s1) < 1e-9
    assert abs(got[1]["score"] - s2) < 1e-9
    assert got[0]["score"] > got[1]["score"]


def test_rocchio_expansion_recalls_unreachable_doc(spark, tmp_path):
    """Planted corpus: the conjunctive seed query ("alpha","beta") can
    never return doc 9 (it has neither term), but every feedback doc
    is zeta-heavy, so Rocchio expansion pulls zeta in at weight beta
    and doc 9 enters the final ranking — the defining PRF behavior.
    The expansion choice itself is recomputed in pure Python."""
    import math

    from searchengine_spark.ops.textops import bm25_topk, rocchio_topk

    rows = [
        (1, "alpha beta zeta zeta zeta one"),
        (2, "alpha beta zeta zeta zeta two"),
        (3, "alpha beta zeta zeta zeta three"),
        (4, "alpha beta noise4a noise4b"),
        (9, "zeta zeta zeta zeta zeta"),
        (10, "unrelated filler words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "rocchio")
    docs.write.parquet(f"{sf}/documents.parquet")

    base = [r["doc_id"] for r in
            bm25_topk(spark, sf, terms=("alpha", "beta")).collect()]
    assert set(base) == {1, 2, 3, 4}          # conjunctive gate

    got = rocchio_topk(spark, sf, terms=("alpha", "beta")).collect()
    ids = [r["doc_id"] for r in got]
    assert 9 in ids                            # expansion recalled it
    assert 10 not in ids                       # no query term at all

    # recompute the centroid expansion in Python: feedback = docs
    # 1-4 (all conjunctive matches, fb_docs=5 covers them), weight =
    # round(sum(tf * ln(N/df)) / R, 6), seed excluded, top-3 by
    # (w desc, term asc)
    n, r = 6, 4
    tfs = {d: {} for d, _ in rows}
    for d, text in rows:
        for t in text.split():
            tfs[d][t] = tfs[d].get(t, 0) + 1
    df = {}
    for d in tfs:
        for t in tfs[d]:
            df[t] = df.get(t, 0) + 1
    cand = {}
    for d in (1, 2, 3, 4):
        for t, tf in tfs[d].items():
            if t in ("alpha", "beta"):
                continue
            cand[t] = cand.get(t, 0.0) + tf * math.log(n / df[t])
    w = sorted(
        ((round(v / r, 6), t) for t, v in cand.items()),
        key=lambda x: (-x[0], x[1]),
    )
    assert [t for _, t in w[:3]] == ["zeta", "noise4a", "noise4b"]
    # zeta dominates the equal-weight noise tail
    assert w[0][0] > w[1][0] == w[2][0]


def test_mmr_diversifies_clone_pool(spark, tmp_path):
    """Planted geometry: three near-identical 'clone' vectors sit
    closest to the query, one orthogonal-to-the-clones vector has the
    same relevance.  Plain cosine ranks the clones 1-2-3; MMR picks
    one clone, then the orthogonal vector (redundancy-penalty beats
    the clone twins), then a clone — the defining MMR behavior."""
    from searchengine_spark.ops.textops import ann_cosine_topk, mmr_topk

    r = 0.7071
    rows = [
        (0, [1.0, 0.0, 0.0]),            # query
        (1, [r, r, 0.0]),                # clones (tiny z jitter keeps
        (2, [r, r, 0.001]),              # ids distinct, sim ~= 1.0)
        (3, [r, r, 0.002]),
        (4, [r, -r, 0.0]),               # same rel, orthogonal to clones
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sf = str(tmp_path / "mmr")
    emb.write.parquet(f"{sf}/embeddings.parquet")

    plain = [r_["vec_id"] for r_ in
             ann_cosine_topk(spark, sf, k=3).collect()]
    assert plain == [1, 2, 3]            # cosine alone: all clones

    got = mmr_topk(spark, sf, k=3, pool=4).collect()
    assert [r_["rank"] for r_ in got] == [1, 2, 3]
    ids = [r_["vec_id"] for r_ in got]
    assert ids[0] in (1, 2, 3)           # best clone first
    assert ids[1] == 4                   # diversification kicks in
    assert ids[2] in (1, 2, 3)           # then back to the clones
    # scores are monotone nonincreasing and rounded to 6dp
    ms = [r_["mmr"] for r_ in got]
    assert ms == sorted(ms, reverse=True)
    assert all(abs(m - round(m, 6)) < 1e-12 for m in ms)


def test_search_eval_ndcg_matches_python(spark, tmp_path, monkeypatch):
    """Planted corpus where the BM25 ranking diverges from the ideal
    (a term-stuffed rel=1 doc outscores short rel=2 docs), so NDCG < 1
    for the planted query — recomputed brute-force in Python with the
    same formulas."""
    import math

    import searchengine_spark.ops.textops as TT
    from searchengine_spark.text.tokenizer import tokenize

    monkeypatch.setattr(
        TT, "EVAL_QUERIES", [(1, ("apple", "banana")), (2, ("cherry",))]
    )
    rows = [
        (1, " ".join(["apple"] * 30)),               # rel 1, huge tf
        (2, "apple banana " + " ".join(f"f{i}" for i in range(40))),
        (3, "apple banana fig"),                      # rel 2, short
        (4, "banana only here"),
        (5, "cherry pie cherry cobbler"),
        (6, "no relevant terms at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "ndcg")
    docs.write.parquet(f"{sf}/documents.parquet")

    # brute force with the op's exact conventions
    toks = {d: tokenize(t) for d, t in rows}
    tf = {d: {} for d in toks}
    for d, ts in toks.items():
        for t in ts:
            tf[d][t] = tf[d].get(t, 0) + 1
    dl = {d: len(v) for d, v in tf.items()}          # distinct terms
    n = len(dl)
    avgdl = sum(dl.values()) / n
    df = {}
    for d, v in tf.items():
        for t in v:
            df[t] = df.get(t, 0) + 1

    def bm25(d, terms):
        s = 0.0
        for t in terms:
            if t in tf[d]:
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                x = tf[d][t]
                s += idf * x * 2.2 / (
                    x + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)
                )
        return round(s, 6)

    def ndcg(terms, k=10):
        cand = [
            (d, bm25(d, terms), len([t for t in terms if t in tf[d]]))
            for d in tf if any(t in tf[d] for t in terms)
        ]
        bydcg = sorted(cand, key=lambda x: (-x[1], x[0]))[:k]
        byrel = sorted(cand, key=lambda x: (-x[2], x[0]))[:k]
        dcg = sum((2 ** r - 1) / math.log2(i + 2)
                  for i, (_, _, r) in enumerate(bydcg))
        idcg = sum((2 ** r - 1) / math.log2(i + 2)
                   for i, (_, _, r) in enumerate(byrel))
        return round(dcg / idcg, 6)

    got = {
        r["qid"]: r["ndcg"]
        for r in TT.search_eval_ndcg(spark, sf).collect()
    }
    assert got == {1: ndcg(("apple", "banana")), 2: ndcg(("cherry",))}
    assert got[2] == 1.0          # single-term: ranking == ideal
    assert got[1] < 1.0           # the planted divergence is real


def test_search_eval_map_mrr_matches_python(spark, tmp_path, monkeypatch):
    """Same planted corpus as the NDCG test (a term-stuffed rel=1 doc
    holds rank 2, splitting the relevant pair), so AP@k < 1 for the
    planted query — recomputed brute-force in Python with the op's
    exact conventions (binary rel = conjunctive match, rounded-rank,
    min(R, k) AP denominator)."""
    import math

    import searchengine_spark.ops.textops as TT
    from searchengine_spark.text.tokenizer import tokenize

    monkeypatch.setattr(
        TT, "EVAL_QUERIES", [(1, ("apple", "banana")), (2, ("cherry",))]
    )
    rows = [
        (1, " ".join(["apple"] * 30)),               # rel 1, huge tf
        (2, "apple banana " + " ".join(f"f{i}" for i in range(40))),
        (3, "apple banana fig"),                      # rel 2, short
        (4, "banana only here"),
        (5, "cherry pie cherry cobbler"),
        (6, "no relevant terms at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "mapmrr")
    docs.write.parquet(f"{sf}/documents.parquet")

    toks = {d: tokenize(t) for d, t in rows}
    tf = {d: {} for d in toks}
    for d, ts in toks.items():
        for t in ts:
            tf[d][t] = tf[d].get(t, 0) + 1
    dl = {d: len(v) for d, v in tf.items()}          # distinct terms
    n = len(dl)
    avgdl = sum(dl.values()) / n
    df = {}
    for d, v in tf.items():
        for t in v:
            df[t] = df.get(t, 0) + 1

    def bm25(d, terms):
        s = 0.0
        for t in terms:
            if t in tf[d]:
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                x = tf[d][t]
                s += idf * x * 2.2 / (
                    x + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)
                )
        return round(s, 6)

    def ap_mrr(terms, k=10):
        cand = [
            (d, bm25(d, terms), len([t for t in terms if t in tf[d]]))
            for d in tf if any(t in tf[d] for t in terms)
        ]
        ranked = sorted(cand, key=lambda x: (-x[1], x[0]))[:k]
        r_total = sum(1 for _, _, r in cand if r == len(terms))
        cum, ap_num, mrr = 0, 0.0, 0.0
        for i, (_, _, r) in enumerate(ranked):
            if r == len(terms):
                cum += 1
                ap_num += cum / (i + 1)
                if mrr == 0.0:
                    mrr = 1.0 / (i + 1)
        return (
            round(ap_num / max(min(r_total, k), 1), 6), round(mrr, 6)
        )

    got = {
        r["qid"]: (r["ap"], r["mrr"])
        for r in TT.search_eval_map_mrr(spark, sf).collect()
    }
    assert got == {
        1: ap_mrr(("apple", "banana")), 2: ap_mrr(("cherry",))
    }
    assert got[1][0] < 1.0     # the stuffed doc splits the relevant pair
    assert got[2] == (1.0, 1.0)


def test_stemmed_topk_conflates_forms(spark, tmp_path):
    """Inflected forms conflate to one stem: tf sums across surface
    forms and dl is the DISTINCT-STEM count (the engine's doc-length
    quirk at stem granularity) — recomputed brute-force in Python with
    the same stemmer."""
    import math
    from collections import Counter

    import searchengine_spark.ops.textops as TT
    from searchengine_spark.text.porter import porter_stem

    rows = [
        (1, "running runner runs"),     # run x2 + runner
        (2, "run walk"),
        (3, "walked walking walks"),    # walk x3, dl 1
        (4, "unrelated words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "stem")
    docs.write.parquet(f"{sf}/documents.parquet")

    tf = {}
    for d, text in rows:
        c = Counter(porter_stem(t) for t in text.split())
        tf[d] = dict(c)
    dl = {d: len(v) for d, v in tf.items()}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    q = porter_stem("runs")
    df_q = sum(1 for v in tf.values() if q in v)
    idf = math.log((n - df_q + 0.5) / (df_q + 0.5) + 1.0)

    def score(d):
        x = tf[d][q]
        return round(
            idf * x * 2.2 / (x + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)),
            6,
        )

    got = [
        (r["doc_id"], r["score"])
        for r in TT.stemmed_topk(spark, sf, terms=("runs",)).collect()
    ]
    want = sorted(
        ((d, score(d)) for d in tf if q in tf[d]),
        key=lambda x: (-x[1], x[0]),
    )
    assert got == want
    assert {d for d, _ in got} == {1, 2}
    # doc 1's tf(run) counted BOTH surface forms
    assert tf[1][q] == 2


def test_hard_negatives_planted(spark, tmp_path, monkeypatch):
    """On the planted eval corpus the negatives for (apple, banana)
    are exactly the high-ranked partial matches — the stuffed rel=1
    doc (overall rank 2) first, then the banana-only doc — with pool
    ranks preserved and relevant docs excluded."""
    import searchengine_spark.ops.textops as TT

    monkeypatch.setattr(
        TT, "EVAL_QUERIES", [(1, ("apple", "banana")), (2, ("cherry",))]
    )
    rows = [
        (1, " ".join(["apple"] * 30)),               # rel 1, huge tf
        (2, "apple banana " + " ".join(f"f{i}" for i in range(40))),
        (3, "apple banana fig"),                      # rel 2, short
        (4, "banana only here"),
        (5, "cherry pie cherry cobbler"),
        (6, "no relevant terms at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "hn")
    docs.write.parquet(f"{sf}/documents.parquet")

    got = [
        (r["qid"], r["neg_rank"], r["doc_id"], r["rank"])
        for r in TT.hard_negatives(spark, sf)
        .orderBy("qid", "neg_rank").collect()
    ]
    # qid 1 ranking: doc3 (rel2, short) > doc1 (stuffed, rel1) > doc4
    # (banana-only, short, rel1) > doc2 (rel2 but 42 distinct terms);
    # negatives = doc1 then doc4 with pool ranks 2 and 3.  qid 2's
    # only match is relevant -> no negatives.
    assert got == [(1, 1, 1, 2), (1, 2, 4, 3)]


def test_term_vectors_match_python(spark, tmp_path):
    """Term-vectors surface vs a direct recomputation: 1-based
    positions in order, tf, first_pos; non-selected docs excluded."""
    import searchengine_spark.ops.textops as TT

    rows = [(1, "Apple banana apple FIG"), (2, "solo doc"),
            (3, "x1 y2 x1")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path / "tv")
    docs.write.parquet(f"{sf}/documents.parquet")

    got = {
        (r["doc_id"], r["term"]):
            (r["tf"], r["first_pos"], r["positions"])
        for r in TT.term_vectors(spark, sf, doc_ids=(1, 3)).collect()
    }
    assert got == {
        (1, "apple"): (2, 1, "1,3"),
        (1, "banana"): (1, 2, "2"),
        (1, "fig"): (1, 4, "4"),
        (3, "x1"): (2, 1, "1,3"),
        (3, "y2"): (1, 2, "2"),
    }


def test_repetition_stats_match_python(spark):
    """Dup-n-gram occupancy equals a direct Python recomputation,
    including the no-n-gram -> 0.0 convention."""
    import re

    from searchengine_spark.ops.textops import repetition_stats

    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }

    def frac(tokens, n):
        grams = [" ".join(tokens[i:i + n])
                 for i in range(len(tokens) - n + 1)]
        if not grams:
            return 0.0
        from collections import Counter

        c = Counter(grams)
        return round(sum(v for v in c.values() if v > 1) / len(grams), 6)

    want = {}
    for d, text in texts.items():
        toks = re.findall(r"[a-z0-9]+", text.lower())
        want[d] = (frac(toks, 2), frac(toks, 3))
    got = {
        r["doc_id"]: (r["dup_frac_2"], r["dup_frac_3"])
        for r in repetition_stats(spark, SF).collect()
    }
    assert got == want
    # the synthetic corpus must actually exercise the signal
    assert any(f2 > 0 for f2, _ in got.values())


def test_percolate_matches_python_and_plan_is_shuffle_lean(spark):
    """percolate (ops/search.py): alerts must equal a brute-force
    Python containment scan, and the plan must prune via the broadcast
    query-term join BEFORE any shuffle — the token explode feeds a
    BroadcastHashJoin directly (going through term_tf would aggregate
    the whole corpus first; at 100 TB that is the difference between
    shuffling matched rows and shuffling everything)."""
    import re

    from searchengine_spark.ops.search import PERC_QUERIES, percolate

    res = percolate(spark, SF)
    got = sorted((r["qid"], r["doc_id"]) for r in res.collect())
    texts = {
        r["doc_id"]: set(re.findall(r"[a-z0-9]+", r["text"].lower()))
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text").collect()
    }
    want = sorted(
        (qi, d)
        for qi, q in enumerate(PERC_QUERIES)
        for d, toks in texts.items()
        if set(q) <= toks
    )
    assert got == want and got

    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    # the broadcast prune runs on the raw explode: no aggregate may
    # appear UPSTREAM of the broadcast join (only the post-join
    # (qid, doc_id) count), so the plan carries exactly one
    # HashAggregate pair and at most 2 real shuffles (agg + sort)
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    ids = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", final))
    assert 1 <= len(ids) <= 2, plan


def test_substring_search_matches_brute_force(spark):
    """substring_search (ops/textops.py): trigram pruning + verify must
    equal a brute-force containment scan for queries that match many
    docs, few docs, and none — including the adversarial case where a
    doc holds every trigram of q but not q itself (candidate survives
    pruning, dies in verify)."""
    import re

    from searchengine_spark.ops.textops import substring_search

    texts = {
        r["doc_id"]: r["text"].lower()
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text").collect()
    }

    def brute(q, k=20):
        out = []
        for d, t in texts.items():
            n = t.count(q)
            if n:
                out.append((d, n))
        out.sort(key=lambda dn: (-dn[1], dn[0]))
        return out[:k]

    some = next(iter(texts.values()))
    probes = [
        "table hash",            # pinned driver constant
        some[10:40],             # a real 30-char span (matches >= 1)
        "zz never in corpus zz", # no match
        some[10:20] + "qqq",     # prefix trigrams exist, tail doesn't
    ]
    for q in probes:
        got = [
            (r["doc_id"], r["n_occurrences"])
            for r in substring_search(spark, SF, q=q, k=20).collect()
        ]
        assert got == brute(q.lower()), q

    # adversarial: a doc holding every trigram of q WITHOUT q itself
    # ('xxab cyy zzb cdww' ⊇ trigrams('ab cd') = {'ab ','b c',' cd'})
    # must survive pruning and die in verify; its sibling with the
    # real match must return
    import tempfile

    adversarial = "xxab cyy zzb cdww"
    q = "ab cd"
    assert set(re.findall(r"(?=(...))", q)) <= set(
        re.findall(r"(?=(...))", adversarial)
    ) and q not in adversarial
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(1, adversarial), (2, f"yy {q} zz")],
            "doc_id long, text string",
        ).write.parquet(f"{td}/documents.parquet")
        got = [
            (r["doc_id"], r["n_occurrences"])
            for r in substring_search(spark, td, q=q).collect()
        ]
        assert got == [(2, 1)]
    with pytest.raises(ValueError):
        substring_search(spark, SF, q="ab")


def test_substring_persisted_matches_inline_and_prunes(spark, tmp_path):
    """The persisted trigram shard (index/trigram.py) must serve
    value-identically to the inline op, and its cell read must keep
    partition pruning (PartitionFilters on tb) plus the In(tg) parquet
    pushdown — without both, a many-bucket shard reads everything."""
    import re

    from searchengine_spark.index.trigram import (
        build_trigram_index,
        substring_topk_ondisk,
    )
    from searchengine_spark.ops.textops import substring_search

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "tri")
    build_trigram_index(spark, docs, d)
    for q in ("table hash", "zz never here zz"):
        served = substring_topk_ondisk(spark, d, docs, q, k=20)
        got = [(r["doc_id"], r["n_occurrences"]) for r in served.collect()]
        want = [
            (r["doc_id"], r["n_occurrences"])
            for r in substring_search(spark, SF, q=q, k=20).collect()
        ]
        assert got == want, q
    assert got or want == []  # the pinned probe returned rows above

    plan = substring_topk_ondisk(
        spark, d, docs, "table hash", k=20
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters: [tb" in plan, plan
    assert re.search(r"PushedFilters: \[.*In\(tg", plan), plan

    # a partial build (cells, no manifest) must refuse to serve
    import os
    import shutil

    shutil.rmtree(os.path.join(d, "trigram_index.json"),
                  ignore_errors=True)
    os.remove(os.path.join(d, "trigram_index.json"))
    with pytest.raises(ValueError):
        substring_topk_ondisk(spark, d, docs, "table hash")


def test_local_grep_matches_spark_path(spark, tmp_path):
    """LocalGrep (query/serve_grep.py) must serve value-identically to
    the Spark substring paths over the same shard, for hit / miss /
    adversarial queries, without a Spark session in the loop."""
    from searchengine_spark.index.trigram import (
        build_trigram_index,
        substring_topk_ondisk,
    )
    from searchengine_spark.query.serve_grep import LocalGrep

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "tri")
    build_trigram_index(spark, docs, d)
    g = LocalGrep(d, f"{SF}/documents.parquet")
    hit_any = False
    for q in ("table hash", "value table", "zz never here zz"):
        want = [
            (r["doc_id"], r["n_occurrences"])
            for r in substring_topk_ondisk(spark, d, docs, q,
                                           k=20).collect()
        ]
        got = g.search(q, k=20)
        assert got == want, q
        hit_any = hit_any or bool(got)
    assert hit_any
    with pytest.raises(ValueError):
        g.search("ab")
    with pytest.raises(ValueError):
        LocalGrep(str(tmp_path / "nope"), f"{SF}/documents.parquet")


def test_regex_literal_runs_extraction():
    """regex_literal_runs: every returned run must be GUARANTEED
    present in any match (checked structurally on hand cases), and the
    unsupported alternation/group syntax raises."""
    from searchengine_spark.ops.textops import regex_literal_runs as runs

    assert runs("table hash") == ["table hash"]
    assert runs("tab[a-z]e +hash") == ["tab", "e", "hash"]
    assert runs("foo.bar") == ["foo", "bar"]
    assert runs("colou?r") == ["colo", "r"]       # 'u' optional
    assert runs("ab*c") == ["a", "c"]             # 'b' optional
    assert runs("ab+c") == ["a", "c"]             # 'b' repetition edge
    assert runs("a{2,3}bc") == ["bc"]             # quantified 'a' out
    assert runs(r"x\.y") == ["x.y"]               # escaped literal dot
    assert runs(r"a\dz") == ["a", "z"]            # \d is a class
    assert runs("^abc$") == ["abc"]
    for bad in ("a|b", "(ab)c", "a)b", "[abc", "a\\"):
        with pytest.raises(ValueError):
            runs(bad)


def test_regex_branch_runs_alternation():
    """regex_branch_runs / regex_anchor_sets: per-branch guaranteed
    runs with group handling — transparent bare groups splice (runs
    merge across parens), quantified or alternation-bearing groups go
    opaque, nested and empty branches behave, and any branch lacking
    a >= 3-char run disables pruning entirely (soundness)."""
    from searchengine_spark.ops.textops import (
        regex_anchor_sets,
        regex_branch_runs,
    )

    assert regex_branch_runs("foo|bar") == [["foo"], ["bar"]]
    assert regex_branch_runs("ab(cd)ef") == [["abcdef"]]      # splice
    assert regex_branch_runs("a(b|c)d") == [["a", "d"]]       # opaque
    assert regex_branch_runs("a(bc)+d") == [["a", "d"]]       # quant
    assert regex_branch_runs("((abc))") == [["abc"]]          # nested
    assert regex_branch_runs("x(a(b|c)y)z") == [["xa", "yz"]]
    assert regex_branch_runs("a|") == [["a"], []]             # empty
    assert regex_branch_runs("(a|)x") == [["x"]]
    # one short branch poisons pruning for the whole pattern
    assert regex_anchor_sets("foobar|ab") is None
    assert regex_anchor_sets("abc|") is None
    assert regex_anchor_sets("foo|bar") == [["foo"], ["bar"]]
    # duplicate anchors collapse
    assert regex_anchor_sets("abc|abc") == [["abc"]]
    for bad in ("a)b", "(ab", "a(?:b)c", "a\\"):
        with pytest.raises(ValueError):
            regex_branch_runs(bad)


def test_regex_search_matches_brute_force(spark):
    """regex_search must equal a Python re scan (leftmost
    non-overlapping count) for pruned patterns, unprunable patterns
    (longest literal run < 3 → full verify scan), and misses."""
    import re

    from searchengine_spark.ops.textops import regex_search

    texts = {
        r["doc_id"]: r["text"].lower()
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text").collect()
    }

    def brute(pat, k=20):
        rx = re.compile(pat)
        out = []
        for d, t in texts.items():
            n = len(rx.findall(t))
            if n:
                out.append((d, n))
        out.sort(key=lambda dn: (-dn[1], dn[0]))
        return out[:k]

    probes = [
        "tab[a-z]e +hash",   # pinned driver constant (pruned on 'hash')
        "table hash",        # pure literal
        "zz[0-9]+qq",        # no match
        "a.c",               # longest run 1 char -> unpruned full scan
        "tab[a-z]e +hash|merge (sort|join)",  # pinned alternation
        "merge|sort",        # both-branch union
        "merge (sort)",      # transparent group splice
        "merge|a.c",         # short branch -> whole pattern unpruned
        "zzqq111|zzqq222",   # alternation, no match
    ]
    for pat in probes:
        got = [
            (r["doc_id"], r["n_matches"])
            for r in regex_search(spark, SF, pattern=pat, k=20).collect()
        ]
        assert got == brute(pat), pat


def test_local_grep_regex_matches_spark_path(spark, tmp_path):
    """LocalGrep.grep must equal the Spark regex_search op — pruned,
    unpruned (short literal runs), and no-match patterns."""
    from searchengine_spark.index.trigram import build_trigram_index
    from searchengine_spark.ops.textops import regex_search
    from searchengine_spark.query.serve_grep import LocalGrep

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "tri")
    build_trigram_index(spark, docs, d)
    g = LocalGrep(d, f"{SF}/documents.parquet")
    hit_any = False
    for pat in ("tab[a-z]e +hash", "table hash", "a.c", "zz[0-9]+qq",
                "tab[a-z]e +hash|merge (sort|join)", "merge|a.c"):
        want = [
            (r["doc_id"], r["n_matches"])
            for r in regex_search(spark, SF, pattern=pat,
                                  k=20).collect()
        ]
        got = g.grep(pat, k=20)
        assert got == want, pat
        hit_any = hit_any or bool(got)
    assert hit_any


def test_lm_dirichlet_matches_python(spark):
    """Query-likelihood Dirichlet ranking vs a pure-Python recompute
    (second oracle next to the driver's DuckDB compare): conjunctive
    eligibility, true occurrence-count dl (NOT the distinct-term
    quirk), per-term ln(1 + tf/(mu·cf/T)) + ln(mu/(dl+mu)), rank
    (rounded score desc, doc_id)."""
    import re
    from collections import Counter

    from searchengine_spark.ops.textops import (
        LM_MU,
        LM_TERMS,
        lm_dirichlet_topk,
    )

    got = [
        (r["doc_id"], r["score"])
        for r in lm_dirichlet_topk(spark, SF).collect()
    ]

    tok = re.compile(r"[a-z0-9]+")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").collect()
    tfs = {r["doc_id"]: Counter(tok.findall(r["text"].lower()))
           for r in docs}
    total = float(sum(sum(c.values()) for c in tfs.values()))
    cf = {t: float(sum(c[t] for c in tfs.values())) for t in LM_TERMS}
    scored = []
    for d, c in tfs.items():
        if not all(c[t] > 0 for t in LM_TERMS):
            continue
        dl = sum(c.values())
        s = sum(
            math.log(1.0 + c[t] / (LM_MU * cf[t] / total))
            + math.log(LM_MU / (dl + LM_MU))
            for t in LM_TERMS
        )
        scored.append((d, round(s, 6)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    want = scored[:10]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) <= 1e-6, (gd, gs, ws)


def test_significant_terms_match_python(spark):
    """Per-language lift vs a Counter recompute: lift =
    (fg·T_corpus)/(T_lang·bg), min_count floors fg, rank (rounded
    lift desc, term) per lang."""
    import re
    from collections import Counter, defaultdict

    from searchengine_spark.ops.textops import (
        SIG_MIN_COUNT,
        SIG_TOPN,
        significant_terms,
    )

    got = [
        (r["lang"], r["term"], r["n_fg"], r["lift"], r["rank"])
        for r in significant_terms(spark, SF).collect()
    ]
    tok = re.compile(r"[a-z0-9]+")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "text").collect()
    fg = defaultdict(Counter)
    bg = Counter()
    tl = Counter()
    for r in docs:
        toks = tok.findall(r["text"].lower())
        fg[r["lang"]].update(toks)
        bg.update(toks)
        tl[r["lang"]] += len(toks)
    tc = sum(tl.values())
    want = []
    for lang in sorted(fg):
        cand = [
            (lang, t, n, round((n * tc) / (tl[lang] * bg[t]), 6))
            for t, n in fg[lang].items()
            if n >= SIG_MIN_COUNT
        ]
        cand.sort(key=lambda x: (-x[3], x[1]))
        want.extend(
            (lg, t, n, lf, i + 1)
            for i, (lg, t, n, lf) in enumerate(cand[:SIG_TOPN])
        )
    assert [(a, b, c, e) for a, b, c, _, e in got] == [
        (a, b, c, e) for a, b, c, _, e in want
    ]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) <= 1e-6, (g, w)


def test_kwic_matches_python(spark):
    """Concordance vs a sequential recompute: 1-based pos, w-token
    contexts space-joined, '' at boundaries, (doc_id, pos) order."""
    import re

    from searchengine_spark.ops.textops import (
        KWIC_LIMIT,
        KWIC_TERM,
        KWIC_W,
        kwic,
    )

    got = [
        (r["doc_id"], r["pos"], r["left_ctx"], r["right_ctx"])
        for r in kwic(spark, SF).collect()
    ]
    tok = re.compile(r"[a-z0-9]+")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").collect()
    want = []
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        toks = tok.findall(r["text"].lower())
        for i, t in enumerate(toks):
            if t == KWIC_TERM:
                want.append((
                    r["doc_id"], i + 1,
                    " ".join(toks[max(0, i - KWIC_W):i]),
                    " ".join(toks[i + 1:i + 1 + KWIC_W]),
                ))
    assert got == want[:KWIC_LIMIT]
    # boundary rows (pos <= w → short/empty left context) must exist
    # in the corpus-wide occurrence set for the '' contract to be
    # exercised somewhere; if not, the fixture changed — re-pin
    assert any(p <= KWIC_W for _, p, _, _ in want)


def test_gopher_quality_matches_python(spark):
    """Gopher-rules gate vs a sequential recompute: token metrics from
    the regex stream, '#'/'...' symbol counts, bullet/ellipsis line
    fractions, stopword hits, rounded-value comparisons."""
    import re

    from searchengine_spark.ops.textops import (
        GOPHER_MAX_BULLET_FRAC,
        GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MEAN_LEN_HI,
        GOPHER_MEAN_LEN_LO,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOP_TERMS,
        gopher_quality,
    )

    got = {r["doc_id"]: r.asDict()
           for r in gopher_quality(spark, SF).collect()}
    tok = re.compile(r"[a-z0-9]+")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").collect()
    assert set(got) == {r["doc_id"] for r in docs}
    n_pass = 0
    for r in docs:
        text, d = r["text"], r["doc_id"]
        toks = tok.findall(text.lower())
        n_words = len(toks)
        lines = text.split("\n")
        hcnt = text.count("#")
        ecnt = (len(text) - len(text.replace("...", ""))) / 3
        bullets = sum(
            1 for x in lines if x.lstrip()[:1] in ("-", "*", "•")
        )
        ells = sum(1 for x in lines if x.rstrip().endswith("..."))
        stop_hits = sum(
            1 for t in set(toks) if t in GOPHER_STOP_TERMS
        )
        g = got[d]
        assert g["n_words"] == n_words
        assert g["n_stop_hits"] == stop_hits
        mean_len = (round(sum(map(len, toks)) / n_words, 6)
                    if n_words else None)
        sym = (round((hcnt + ecnt) / n_words, 6) if n_words else None)
        bf = round(bullets / len(lines), 6)
        ef = round(ells / len(lines), 6)
        for k_, v in [("mean_word_len", mean_len),
                      ("symbol_ratio", sym), ("bullet_frac", bf),
                      ("ellipsis_frac", ef)]:
            if v is None:
                assert g[k_] is None
            else:
                assert abs(g[k_] - v) <= 1e-6, (d, k_, g[k_], v)
        want_pass = bool(
            n_words
            and GOPHER_MIN_WORDS <= n_words <= GOPHER_MAX_WORDS
            and GOPHER_MEAN_LEN_LO <= mean_len <= GOPHER_MEAN_LEN_HI
            and sym <= GOPHER_MAX_SYMBOL_RATIO
            and bf <= GOPHER_MAX_BULLET_FRAC
            and ef <= GOPHER_MAX_ELLIPSIS_FRAC
            and stop_hits >= GOPHER_MIN_STOP_HITS
        )
        assert g["passes"] == want_pass, (d, g)
        n_pass += want_pass
    # the gate must discriminate on this fixture (both classes present)
    assert 0 < n_pass < len(docs)


def test_winnow_fingerprints_match_python(spark):
    """Winnowing vs the textbook scan (per-window min, rightmost on
    ties) plus the paper's guarantee: two docs sharing a >= w+k-1
    token run share a fingerprint inside it."""
    import hashlib
    import re

    from searchengine_spark.ops.dedup import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    tok = re.compile(r"[a-z0-9]+")

    def winnow(text):
        toks = tok.findall(text.lower())
        hs = [
            hashlib.md5(
                " ".join(toks[i:i + WINNOW_K]).encode()
            ).hexdigest()[:8]
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        out = set()
        for s in range(len(hs) - WINNOW_W + 1):
            win = hs[s:s + WINNOW_W]
            m = min(win)
            j = max(i for i, hh in enumerate(win) if hh == m)
            out.add((s + j + 1, m))
        return out

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").collect()
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(
            spark.createDataFrame(
                [(r["doc_id"], r["text"]) for r in docs],
                "doc_id long, text string",
            )
        ).collect()
    }
    want = {
        (r["doc_id"], p, h) for r in docs for p, h in winnow(r["text"])
    }
    assert got == want and got

    # guarantee: a planted shared 20-token run yields a shared fp
    shared = " ".join(f"tok{i}" for i in range(20))
    pair = spark.createDataFrame(
        [(1, "alpha beta " + shared + " gamma"),
         (2, shared + " delta epsilon zeta")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(pair).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]


def test_winnow_matches_match_python(spark):
    """Candidate pairs vs a set recompute: distinct fp values per doc,
    pair count = |intersection|, min-match floor, (n desc, a, b)."""
    import hashlib
    import re
    from itertools import combinations

    from searchengine_spark.ops.dedup import (
        WINNOW_K,
        WINNOW_MIN_MATCHES,
        WINNOW_W,
        winnow_matches,
    )

    tok = re.compile(r"[a-z0-9]+")

    def fpset(text):
        toks = tok.findall(text.lower())
        hs = [
            hashlib.md5(
                " ".join(toks[i:i + WINNOW_K]).encode()
            ).hexdigest()[:8]
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        return {
            min(hs[s:s + WINNOW_W])
            for s in range(len(hs) - WINNOW_W + 1)
        }

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").collect()
    sets = {r["doc_id"]: fpset(r["text"]) for r in docs}
    want = sorted(
        (
            (a, b, len(sets[a] & sets[b]))
            for a, b in combinations(sorted(sets), 2)
            if len(sets[a] & sets[b]) >= WINNOW_MIN_MATCHES
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )
    got = [
        (r["a"], r["b"], r["n_matches"])
        for r in winnow_matches(
            spark.createDataFrame(
                [(r["doc_id"], r["text"]) for r in docs],
                "doc_id long, text string",
            )
        ).collect()
    ]
    assert got == want


def test_winnow_matches_hot_fp_cap(spark):
    """Planted boilerplate fingerprint (VERDICT r4 #2): a fingerprint
    shared by every doc must be removed from the fp SETS by the
    default-on cap — counts match a hand recompute with hot fps
    dropped, and the boilerplate-only pairs vanish instead of squaring
    the join key."""
    import hashlib
    import re
    from collections import Counter
    from itertools import combinations

    from searchengine_spark.ops.dedup import (
        WINNOW_K,
        WINNOW_MIN_MATCHES,
        WINNOW_W,
        winnow_matches,
    )

    tok = re.compile(r"[a-z0-9]+")

    def fpset(text):
        toks = tok.findall(text.lower())
        hs = [
            hashlib.md5(
                " ".join(toks[i:i + WINNOW_K]).encode()
            ).hexdigest()[:8]
            for i in range(len(toks) - WINNOW_K + 1)
        ]
        return {
            min(hs[s:s + WINNOW_W])
            for s in range(len(hs) - WINNOW_W + 1)
        }

    # every doc opens with the same long license header (hot fps);
    # docs 1/2 additionally share a genuine 25-token run
    header = " ".join(f"license{i} term{i}" for i in range(12))
    shared = " ".join(f"body{i}" for i in range(25))
    rows = [
        (1, header + " " + shared + " tail1 one"),
        (2, header + " " + shared + " tail2 two"),
    ] + [
        (i, header + " " + " ".join(f"u{i}x{j}" for j in range(10)))
        for i in range(3, 12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cap = 5
    sets = {d: fpset(t) for d, t in rows}
    dfc = Counter(fp for s in sets.values() for fp in s)
    capped = {d: {fp for fp in s if dfc[fp] <= cap}
              for d, s in sets.items()}
    want = sorted(
        (
            (a, b, len(capped[a] & capped[b]))
            for a, b in combinations(sorted(capped), 2)
            if len(capped[a] & capped[b]) >= WINNOW_MIN_MATCHES
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )
    got = [
        (r["a"], r["b"], r["n_matches"])
        for r in winnow_matches(docs, max_fp_df=cap).collect()
    ]
    assert got == want
    # the genuine pair survives; boilerplate-only pairs are gone
    assert any(a == 1 and b == 2 for a, b, _ in got)
    assert len(got) < len(rows) * (len(rows) - 1) // 2
    # uncapped form would have matched every pair via the header
    uncapped = winnow_matches(docs, max_fp_df=None).count()
    assert uncapped == len(rows) * (len(rows) - 1) // 2


def test_topk_overlap_pairs_lossless_and_pruned(spark):
    """Prefix-filtered top-k overlap join equals the brute-force
    all-pairs recomputation (losslessness), the prefix blocking
    actually drops candidate pairs, and the soundness guard raises
    when s_min exceeds the realized k-th overlap."""
    import re
    from collections import Counter

    from searchengine_spark.ops.dedup import (
        OVR_K,
        OVR_S_MIN,
        topk_overlap_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    tok = re.compile(r"[a-z0-9]+")
    sets = {}
    for d, t in texts.items():
        ts = tok.findall(t.lower())
        sets[d] = {f"{a} {b}" for a, b in zip(ts, ts[1:])}
    ov = Counter()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            n = len(sets[a] & sets[b])
            if n:
                ov[(a, b)] = n
    want = sorted(
        ((n, a, b) for (a, b), n in ov.items()),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:OVR_K]
    got = [
        (r["overlap"], r["a"], r["b"])
        for r in topk_overlap_pairs(docs).collect()
    ]
    assert got == want

    # the prefix prune must drop pairs: pairs sharing ONLY bigrams
    # outside both prefixes never become candidates.  Recompute the
    # candidate sets in Python with the op's exact (df asc, bigram)
    # global order.
    dfc = Counter()
    for s in sets.values():
        dfc.update(s)
    pref = {
        d: set(
            sorted(s, key=lambda x: (dfc[x], x))[: len(s) - OVR_S_MIN + 1]
        )
        for d, s in sets.items()
    }
    n_cand = sum(
        1
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if pref[a] & pref[b]
    )
    n_all = sum(
        1
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if sets[a] & sets[b]
    )
    assert n_cand < n_all
    # every true top-k pair is still a candidate (the blocking theorem)
    assert all(pref[a] & pref[b] for _, a, b in want)

    with pytest.raises(ValueError, match="not lossless"):
        topk_overlap_pairs(docs, s_min=10_000)


def test_match_counts_python(spark):
    """Both-mode hit totals equal a termset recompute (the serving
    count() rule at batch granularity)."""
    import re

    from searchengine_spark.ops.textops import COUNT_TERMS, match_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    tok = re.compile(r"[a-z0-9]+")
    qs = set(COUNT_TERMS)
    n_and = n_or = 0
    for r in docs:
        ts = set(tok.findall(r["text"].lower()))
        n_and += qs <= ts
        n_or += bool(qs & ts)
    got = {r["mode"]: r["n_docs"] for r in match_counts(spark, SF).collect()}
    assert got == {"and": n_and, "or": n_or}


def test_hashed_tfidf_topk_matches_python(spark):
    """Hashing-trick cosine retrieval equals a Python recomputation
    with the SAME fold orders (bucket sums in term order, norms/dots
    in bucket order, 0.0 seeds) — the cross-engine float discipline
    at test scale."""
    import hashlib
    import re
    from collections import Counter, defaultdict

    from searchengine_spark.ops.textops import (
        HV_DIM,
        HV_DOC_ID,
        HV_K,
        hashed_tfidf_topk,
    )

    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    tok = re.compile(r"[a-z0-9]+")
    tfs = {d: Counter(tok.findall(t.lower())) for d, t in texts.items()}
    tfs = {d: c for d, c in tfs.items() if c}
    n = float(len(tfs))
    df = Counter()
    for c in tfs.values():
        df.update(set(c))

    def bucket(term):
        return int(
            hashlib.md5(term.encode()).hexdigest()[:8], 16
        ) % HV_DIM

    coords = {}
    for d, c in tfs.items():
        by_j = defaultdict(list)
        for term in c:
            by_j[bucket(term)].append(
                (term, c[term] * math.log(n / df[term]))
            )
        coords[d] = {
            j: sum((w for _, w in sorted(pairs)), 0.0)
            for j, pairs in by_j.items()
        }
    norms = {
        d: math.sqrt(
            sum((v * v for _, v in sorted(cs.items())), 0.0)
        )
        for d, cs in coords.items()
    }
    q = coords[HV_DOC_ID]
    scored = []
    for d, cs in coords.items():
        if d == HV_DOC_ID:
            continue
        shared = sorted(set(cs) & set(q))
        if not shared:
            continue
        dot = sum((cs[j] * q[j] for j in shared), 0.0)
        scored.append(
            (round(dot / (norms[d] * norms[HV_DOC_ID]), 6), d)
        )
    want = [
        (d, c) for c, d in sorted(scored, key=lambda t: (-t[0], t[1]))
    ][:HV_K]
    got = [
        (r["doc_id"], r["cos"])
        for r in hashed_tfidf_topk(spark, SF).collect()
    ]
    assert got == want


def test_dupgraph_triangles_matches_bruteforce(spark):
    """The degree-ordered wedge kernel counts the identical triangle
    set as a brute-force recomputation from the pair list (incl. a
    node's local clustering coefficient and degree), on real sf0.001
    dup edges — which contain triangles (the planted dup cliques)."""
    import itertools
    from collections import defaultdict

    from searchengine_spark.ops.dedup import (
        dupgraph_triangles,
        jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = [
        (r["a"], r["b"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    ]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    tri = defaultdict(int)
    n_tri_total = 0
    for v in sorted(adj):
        for u, w in itertools.combinations(sorted(adj[v]), 2):
            if u > v and w > v and w in adj[u]:
                n_tri_total += 1
                for x in (v, u, w):
                    tri[x] += 1
    assert n_tri_total > 0, "sf0.001 dup graph must contain triangles"

    got = {
        r["doc_id"]: (r["degree"], r["n_tri"], r["clust"])
        for r in dupgraph_triangles(docs).collect()
    }
    want = {}
    for v, nbrs in adj.items():
        d = len(nbrs)
        c = round(2.0 * tri[v] / (d * (d - 1)), 6) if d >= 2 else 0.0
        want[v] = (d, tri[v], c)
    assert got == want


def test_ltr_features_encoding(spark):
    """LTR export invariants on sf0.001: full conjunctive matches
    carry a real cover (min_win >= nterms), partial matches encode
    min_win 0, rank is dense 1..pool per query, and bm25/nmatch agree
    with the shared eval-candidate core."""
    from searchengine_spark.ops.textops import (
        EVAL_QUERIES,
        LTR_POOL,
        _eval_candidates,
        ltr_features,
    )

    rows = ltr_features(spark, SF).collect()
    nt = dict((q, len(t)) for q, t in EVAL_QUERIES)
    byq = {}
    for r in rows:
        byq.setdefault(r["qid"], []).append(r)
    assert set(byq) == set(nt)
    for qid, rs in byq.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= LTR_POOL
        for r in rs:
            if r["nmatch"] == nt[qid]:
                assert r["min_win"] >= nt[qid]
            else:
                assert r["min_win"] == 0
            assert r["sum_tf"] >= r["nmatch"]

    cand = {
        (r["qid"], r["doc_id"]): (r["score"], r["rel"])
        for r in _eval_candidates(spark, SF).collect()
    }
    for r in rows:
        sc, rel = cand[(r["qid"], r["doc_id"])]
        assert (r["bm25"], r["nmatch"]) == (sc, rel)


def test_ann_filtered_topk_eligibility_only(spark):
    """Filtered ANN contract: every hit's label is in the filter set,
    probes are unchanged by the filter (survivor cosines equal the
    unfiltered probe scoring exactly), and the filtered top-k is the
    label-subset prefix of the unfiltered candidate ranking."""
    from searchengine_spark.ops.vectors import (
        ANN_FILTER_LABELS,
        ann_filtered_topk,
        ann_ivf_topk,
    )

    got = ann_filtered_topk(spark, SF).collect()
    assert got and all(r["label"] in ANN_FILTER_LABELS for r in got)

    # unfiltered ranking over the same probes, large k — the filtered
    # result must be its label-subset prefix with identical cosines
    full = ann_ivf_topk(spark, SF, k=10_000).collect()
    lab = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    want = [
        (r["vec_id"], r["cosine"]) for r in full
        if lab[r["vec_id"]] in ANN_FILTER_LABELS
    ][: len(got)]
    assert [(r["vec_id"], r["cosine"]) for r in got] == want


def test_ann_recall_curve_consistency(spark):
    """The one-pass curve must be monotone nondecreasing in nprobe and
    its point at the deployed NPROBE must equal the mean of
    ann_recall's per-query recalls (same truth sets, same order
    contracts) — the monotone-membership argument checked empirically."""
    from searchengine_spark.ops.vectors import (
        NPROBE,
        ann_recall,
        ann_recall_curve,
    )

    curve = {
        r["nprobe"]: r["recall"]
        for r in ann_recall_curve(spark, SF).collect()
    }
    assert list(curve) == sorted(curve)
    vals = [curve[p] for p in sorted(curve)]
    assert all(b >= a for a, b in zip(vals, vals[1:]))

    per_q = [r["recall"] for r in ann_recall(spark, SF).collect()]
    assert curve[NPROBE] == round(sum(per_q) / len(per_q), 6)


def test_trigram_append_generations(spark, tmp_path):
    """append_trigram: the build-half + append-half shard serves
    value-identically to a one-shot build over the union (Spark path
    AND LocalGrep, which must maybe_refresh onto the new generation);
    overlapping doc_ids are anti-joined out (coverage counts stay
    exact), replayed batch tags no-op, and an all-duplicate append
    commits NO generation."""
    import json
    import os

    from searchengine_spark.index.trigram import (
        append_trigram,
        build_trigram_index,
        substring_topk_ondisk,
    )
    from searchengine_spark.query.serve_grep import LocalGrep

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    d_inc = str(tmp_path / "tri_inc")
    build_trigram_index(spark, half_a, d_inc)
    grep = LocalGrep(d_inc, f"{SF}/documents.parquet")

    # append half_b PLUS an overlap resend of some half_a docs
    resend = half_a.limit(5)
    n = append_trigram(spark, half_b.unionByName(resend), d_inc,
                       batch_tag="t1")
    assert n == half_b.count()          # overlaps anti-joined out
    assert append_trigram(spark, half_b, d_inc, batch_tag="t1") == 0

    d_full = str(tmp_path / "tri_full")
    build_trigram_index(spark, docs, d_full)
    q = "table hash"
    inc = [tuple(r) for r in
           substring_topk_ondisk(spark, d_inc, docs, q, k=20).collect()]
    full = [tuple(r) for r in
            substring_topk_ondisk(spark, d_full, docs, q, k=20).collect()]
    assert inc == full and len(inc) > 0

    # LocalGrep: stale replica refreshes onto the generation union
    assert grep.maybe_refresh() is True
    assert grep.maybe_refresh() is False
    assert grep.search(q, k=20) == full

    # an all-duplicate append commits its tag but NO generation
    man_before = json.load(
        open(os.path.join(d_inc, "trigram_index.json"))
    )
    assert append_trigram(spark, resend, d_inc, batch_tag="t2") == 0
    man_after = json.load(
        open(os.path.join(d_inc, "trigram_index.json"))
    )
    assert man_after["generations"] == man_before["generations"]
    assert "t2" in man_after["tags"]


def test_trigram_liveness_all_tiers(spark, tmp_path):
    """Grep-tier liveness (VERDICT r4 #3): delete_trigram tombstones
    must stop substring AND regex serving from returning dead docs on
    EVERY tier — the Spark ondisk ops (pruned and full-scan paths),
    LocalGrep (stale replica via maybe_refresh), and ShardedGrep —
    with survivors exactly equal to a rebuild over the live set, and
    idempotent replays committing nothing (not even an uncommitted
    tombstone dir)."""
    import json
    import os

    from searchengine_spark.index.trigram import (
        build_trigram_index,
        delete_trigram,
        regex_topk_ondisk,
        substring_topk_ondisk,
    )
    from searchengine_spark.query.serve_grep import (
        LocalGrep,
        ShardedGrep,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "tri")
    build_trigram_index(spark, docs, d)

    q = "table hash"
    pat_pruned = "tab[a-z]e +hash"
    pat_scan = "a.c"  # no >= 3-char literal run → unpruned full scan

    base = [tuple(r) for r in
            substring_topk_ondisk(spark, d, docs, q, k=50).collect()]
    g0 = LocalGrep(d, f"{SF}/documents.parquet")
    sg0 = ShardedGrep(d, f"{SF}/documents.parquet", n_shards=3)
    scan_hits = g0.grep(pat_scan, k=5)
    assert base and scan_hits
    dead = sorted({base[0][0], base[1][0], scan_hits[0][0]})

    n = delete_trigram(spark, d, doc_ids=dead)
    assert n == len(dead)
    # replay: no-op, and NO new tombstone generation committed
    man = json.load(open(os.path.join(d, "trigram_index.json")))
    assert delete_trigram(spark, d, doc_ids=dead) == 0
    man2 = json.load(open(os.path.join(d, "trigram_index.json")))
    assert man2["tombstones"] == man["tombstones"]
    # ...and no uncommitted tombs_t<N> dir left behind by the replay
    assert sorted(n for n in os.listdir(d)
                  if n.startswith("tombs_t")) == man["tombstones"]

    # ground truth: a fresh build over the survivor set
    live = docs.join(
        spark.createDataFrame([(i,) for i in dead], "doc_id long"),
        "doc_id", "left_anti",
    )
    live_pq = str(tmp_path / "live_docs.parquet")
    live.write.parquet(live_pq)
    d2 = str(tmp_path / "tri_rebuild")
    build_trigram_index(spark, live, d2)

    # Spark tier — substring, pruned regex, and full-scan regex
    def rows(df):
        return [tuple(r) for r in df.collect()]

    assert rows(substring_topk_ondisk(spark, d, docs, q, k=50)) == rows(
        substring_topk_ondisk(spark, d2, live, q, k=50)
    )
    for pat in (pat_pruned, pat_scan):
        assert rows(
            regex_topk_ondisk(spark, d, docs, pat, k=50)
        ) == rows(regex_topk_ondisk(spark, d2, live, pat, k=50)), pat

    # stale replicas must refresh onto the tombstones
    assert g0.maybe_refresh() is True
    assert g0.maybe_refresh() is False
    assert sg0.maybe_refresh() is True
    g2 = LocalGrep(d2, live_pq)
    assert g0.search(q, k=50) == g2.search(q, k=50)
    for pat in (pat_pruned, pat_scan):
        assert g0.grep(pat, k=50) == g2.grep(pat, k=50), pat
        assert sg0.grep(pat, k=50) == g2.grep(pat, k=50), pat
    assert sg0.search(q, k=50) == g2.search(q, k=50)
    # and the dead ids are really gone from every surface
    for out in (g0.search(q, k=50), g0.grep(pat_scan, k=50),
                sg0.search(q, k=50)):
        assert not ({i for i, _ in out} & set(dead))


def test_compact_trigram_reclaims_and_preserves_tags(spark, tmp_path):
    """compact_trigram: physical reclaim must serve identically to a
    fresh build over the survivors (Spark + LocalGrep tiers), clear
    tombstones, PRESERVE batch tags (replayed appends still no-op),
    accept new appends afterwards, and refuse a zero-survivor
    rewrite."""
    import json
    import os

    from searchengine_spark.index.trigram import (
        append_trigram,
        build_trigram_index,
        compact_trigram,
        delete_trigram,
        substring_topk_ondisk,
    )
    from searchengine_spark.query.serve_grep import LocalGrep

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    d = str(tmp_path / "tri")
    build_trigram_index(spark, half_a, d)
    assert append_trigram(spark, half_b, d, batch_tag="b1") > 0

    # no tombstones -> no-op
    assert compact_trigram(spark, d) == 0

    q = "table hash"
    base = [tuple(r) for r in
            substring_topk_ondisk(spark, d, docs, q, k=50).collect()]
    dead = sorted({base[0][0], base[1][0]})
    assert delete_trigram(spark, d, doc_ids=dead) == len(dead)
    g = LocalGrep(d, f"{SF}/documents.parquet")
    masked = g.search(q, k=50)

    n = compact_trigram(spark, d)
    assert n == len(dead)
    man = json.load(open(os.path.join(d, "trigram_index.json")))
    assert man["tombstones"] == [] and man["generations"] == ["cells_c1"]
    assert "b1" in man.get("tags", [])      # tags survive compaction
    # replayed tagged append still no-ops post-compaction
    assert append_trigram(spark, half_b, d, batch_tag="b1") == 0

    # serving equals the masked pre-compaction view AND a fresh build
    # over the survivors, on both tiers
    live = docs.join(
        spark.createDataFrame([(i,) for i in dead], "doc_id long"),
        "doc_id", "left_anti",
    )
    d2 = str(tmp_path / "tri_rebuild")
    build_trigram_index(spark, live, d2)
    got = [tuple(r) for r in
           substring_topk_ondisk(spark, d, docs, q, k=50).collect()]
    want = [tuple(r) for r in
            substring_topk_ondisk(spark, d2, live, q, k=50).collect()]
    assert got == want
    assert g.maybe_refresh() is True
    assert g.search(q, k=50) == masked == [
        (i, c) for i, c in want
    ]
    assert json.load(
        open(os.path.join(d, "trigram_index.json"))
    )["n_docs"] == json.load(
        open(os.path.join(d2, "trigram_index.json"))
    )["n_docs"]

    # append still works after compaction (fresh generation name)
    extra = spark.createDataFrame(
        [(10_000_001, "zzcompact unique trigram content here")],
        "doc_id long, text string",
    )
    assert append_trigram(spark, extra, d) == 1
    assert g.maybe_refresh() is True   # new generation list reloads
    # verify reads text from the caller's docs table — use the one
    # that contains the appended doc (the Spark tier's contract)
    assert [tuple(r) for r in substring_topk_ondisk(
        spark, d, docs.unionByName(extra), "zzcompact", k=5
    ).collect()] == [(10_000_001, 1)]

    # zero-survivor rewrite refuses (schema-less partitionBy dir)
    d3 = str(tmp_path / "tri_all_dead")
    small = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")],
        "doc_id long, text string",
    )
    build_trigram_index(spark, small, d3)
    delete_trigram(spark, d3, doc_ids=[1, 2])
    with pytest.raises(ValueError, match="zero survivors"):
        compact_trigram(spark, d3)


def test_trigram_liveness_syncs_from_segmented_index(spark, tmp_path):
    """The GDPR bridge: delete_docs on the segmented TEXT index +
    sync_trigram_liveness must make the grep shard (built over the
    same docid space) forget the same docs — the one surface that
    previously kept serving deleted content (VERDICT r4 #3)."""
    from searchengine_spark.corpus import synth_corpus
    from searchengine_spark.index import build_tables
    from searchengine_spark.index.pipeline import assign_docids
    from searchengine_spark.index.segments import (
        delete_docs,
        init_segmented,
        load_segments,
    )
    from searchengine_spark.index.trigram import (
        build_trigram_index,
        sync_trigram_liveness,
    )
    from searchengine_spark.query.serve_grep import LocalGrep

    corpus = spark.createDataFrame(synth_corpus(120))
    seg_dir = str(tmp_path / "seg")
    init_segmented(
        spark,
        build_tables(spark, corpus, compute_quality=False,
                     near_dup=False),
        seg_dir,
    )
    # the same deterministic docid assignment the build used
    docs = assign_docids(corpus).select(
        F.col("docid").alias("doc_id"), F.col("content").alias("text")
    )
    docs_pq = str(tmp_path / "docs_by_docid.parquet")
    docs.write.parquet(docs_pq)
    tri_dir = str(tmp_path / "tri")
    build_trigram_index(spark, spark.read.parquet(docs_pq), tri_dir)

    # no tombstones yet → sync is a no-op
    assert sync_trigram_liveness(spark, tri_dir, seg_dir) == 0

    victims = sorted(
        r["docid"]
        for r in load_segments(spark, seg_dir).docs
        .select("docid").limit(3).collect()
    )
    probe = None  # a substring guaranteed to hit victim[0] pre-delete
    for r in spark.read.parquet(docs_pq).filter(
        F.col("doc_id") == victims[0]
    ).collect():
        probe = r["text"][:12].lower()
    g = LocalGrep(tri_dir, docs_pq)
    assert victims[0] in {i for i, _ in g.search(probe, k=200)}

    assert delete_docs(spark, seg_dir, victims) == len(victims)
    assert sync_trigram_liveness(spark, tri_dir, seg_dir) == len(victims)
    assert sync_trigram_liveness(spark, tri_dir, seg_dir) == 0  # replay

    assert g.maybe_refresh() is True
    hits = {i for i, _ in g.search(probe, k=200)}
    assert victims[0] not in hits
    assert not (hits & set(victims))


def test_wildcard_docs_plan_termdict_pruned(spark):
    """The batch wildcard clause must resolve through the term
    dictionary and broadcast-prune the token stream (the serving
    tier's _terms_matching rule): plan carries a broadcast join on
    term, and the token side reaches it WITHOUT the round-3 shape's
    full per-wildcard (doc_id, term) term_tf aggregation.  Values are
    pinned separately by the query_topk driver oracle."""
    from searchengine_spark.ops.search import _wildcard_docs

    df = _wildcard_docs(spark, SF, "suffix", "er")
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "broadcast" in plan, plan
    # exactly the wide edges the design allows: the vocabulary agg
    # (keys [term]) on the broadcast side and the final distinct
    # (keys [doc_id]) — never a (doc_id, term) aggregate
    import re

    keysets = re.findall(r"hashaggregate\(keys=\[([^\]]*)\]", plan)
    assert keysets, plan
    for ks in keysets:
        names = {
            k.strip().split("#")[0] for k in ks.split(",") if k.strip()
        }
        assert names in ({"term"}, {"doc_id"}), (names, plan)


def test_sharded_grep_matches_local(spark, tmp_path):
    """ShardedGrep (docid-range replicas over one trigram shard) must
    equal an unsharded LocalGrep on substring AND regex surfaces —
    disjoint ranges + per-doc counts make the merge lossless."""
    from searchengine_spark.index.trigram import build_trigram_index
    from searchengine_spark.query.serve_grep import (
        LocalGrep,
        ShardedGrep,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    d = str(tmp_path / "tri")
    build_trigram_index(spark, docs, d)
    mono = LocalGrep(d, f"{SF}/documents.parquet")
    for n in (2, 3):
        router = ShardedGrep(d, f"{SF}/documents.parquet", n_shards=n)
        assert router.search("table hash", k=20) == mono.search(
            "table hash", k=20
        )
        for pat in ("tab[a-z]e +hash", "a.c",
                    "tab[a-z]e +hash|merge (sort|join)"):
            assert router.grep(pat, k=20) == mono.grep(pat, k=20), (
                n, pat
            )
    assert mono.search("table hash", k=20)  # fixture really matches
