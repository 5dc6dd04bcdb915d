"""PageRank as an iterative DataFrame join/aggregation loop.

Semantics pinned to the reference variant (lib/pagerank.py:8-51):
 - universe = ALL docids including dropped/empty docs (compute.py:27)
 - init 1/n
 - new[d] = (1 - damping) + damping * sum_{u -> d} pr[u] / outdeg(u)
   (UN-normalized teleport — ranks sum to ~n, not 1; pagerank.py:43 quirk)
 - outdeg counts resolved, surviving targets only; docs with outdeg 0
   contribute nothing (no dangling-mass redistribution)
 - converged when ALL |new - old| < tol; the post-update vector is kept
 - damping=0.85, max_iter=25, tol=1e-6 (params.py)

Scale: per iteration one join + one shuffle agg over edges and ONE Spark
job — the localCheckpoint that truncates lineage (so 25 iterations don't
build a 25-deep plan, SURVEY.md G1) also yields the convergence delta as
an Observation metric.
"""

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..params import PR_DAMPING, PR_MAX_ITER, PR_TOL


def pagerank_df(
    spark: SparkSession,
    universe: DataFrame,
    edges: DataFrame,
    n_total: int,
    damping: float = PR_DAMPING,
    max_iter: int = PR_MAX_ITER,
    tol: float = PR_TOL,
    round_to: int | None = None,
) -> DataFrame:
    """Return (docid, pr_quality).

    ``round_to`` rounds each iteration's ranks to that many decimals —
    the cross-engine float-determinism contract (the k-means per-iter
    rounding precedent) for callers whose output is value-hash-compared
    against an engine with a different summation order.  ``tol <= 0``
    means "run exactly max_iter iterations": the per-iteration delta
    action is skipped entirely (pinned-iteration callers would pay a
    full join+agg job per round for a check that can never fire).
    The reference-parity quality path uses neither (unrounded ranks,
    tol-based convergence — lib/pagerank.py semantics)."""
    if n_total == 0:
        return universe.select("docid", F.lit(1.0).alias("pr_quality"))

    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = edges.join(outdeg, "src").persist()

    # the initial vector stays a lazy projection: the first iteration's
    # checkpoint job computes it in passing
    ranks = universe.select("docid", F.lit(1.0 / n_total).alias("rank"))

    for _ in range(max_iter):
        contribs = (
            e.join(ranks.withColumnRenamed("docid", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        rank_expr = (
            F.lit(1.0 - damping)
            + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
        )
        if round_to is not None:
            rank_expr = F.round(rank_expr, round_to)
        # the old vector spans the whole universe, so it is the left
        # side of the update and carries each doc's previous rank along
        step = ranks.withColumnRenamed("rank", "old").join(
            contribs.withColumnRenamed("dst", "docid"), "docid", "left"
        ).select("docid", rank_expr.alias("rank"), "old")
        obs = None
        if tol > 0:
            # max |new - old| rides the checkpoint job as an Observation
            # metric — no separate delta job per iteration
            obs = Observation()
            step = step.observe(
                obs, F.max(F.abs(F.col("rank") - F.col("old"))).alias("d")
            )
        ranks = step.select("docid", "rank").localCheckpoint()
        if obs is not None:
            delta = obs.get["d"]
            if delta is not None and delta < tol:
                break
    e.unpersist()
    return ranks.withColumnRenamed("rank", "pr_quality")
