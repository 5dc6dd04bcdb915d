"""HITS as an iterative DataFrame loop — the reference's variant.

Pinned semantics (lib/hits.py:15-59):
 - QUIRK reproduced as written: BOTH hub and authority accumulate over a
   doc's OUT-links (hits.py:36-37 use the same linked_docs) — this is NOT
   standard HITS (standard auth sums over in-links).
 - init hub=auth=1 for the full universe (incl. dropped docs)
 - each iteration L2-normalizes both vectors (norm computed driver-side,
   one scalar per vector, observed on the iteration's checkpoint job)
 - converged when ALL deltas of both vectors < tol; post-update kept
 - max_iter=25, tol=1e-6

Per iteration: ONE join of edges against the score table at dst carrying
both hub and auth, one shuffle agg by src — hub and auth share the join.
"""

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..params import HITS_MAX_ITER, HITS_TOL


def hits_df(
    spark: SparkSession,
    universe: DataFrame,
    edges: DataFrame,
    max_iter: int = HITS_MAX_ITER,
    tol: float = HITS_TOL,
) -> DataFrame:
    """Return (docid, hub_quality, auth_quality).

    One Spark job per iteration: the localCheckpoint of the raw sums
    also yields both L2 norms and the PREVIOUS iteration's deltas as
    Observation metrics.  The normalized vector is a lazy projection
    over that checkpoint, so iteration i's deltas (new vs old, both
    normalized) are first computable on iteration i+1's job; a
    converged vector is returned as it was — the post-update vector of
    the iteration that converged — at the cost of one extra job."""
    # init hub = auth = 1, a lazy projection (no job of its own); from
    # the second iteration on, `scores` also carries dh/da, its
    # deltas against the vector before it
    scores = universe.select(
        "docid", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    )

    e = edges.persist()
    for it in range(max_iter):
        # sum the dst-side scores over each doc's out-links (both vectors)
        sums = (
            e.join(
                scores.select("docid", "hub", "auth")
                .withColumnRenamed("docid", "dst"),
                "dst",
            )
            .groupBy("src")
            .agg(
                F.sum("auth").alias("new_hub"),   # hub[d] = Σ auth[out(d)]
                F.sum("hub").alias("new_auth"),   # auth[d] = Σ hub[out(d)] (quirk)
            )
        )
        step = scores.join(
            sums.withColumnRenamed("src", "docid"), "docid", "left"
        ).select(
            "docid",
            F.coalesce("new_hub", F.lit(0.0)).alias("new_hub"),
            F.coalesce("new_auth", F.lit(0.0)).alias("new_auth"),
            F.col("hub").alias("oh"),
            F.col("auth").alias("oa"),
            *(["dh", "da"] if it else []),
        )
        obs = Observation()
        step = step.observe(
            obs,
            F.sqrt(F.sum(F.col("new_hub") ** 2)).alias("hn"),
            F.sqrt(F.sum(F.col("new_auth") ** 2)).alias("an"),
            *([F.max("dh").alias("dh"), F.max("da").alias("da")]
              if it else []),
        )
        raw = step.select(
            "docid", "new_hub", "new_auth", "oh", "oa"
        ).localCheckpoint()
        m = obs.get
        if (
            it
            and m["dh"] is not None
            and m["dh"] < tol
            and m["da"] is not None
            and m["da"] < tol
        ):
            break  # the previous iteration converged: keep its vector
        hn = m["hn"] or 0.0
        an = m["an"] or 0.0
        hub = F.col("new_hub") / hn if hn > 0 else F.col("new_hub")
        auth = F.col("new_auth") / an if an > 0 else F.col("new_auth")
        scores = raw.select(
            "docid",
            hub.alias("hub"),
            auth.alias("auth"),
            F.abs(hub - F.col("oh")).alias("dh"),
            F.abs(auth - F.col("oa")).alias("da"),
        )
    return scores.select(
        "docid",
        F.col("hub").alias("hub_quality"),
        F.col("auth").alias("auth_quality"),
    )
