"""SALSA hubs & authorities — degree-normalized HITS power iteration.

Lempel–Moran's SALSA (WWW 2000): the authority chain is a random walk
backward-then-forward across the directed edge set, so each spread is
normalized by the *sending* endpoint's degree — hub mass leaves ``i``
split ``1/outdeg(i)``, authority mass leaves ``j`` split ``1/indeg(j)``.
Against HITS this kills the tyranny-of-the-majority effect (a hub's
influence no longer grows with its fanout), which is why SALSA is the
link-analysis variant production recommenders actually run (e.g. the
published who-to-follow architectures).

Semantics pinned for exact oracle reproducibility (same discipline as
operators/hits.py):

- synchronous half-steps from the current counterpart vector:
  ``auth ← normalize(Aᵀ·(hub/outdeg))`` then ``hub ← normalize(A·(auth/indeg))``,
- **L1 normalization** per half-step (plain SQL ``sum()``; also re-injects
  the mass that walks off dangling endpoints, keeping the fixed-iteration
  scores scale-stable),
- fixed iteration count; vertices with no in-(out-)edges hold score 0.

Execution: degrees are computed once and folded into the edge relation as
pre-normalized shares (one-time join, then the static share table is
checkpointed and reused every iteration — the weighted-PageRank trick from
operators/ppr.py). Per half-step: one shuffled join + map-side-combinable
sum + a 1-row scalar normalizer, identical plan shape to a PageRank
superstep. At 100 TB per-iteration shuffle volume = |E| contribution rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps


def salsa(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    n_iter: int = 8,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, hub, auth) after exactly ``n_iter`` synchronous iterations."""
    spark = edges.sparkSession
    e = edges.select("src", "dst")
    if vertices is not None:
        universe = vertices.select("vid")
    else:
        universe = (
            e.select(F.col("src").alias("vid"))
            .union(e.select(F.col("dst").alias("vid")))
            .distinct()
        )

    with supersteps(spark, "salsa", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        outdeg = e.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("outdeg"))
        indeg = e.groupBy(F.col("dst").alias("vid")).agg(F.count("*").alias("indeg"))
        # static pre-normalized share relation, built once and reused by
        # every iteration: fwd share = 1/outdeg(src), bwd share = 1/indeg(dst)
        shares = checkpoint(
            e.join(outdeg, e.src == outdeg.vid)
            .drop("vid")
            .join(indeg, e.dst == indeg.vid)
            .drop("vid")
            .select(
                "src",
                "dst",
                (F.lit(1.0) / F.col("outdeg")).alias("fwd"),
                (F.lit(1.0) / F.col("indeg")).alias("bwd"),
            ),
            -1,
        )
        universe = checkpoint(universe, -1)
        n = universe.count()
        if n == 0:
            return spark.createDataFrame([], "vid long, hub double, auth double")
        hub = checkpoint(universe.withColumn("score", F.lit(1.0 / n)), 0)
        auth = None
        for step in loop.steps(range(1, n_iter + 1)):
            raw_a = (
                shares.join(hub, shares.src == hub.vid)
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum(F.col("score") * F.col("fwd")).alias("raw"))
            )
            auth = checkpoint(_l1(universe, raw_a), step)
            raw_h = (
                shares.join(auth, shares.dst == auth.vid)
                .groupBy(F.col("src").alias("vid"))
                .agg(F.sum(F.col("score") * F.col("bwd")).alias("raw"))
            )
            hub = checkpoint(_l1(universe, raw_h), step)
            loop.done()
    return (
        universe.join(hub.withColumnRenamed("score", "hub"), "vid", "left")
        .join(auth.withColumnRenamed("score", "auth"), "vid", "left")
        .select(
            "vid",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )


def _l1(universe: DataFrame, raw: DataFrame) -> DataFrame:
    """Left-complete ``raw`` over the universe and L1-normalize (same
    contract as hits.py _l1 — the normalizer is a broadcast 1-row cross
    join, not a per-half-step driver collect)."""
    tot = raw.agg(F.sum("raw").alias("t")).select(
        F.when(F.col("t").isNull() | (F.col("t") == 0.0), F.lit(1.0))
        .otherwise(F.col("t"))
        .alias("t")
    )
    return universe.join(raw, "vid", "left").crossJoin(F.broadcast(tot)).select(
        "vid", (F.coalesce("raw", F.lit(0.0)) / F.col("t")).alias("score")
    )
