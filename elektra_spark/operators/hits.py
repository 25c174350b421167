"""HITS hubs & authorities — synchronous power iteration, L1-normalized.

Kleinberg's HITS (JACM 1999) over the *directed* edge relation: authority
scores are the normalized in-flow of hub mass, hub scores the normalized
out-flow of authority mass. On the transcript link graph the direction is
the derivation order (reply ``vid → vid+1``, turn ``→`` tool actor), so
tool-actor hubs surface as authorities and tool-heavy turns as hubs —
the query a transcript-analytics user actually asks ("which actors
concentrate the call graph").

Semantics pinned for exact oracle reproducibility:

- synchronous half-steps: ``auth ← normalize(Aᵀ·hub)`` then
  ``hub ← normalize(A·auth)``, both from the *current* counterpart vector,
- **L1 normalization** (divide by the vector sum) rather than L2 — identical
  ranking, and the normalizer is a plain SQL ``sum()`` the DuckDB twin
  reproduces bit-for-bit at the contract's 1e-8 rounding,
- fixed iteration count; vertices with no in-(out-)edges hold score 0.

Execution per half-step is one shuffled join + map-side-combinable sum —
the exact plan shape of the PageRank df kernel (pagerank.py:727), minus the
dangling correction HITS doesn't have:

- the directed edge relation is materialized once as a static checkpoint
  (hash-partitioned + persisted; no re-exchange per iteration),
- score vectors are joined to it and summed by the receiving endpoint
  (``sum`` is combinable, so hub fan-in collapses map-side),
- the normalizer is a 1-row scalar aggregate collected on the driver
  (bounded action, same as PageRank's dangling-mass scalar).

At 100 TB: per-iteration shuffle volume = |E| contribution rows, same as
one PageRank superstep; AQE stays off inside the fixed-shape loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps


def _spread(edges: DataFrame, scores: DataFrame, key: str, out: str) -> DataFrame:
    """Sum ``scores.score`` over edges onto endpoint ``out`` (the other key)."""
    return (
        edges.join(scores, edges[key] == scores["vid"])
        .groupBy(F.col(out).alias("vid"))
        .agg(F.sum("score").alias("raw"))
    )


def hits(
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
        universe = e.select(F.col("src").alias("vid")).union(e.select(F.col("dst").alias("vid"))).distinct()

    with supersteps(spark, "hits", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        e = checkpoint(e, -1)
        universe = checkpoint(universe, -1)
        n = universe.count()
        if n == 0:
            return spark.createDataFrame([], "vid long, hub double, auth double")
        hub = checkpoint(universe.withColumn("score", F.lit(1.0 / n)), 0)
        auth = None
        for step in loop.steps(range(1, n_iter + 1)):
            auth = _l1(universe, _spread(e, hub, "src", "dst"))
            auth = checkpoint(auth, step)
            hub = _l1(universe, _spread(e, auth, "dst", "src"))
            hub = checkpoint(hub, step)
            loop.done()
    return (
        universe.join(hub.withColumnRenamed("score", "hub"), "vid", "left")
        .join(auth.withColumnRenamed("score", "auth"), "vid", "left")
        .select("vid", F.coalesce("hub", F.lit(0.0)).alias("hub"), F.coalesce("auth", F.lit(0.0)).alias("auth"))
    )


def _l1(universe: DataFrame, raw: DataFrame) -> DataFrame:
    """Left-complete ``raw`` over the universe and L1-normalize it.

    The normalizer rides along as a broadcast 1-row cross join (the pattern
    PageRank's dangling term and bm25/dsir use) instead of a per-half-step
    driver ``collect`` — summed over the raw contributions only, which
    equals the sum over the completed vector because absent vertices
    contribute 0. Two driver round-trips per iteration removed (guide §5:
    the driver should do no data work inside the loop)."""
    tot = raw.agg(F.sum("raw").alias("t")).select(
        F.when(F.col("t").isNull() | (F.col("t") == 0.0), F.lit(1.0))
        .otherwise(F.col("t"))
        .alias("t")
    )
    return universe.join(raw, "vid", "left").crossJoin(F.broadcast(tot)).select(
        "vid", (F.coalesce("raw", F.lit(0.0)) / F.col("t")).alias("score")
    )
