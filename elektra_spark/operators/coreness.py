"""Full coreness decomposition — iterated neighborhood h-index supersteps.

``k_core(k)`` (operators/kcore.py) answers one density threshold; the
*coreness* (core number) of a vertex is the largest k for which it survives
the k-core peel, i.e. the whole decomposition at once.  It is the standard
per-vertex density feature a link-graph user joins back onto everything else
(spam scoring, community seeding, sampling strata), and the companion to the
reference's batch superstep loops (SURVEY.md §2 rows 51-52: ParallelWhile +
write-min) the same way k-core and k-truss are.

Algorithm: iterated h-index (Lü, Zhou, Zhang, Stanley — "The H-index of a
network node and its relation to degree and coreness", Nat. Commun. 7, 2016).

- ``c_0(v) = deg(v)``
- ``c_t(v) = H({c_{t-1}(u) : u ∈ N(v)})`` where ``H`` is the h-index: the
  largest h such that at least h neighbors currently score ≥ h.

The sequence is pointwise non-increasing and converges exactly to the core
number; the fixpoint is stable (applying H again changes nothing), so a
synchronous-superstep engine and an unrolled-SQL twin agree for ANY round
budget ≥ the instance's convergence depth.

Superstep plan (all JVM-side, no Python in the loop):

1. scatter current scores onto edge endpoints:
   ``both ⋈ scores`` — one shuffle, keyed the same way every round;
2. compress ties: ``groupBy(vid, score).count()`` — map-side combinable,
   so a hub with 10^6 neighbors reduces to at most |distinct scores| rows,
   and scores are bounded by degree → by the graph's degeneracy after a
   few rounds (tiny);
3. h-index per vertex over the compressed histogram with one window:
   ``h = max(least(score, cum_count_desc))`` — the textbook "largest rank r
   with value_r ≥ r" computed on ties, not rows;
4. write-min fixpoint check: converged when no vertex decreased.

At 100 TB: per round = one edges⋈scores shuffle (AQE skew-split applies; the
key set never changes so a pre-bucketed edge table co-locates it), one
combinable aggregation, and one window whose partitions are per-vertex
*value histograms* (≤ degeneracy+1 rows each — hub-skew-proof, unlike a
per-neighbor sort).  Round count is the graph's h-index convergence depth —
tens on real link graphs, independent of vertex count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps


def coreness(
    edges: DataFrame,
    max_rounds: int = 256,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, coreness): the core number of every non-isolated vertex.

    ``edges`` is the canonical undirected (src, dst) relation (src < dst,
    deduplicated — the shape every graph builder in this engine emits).
    Runs synchronous h-index supersteps to the exact fixpoint; raises if
    ``max_rounds`` is hit first (convergence is guaranteed, so that means
    the budget was set below the instance's depth).
    """
    spark = edges.sparkSession
    with supersteps(spark, "coreness", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        e = checkpoint(edges.select("src", "dst"), -1)
        both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        scores = checkpoint(
            both.groupBy(F.col("src").alias("vid")).agg(F.count("*").cast("long").alias("c")),
            0,
        )
        w = (
            Window.partitionBy("vid")
            .orderBy(F.desc("cn"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # fixpoint detection: the iteration is pointwise non-increasing, so
        # sum(scores) is strictly decreasing until the fixpoint and constant
        # at it — one map-side-combinable aggregate per round replaces a
        # scores⋈next equality join (no shuffle, no second pass at 100 TB).
        prev_sum = scores.agg(F.sum("c")).collect()[0][0]
        if prev_sum is None:  # no edges → no rows; every vertex is outside any core
            return spark.createDataFrame([], "vid long, coreness long")
        for step in loop.steps(range(1, max_rounds + 1)):
            nb = both.join(
                scores.select(F.col("vid").alias("dst"), F.col("c").alias("cn")), "dst"
            ).select(F.col("src").alias("vid"), "cn")
            hist = nb.groupBy("vid", "cn").agg(F.count("*").alias("k"))
            nxt = (
                hist.withColumn("cum", F.sum("k").over(w))
                .groupBy("vid")
                .agg(F.max(F.least(F.col("cn"), F.col("cum"))).cast("long").alias("c"))
            )
            nxt = checkpoint(nxt, step)
            cur_sum = nxt.agg(F.sum("c")).collect()[0][0]
            delta = prev_sum - cur_sum
            loop.done(delta)
            scores, prev_sum = nxt, cur_sum
            if delta == 0:
                return scores.select("vid", F.col("c").alias("coreness"))
    raise RuntimeError(f"coreness did not converge within max_rounds={max_rounds}")
