"""k-core extraction — synchronous degree-peel supersteps.

The k-core is the maximal induced subgraph in which every vertex has degree
≥ k (Seidman 1983); it is the standard density filter a link-graph user runs
before community detection or as a spam/quality gate, and its peel loop is
the same ParallelWhile + write-min shape as elektra's batch supersteps
(SURVEY.md §2 rows 51-52).

Semantics (pinned for exact oracle reproducibility):

- synchronous rounds: round i removes *all* vertices whose degree in the
  round-(i-1) surviving subgraph is < k (not one-at-a-time peeling, whose
  intermediate states are order-dependent — the fixpoint is identical),
- the fixpoint is reached when a round removes nothing; the result is the
  set of surviving vertices with their **within-core degree**.

The DuckDB twin unrolls the same synchronous rounds; because rounds past the
fixpoint are no-ops, any unroll count ≥ the instance's peel depth produces
the identical relation (the entry asserts the oracle's unroll depth really
converged at the contract scale — tests/test_graph_ops.py).

At 100 TB: each round is one degree aggregation (``groupBy(vid).count`` —
map-side combinable, hub-skew-proof) plus an edge filter against the
removed set. The filter **anti-joins on the removed side**, which shrinks
every round (typically geometrically), and broadcasts it once it fits —
so late rounds cost a broadcast-anti scan of the surviving edges, no
shuffle. The edge relation only ever shrinks; rounds on real graphs number
in the tens (peel depth, not vertex count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps

# removed-vertex sets below this fit comfortably in a task broadcast; above
# it the anti-join runs as a shuffle (first rounds of a heavy peel).
_BROADCAST_REMOVED_MAX = 2_000_000


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 64,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, deg): vertices of the k-core with their within-core degree."""
    spark = edges.sparkSession
    with supersteps(spark, "k_core", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        cur = checkpoint(edges.select("src", "dst"), -1)
        deg = None
        for step in loop.steps(range(1, max_rounds + 1)):
            both = cur.union(cur.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            deg = both.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
            deg = checkpoint(deg, step)
            removed = deg.filter(F.col("deg") < k).select("vid")
            n_removed = removed.count()
            loop.done(n_removed)
            if n_removed == 0:
                break
            r_src = removed.withColumnRenamed("vid", "src")
            r_dst = removed.withColumnRenamed("vid", "dst")
            if n_removed <= _BROADCAST_REMOVED_MAX:
                r_src, r_dst = F.broadcast(r_src), F.broadcast(r_dst)
            cur = (
                cur.join(r_src, "src", "left_anti")
                .join(r_dst, "dst", "left_anti")
                .select("src", "dst")
            )
            cur = checkpoint(cur, step)
        else:
            raise RuntimeError(
                f"k_core(k={k}) did not reach its fixpoint within max_rounds={max_rounds}"
            )
    return deg.filter(F.col("deg") >= k).select("vid", F.col("deg").cast("long").alias("deg"))
