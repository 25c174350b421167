"""Absorbing random-walk hitting probabilities — P(walk from v reaches the
absorbing set within H steps) over a directed link graph.

The attribution primitive of funnel/flow analysis: with the tool-actor hubs
absorbing, ``h_H(turn)`` is the probability a uniform random surfer starting
at that turn performs a tool call within H transitions — the absorbing-chain
companion to PPR (which localizes mass AROUND seeds; this measures flow INTO
them). Finite-horizon backward recursion, well-defined on cyclic digraphs:

    h_0(v)   = [v ∈ A]
    h_t(v)   = 1                                if v ∈ A
             = (Σ_{(v,u)∈E} h_{t-1}(u)) / deg⁺(v)   otherwise (0 if deg⁺=0)

Exactness note (why this row hash-matches without an epsilon): on the
transcript flow digraph every NON-absorbing vertex has out-degree ≤ 2 (next
turn + at most one tool call — response arcs leave only tool vertices, whose
value is pinned to 1), and IEEE addition of two doubles is commutative
bit-for-bit, so the per-vertex sum is order-independent and the whole H-round
trajectory is a pure function of the graph. On graphs with wider fan-out the
values are engine-reproducible but sum-order-sensitive in the last ulp — the
same caveat every float-iterating row (PageRank, HITS) carries, handled by
the 1e-6 output rounding.

At 10^12 turns: per round one join of the arc table against the current
h-vector (both partitioned by vid — co-partitioned shuffle), one map-side
combinable sum keyed on src, one broadcast-free left join back onto vertices.
State per round is one (vid, h) table — checkpointable exactly like the
PageRank kernels (reference rhythm: elektra's batch supersteps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .universe import graph_input


def absorption_probability(
    arcs: DataFrame,
    absorbing: DataFrame,
    vertices: DataFrame,
    rounds: int,
) -> DataFrame:
    """→ (vid, h): hitting probability within ``rounds`` steps.

    ``arcs``: directed (src, dst). ``absorbing``: (vid) — forced to h=1.
    ``vertices``: (vid) — the full domain (isolated vertices report 0).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    arcs, universe = graph_input(arcs, vertices)
    a = absorbing.select(F.col("vid")).distinct()
    outdeg = arcs.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("deg"))
    flagged = (
        universe.join(a.withColumn("is_abs", F.lit(True)), "vid", "left")
        .join(outdeg, "vid", "left")
        .select("vid", F.coalesce("is_abs", F.lit(False)).alias("is_abs"), "deg")
        .persist()
    )
    h = flagged.select("vid", F.when(F.col("is_abs"), 1.0).otherwise(0.0).alias("h"))
    for _ in range(rounds):
        contrib = (
            arcs.join(h.withColumnRenamed("vid", "dst"), "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("h").alias("s"))
        )
        h = flagged.join(contrib, "vid", "left").select(
            "vid",
            F.when(F.col("is_abs"), 1.0)
            .otherwise(F.coalesce(F.col("s") / F.col("deg"), F.lit(0.0)))
            .alias("h"),
        )
    # flagged stays persisted: it appears rounds+1 times in the lazy plan and
    # is materialized once at the first action (an eager unpersist here would
    # drop the hint before any action ran)
    return h.select("vid", F.round("h", 6).alias("h"))
