"""Parallel maximal matching — Luby-style symmetric breaking on edges.

The edge-side sibling of :func:`elektra_spark.operators.walks.
maximal_independent_set` (an MIS on the line graph, computed directly on
the edge relation — materializing the line graph would square the data):
each round every ALIVE edge draws a deterministic per-round priority, an
edge enters the matching iff it is the strict ``(h, src, dst)`` minimum
among the alive edges at BOTH endpoints (the classic locally-minimal-edge
rule — two local minima never share a vertex, so winners are independent),
then everything incident to a matched vertex retires. Re-hashing per round
(Israeli–Itai style) keeps the expected geometric shrink. Maximality: the
loop only stops when no edge is alive, and an edge retires only when an
endpoint got matched.

Priority is the repo's portable md5 slice of ``"round:src:dst"`` — NOT the
walks module's linear arithmetic hash: on reply-chain edges (v, v+1) a
linear-in-vid hash is locally monotone along the chain, leaving ONE local
minimum per run and degrading the parallel round count to O(chain length)
(measured: 16 rounds shrank the transcript alive set only ~13%/round; md5
priorities empty it in 3). md5 keeps the twin bit-identical anyway.

Scale shape: per round ONE shuffle keyed on vid (the incident-min
aggregation — map-side combinable min) plus broadcast-size winner
semi-joins; state is the alive edge table, strictly shrinking. Same plan
family as a CC superstep; hub vertices cost a combiner, not a hot reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .universe import graph_input


def _edge_priority(rnd: int) -> F.Column:
    """Per-round md5 edge priority — 12 hex chars (< 2^48, exact BIGINT in
    both engines) of the canonical "round:src:dst" key."""
    key = F.concat_ws(":", F.lit(rnd), F.col("src"), F.col("dst"))
    return F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("long")


def maximal_matching(
    edges: DataFrame,
    max_rounds: int = 64,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (src, dst): a maximal matching of the undirected graph — no two
    matched edges share a vertex; every unmatched alive edge would conflict.
    Input edges are canonicalized (src < dst, deduped, self-loop-free)."""
    spark = edges.sparkSession
    e = (
        edges.select(
            F.least("src", "dst").cast("long").alias("src"),
            F.greatest("src", "dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    with supersteps(spark, "maximal_matching", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        alive = checkpoint(e, 0)
        matched: DataFrame | None = None
        for rnd in loop.steps(range(1, max_rounds + 1)):
            pri = alive.select("src", "dst", _edge_priority(rnd).alias("h"))
            inc = pri.select(F.col("src").alias("vid"), "h", "src", "dst").unionByName(
                pri.select(F.col("dst").alias("vid"), "h", "src", "dst")
            )
            vmin = inc.groupBy("vid").agg(
                F.min(F.struct("h", "src", "dst")).alias("m")
            )
            key = F.struct("h", "src", "dst")
            winners = (
                pri.join(vmin.withColumnRenamed("vid", "src"), "src")
                .filter(key == F.col("m"))
                .drop("m")
                .join(vmin.withColumnRenamed("vid", "dst"), "dst")
                .filter(key == F.col("m"))
                .select("src", "dst")
            )
            winners = checkpoint(winners, rnd)
            n_new = winners.count()
            loop.done(n_new)
            matched = (
                winners
                if matched is None
                else checkpoint(matched.unionByName(winners), rnd)
            )
            _, mv = graph_input(winners)
            alive = checkpoint(
                alive.join(mv.withColumnRenamed("vid", "src"), "src", "left_anti").join(
                    mv.withColumnRenamed("vid", "dst"), "dst", "left_anti"
                ).select("src", "dst"),
                rnd,
            )
            if alive.limit(1).count() == 0:
                break
        else:
            raise RuntimeError(f"matching did not finish in {max_rounds} rounds")
    return matched if matched is not None else e.limit(0)


def contract_matching(edges: DataFrame, matching: DataFrame) -> DataFrame:
    """→ (src, dst, weight): the coarse graph obtained by contracting every
    matched pair to its lower endpoint — ONE level of the multilevel
    coarsening scheme behind METIS/Louvain-style partitioners (Karypis &
    Kumar 1998). ``weight`` counts the distinct fine edges merged into each
    coarse edge, so iterating (match → contract) preserves cut weights
    exactly — the invariant multilevel partitioning relies on.

    Plan shape: two hash joins mapping endpoints through the (vid → rep)
    table (matching is a set of disjoint pairs, so rep is a plain column
    expression — no fixpoint), then one combinable groupBy(src, dst) count.
    Intra-pair edges become self-loops and are dropped. The vertex count
    shrinks by exactly |matching| per level; on bounded-degree graphs the
    matching is a constant fraction of vertices, so levels are O(log n).
    """
    e = (
        edges.select(
            F.least("src", "dst").cast("long").alias("src"),
            F.greatest("src", "dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rep = matching.select(
        F.col("dst").cast("long").alias("vid"), F.col("src").cast("long").alias("rep")
    )
    rs = rep.withColumnRenamed("vid", "src").withColumnRenamed("rep", "rs")
    rd = rep.withColumnRenamed("vid", "dst").withColumnRenamed("rep", "rd")
    mapped = (
        e.join(rs, "src", "left")
        .join(rd, "dst", "left")
        .select(
            F.coalesce("rs", F.col("src")).alias("a"),
            F.coalesce("rd", F.col("dst")).alias("b"),
        )
    )
    return (
        mapped.select(F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
    )


def coarsen(
    edges: DataFrame,
    levels: int = 1,
    checkpoint: CheckpointFn | None = None,
) -> DataFrame:
    """→ (src, dst, weight): ``levels`` rounds of (maximal matching →
    contract). Level 1 weights count fine edges; deeper levels sum the
    weights of the edges they merge (exact cut preservation)."""
    # one checkpointer (the caller's, else a RetainedCheckpointer) serves
    # every level's matching loop
    with supersteps(edges.sparkSession, "coarsen", checkpoint, no_aqe=False) as loop:
        checkpoint = loop.checkpoint
        coarse = contract_matching(edges, maximal_matching(edges, checkpoint=checkpoint))
        for lvl in range(1, levels):
            coarse = checkpoint(coarse, -lvl)
            m = maximal_matching(coarse.select("src", "dst"), checkpoint=checkpoint)
            rep = m.select(F.col("dst").alias("vid"), F.col("src").alias("rep"))
            rs = rep.withColumnRenamed("vid", "src").withColumnRenamed("rep", "rs")
            rd = rep.withColumnRenamed("vid", "dst").withColumnRenamed("rep", "rd")
            coarse = (
                coarse.join(rs, "src", "left")
                .join(rd, "dst", "left")
                .select(
                    F.coalesce("rs", F.col("src")).alias("a"),
                    F.coalesce("rd", F.col("dst")).alias("b"),
                    "weight",
                )
                .select(
                    F.least("a", "b").alias("src"),
                    F.greatest("a", "b").alias("dst"),
                    "weight",
                )
                .filter(F.col("src") != F.col("dst"))
                .groupBy("src", "dst")
                .agg(F.sum("weight").alias("weight"))
            )
    return coarse
