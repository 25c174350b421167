"""Densest subgraph — the parallel 2(1+ε)-approximation of Bahmani, Kumar,
Vazirani (VLDB 2012): repeatedly delete EVERY vertex whose degree is at
most 2(1+ε) times the current average density, and keep the round whose
surviving set had the highest density m/n.

The sequential Charikar peel (remove ONE min-degree vertex per step) is a
2-approximation but needs n rounds; the batch rule removes a constant
fraction per round — O(log n) supersteps — at an ε of extra approximation.
This is the canonical "dense core" extractor for link graphs (spam farms,
hub cores, co-citation cliques).

Determinism/exactness: the removal test and the best-round argmax are pure
integer comparisons —

    remove v   iff  deg(v) · n · 1000 ≤ 2 · (1000 + εₚₘ) · m
    r* = argmax m_r / n_r   via cross-multiplied m_i·n_j comparisons

— no float density anywhere; the whole peel schedule is a pure function of
the graph and εₚₘ.

Per round: one map-side-combinable degree count, two scalar aggregates, two
anti-joins to drop removed endpoints (all keyed on vid). The alive edge set
shrinks geometrically; localCheckpoint truncates the per-round lineage the
same way the Louvain kernel does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .universe import graph_input


def densest_subgraph(
    edges: DataFrame, eps_permille: int = 100, max_rounds: int = 64
) -> DataFrame:
    """→ (vid, removed_round, in_densest): the peel schedule plus membership
    in the densest surviving set (alive at the start of round r*)."""
    if eps_permille < 0:
        raise ValueError(f"eps_permille must be >= 0, got {eps_permille}")
    spark = edges.sparkSession
    alive = (
        edges.select(
            F.least("src", "dst").cast("long").alias("src"),
            F.greatest("src", "dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = graph_input(alive)[1].localCheckpoint(eager=True)
    removed_parts: list[DataFrame] = []
    sched: list[tuple[int, int, int]] = []  # (round, n, m)
    coef = 2 * (1000 + eps_permille)
    for r in range(max_rounds):
        b = alive.union(alive.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        cnt = b.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("d"))
        # alive VERTICES, not just edge endpoints: a vertex isolated by its
        # neighbors' removal has degree 0 and must be peeled this round
        deg = (
            verts.join(cnt, "vid", "left")
            .select("vid", F.coalesce("d", F.lit(0)).alias("d"))
            .localCheckpoint(eager=True)
        )
        m = alive.count()
        n = deg.count()
        if n == 0:
            break
        sched.append((r, n, m))
        rm = deg.filter(F.col("d") * n * 1000 <= coef * m).select("vid").localCheckpoint(eager=True)
        removed_parts.append(rm.withColumn("removed_round", F.lit(r).cast("long")))
        if rm.count() == n:
            # the removal set is the whole remaining vertex set: done — no
            # extra observation round needed (which also made a peel that
            # landed exactly on round max_rounds-1 spuriously raise)
            break
        verts = verts.join(rm, "vid", "left_anti").localCheckpoint(eager=True)
        alive = (
            alive.join(rm.withColumnRenamed("vid", "src"), "src", "left_anti")
            .join(rm.withColumnRenamed("vid", "dst"), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"densest_subgraph did not empty within {max_rounds} rounds")
    if not sched:
        # empty input graph: nothing peeled, nothing densest
        return edges.sparkSession.createDataFrame(
            [], "vid long, removed_round long, in_densest boolean"
        )
    # best round: exact integer argmax of m/n, lowest round on ties
    best_r, best_n, best_m = 0, sched[0][1], sched[0][2]
    for r, n, m in sched[1:]:
        if m * best_n > best_m * n:
            best_r, best_n, best_m = r, n, m
    removed = removed_parts[0]
    for p in removed_parts[1:]:
        removed = removed.unionByName(p)
    return removed.select(
        "vid",
        "removed_round",
        (F.col("removed_round") >= best_r).alias("in_densest"),
    )
