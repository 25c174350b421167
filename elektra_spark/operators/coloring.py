"""Jones–Plassmann greedy graph coloring — priority-ordered parallel rounds.

Third of the repo's symmetry-breaking trio (MIS: walks.py, maximal
matching: matching.py): every vertex draws one deterministic md5 priority;
each round, every uncolored vertex whose priority is a strict local
maximum among its UNCOLORED neighbors takes the smallest color absent
from its already-colored neighborhood. Vertices decide exactly once, the
order is a fixed function of the priorities, so the full coloring — color
VALUES, not just validity — is deterministic and the DuckDB twin replays
it round-for-round (Jones & Plassmann, SIAM J. Sci. Comput. 1993).

Unlike MIS/matching the priority is drawn ONCE (not per round): JP's
round count is the longest decreasing-priority path, O(log n / log log n)
w.h.p. on bounded degree, and a fixed priority is what makes the color
assignment a pure function of the graph.

Scale shape: per round one shuffle keyed on vid (min-absent-color needs
the colored neighborhood; the local-max test needs the uncolored
neighborhood — both are grouped aggregations over the same edge join).
State = the uncolored frontier, strictly shrinking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps


def _vertex_priority() -> F.Column:
    """One md5 priority per vertex — 12 hex chars (< 2^48, exact in both
    engines) of "jp:<vid>"; (h, vid) totally orders the vertices."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("jp:"), F.col("vid").cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")


def greedy_coloring(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 64,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, color): the Jones–Plassmann greedy coloring (0-based colors;
    adjacent vertices never share one; isolated vertices take color 0)."""
    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if vertices is not None:
        universe = vertices.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        universe = both.select(F.col("src").alias("vid")).distinct()
    with supersteps(spark, "greedy_coloring", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        pri = universe.select("vid", _vertex_priority().alias("h"))
        uncolored = checkpoint(pri, 0)
        colored: DataFrame | None = None  # (vid, color)
        for rnd in loop.steps(range(1, max_rounds + 1)):
            # strict local max among UNCOLORED neighbors (absent ⇒ wins)
            nbr_max = (
                both.join(uncolored.withColumnRenamed("vid", "src").withColumnRenamed("h", "hs"), "src")
                .join(uncolored.select(F.col("vid").alias("dst"), F.col("h").alias("hd")), "dst")
                .groupBy(F.col("src").alias("vid"))
                .agg(F.max(F.struct(F.col("hd"), F.col("dst"))).alias("nm"))
            )
            winners = (
                uncolored.join(nbr_max, "vid", "left")
                .filter(
                    F.col("nm").isNull()
                    | (F.struct(F.col("h"), F.col("vid")) > F.struct(F.col("nm.hd"), F.col("nm.dst")))
                )
                .select("vid")
            )
            # smallest color absent from the already-colored neighborhood:
            # sort the distinct neighbor colors per winner and take the first
            # index where color != position (all-dense ⇒ the count)
            if colored is not None:
                nbr_colors = (
                    both.join(winners.withColumnRenamed("vid", "src"), "src")
                    .join(
                        colored.select(F.col("vid").alias("dst"), "color"), "dst"
                    )
                    .groupBy(F.col("src").alias("vid"))
                    .agg(F.array_sort(F.collect_set("color")).alias("cs"))
                )
                new_colored = (
                    winners.join(nbr_colors, "vid", "left")
                    .select(
                        "vid",
                        F.coalesce(
                            # try_element_at: NULL (not an ANSI error) when
                            # every prefix position is dense
                            F.expr(
                                "try_element_at(filter(transform(cs, (c, i) -> IF(c != i, i, -1)), x -> x >= 0), 1)"
                            ),
                            F.size(F.coalesce(F.col("cs"), F.array())).cast("int"),
                        ).alias("color"),
                    )
                )
            else:
                new_colored = winners.select("vid", F.lit(0).alias("color"))
            new_colored = checkpoint(new_colored.select("vid", F.col("color").cast("int").alias("color")), rnd)
            n_new = new_colored.count()
            loop.done(n_new)
            colored = (
                new_colored
                if colored is None
                else checkpoint(colored.unionByName(new_colored), rnd)
            )
            uncolored = checkpoint(
                uncolored.join(new_colored.select("vid"), "vid", "left_anti"), rnd
            )
            if uncolored.limit(1).count() == 0:
                break
        else:
            raise RuntimeError(f"coloring did not finish in {max_rounds} rounds")
    return colored.select("vid", "color")
