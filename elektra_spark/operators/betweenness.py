"""Source-restricted, hop-bounded betweenness centrality (Brandes).

Not in the reference as a named operator (like bfs.py: the reference's
public surface is connectivity; this is the whole-graph analytics pass its
benchmark loop stands in for, elektra/benchmark.h:1) — betweenness is the
standard "who brokers the traffic" query every link-graph user runs next
to PageRank, so it ships as a first-class superstep operator here.

Brandes (J. Math. Sociol. 2001) computes betweenness as a sum of
per-source *dependencies*: a forward BFS from each source counts shortest
paths (``sigma``), then a backward pass over the BFS DAG accumulates

    delta_s(v) = sum_{w : succ of v}  sigma_s(v) / sigma_s(w) * (1 + delta_s(w))

and ``bc(v) = sum_{s in S} delta_s(v)``. Exact all-pairs betweenness sets
``S`` = every vertex; at web scale nobody runs that — the standard
estimator (Brandes & Pich, 2007) restricts ``S`` to a pivot sample, which
is exactly what this operator takes as its ``sources`` argument. The hop
bound is part of the operator contract like the repo's bounded BFS/SSSP
(bfs.py, sssp): dependencies are computed over the hop-``max_hops``
truncation of each source's shortest-path DAG, and the DuckDB twin caps
its unrolled chain identically.

Both phases are plain relational supersteps over the same frontier shapes
as the multi-source BFS (bfs.py), carrying ``(source, vid)`` keys so the
per-source BFS trees stay independent inside one job:

- **forward** superstep i: join the level-(i-1) frontier to the adjacency,
  sum ``sigma`` arriving at each ``(source, vid)`` (map-side combinable —
  a hub's fan-in collapses per partition), anti-join the per-source
  visited set. First-touch sigma is exact: shortest paths to a vertex at
  depth i pass only through neighbors at depth i-1.
- **backward** level i: join level-i vertices to their level-(i+1)
  successors through the adjacency and sum the Brandes ratio; one shuffled
  join + combinable sum per level, mirroring the forward cost.

At 100 TB: state is ``|S| × reached-vertices`` rows, linear in the pivot
sample; per-superstep shuffle volume is frontier × degree candidate rows,
the same envelope as one bounded-BFS superstep per source — and all
sources advance in the same superstep, so the job count is ``2 ×
max_hops`` regardless of ``|S|``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps


def betweenness(
    edges: DataFrame,
    sources: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 6,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, bc): Brandes dependency summed over ``sources``, hop-bounded.

    ``bc`` for a vertex never on a bounded shortest path between a source
    and another reached vertex is 0. Without ``vertices``, output rows
    cover every vertex reached at depth ≥ 1 in some source's tree; a
    source appears only via *other* sources' trees (its own level-0 delta
    is excluded per the standard definition), and never-reached vertices
    appear only with ``vertices``.
    """
    spark = edges.sparkSession
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if isinstance(sources, DataFrame):
        seed = sources.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in sources], "vid long").distinct()

    with supersteps(spark, "betweenness", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        level0 = checkpoint(
            seed.select(F.col("vid").alias("s"), "vid", F.lit(1.0).alias("sigma")), 0
        )
        levels = [level0]
        visited = level0.select("s", "vid")
        for step in loop.steps(range(1, max_hops + 1)):
            frontier = levels[-1]
            nxt = (
                both.join(frontier.withColumnRenamed("vid", "src"), "src")
                .groupBy("s", F.col("dst").alias("vid"))
                .agg(F.sum("sigma").alias("sigma"))
                .join(visited, ["s", "vid"], "left_anti")
            )
            nxt = checkpoint(nxt, step)
            n_new = nxt.count()
            loop.done(n_new)
            if n_new == 0:
                break
            levels.append(nxt)
            visited = checkpoint(visited.unionByName(nxt.select("s", "vid")), step)

        # backward dependency accumulation: deepest level has no successors
        # (delta = 0); walk the DAG back to level 1. The deepest level's
        # zero-delta rows join the output union so every reached non-source
        # vertex gets a row even without ``vertices``. Backward step ids live
        # above the forward range (max_hops + 1 + i for level i) so a shared
        # checkpoint namespace never collides.
        succ = levels[-1].withColumn("delta", F.lit(0.0))
        deltas: list[DataFrame] = [succ] if len(levels) > 1 else []
        for step in loop.steps(range(max_hops + len(levels) - 1, max_hops, -1)):
            i = step - max_hops - 1
            cur = levels[i]
            contrib = (
                cur.join(both, cur["vid"] == both["src"])
                .join(
                    succ.select("s", F.col("vid").alias("dst"), F.col("sigma").alias("sigma_w"), "delta"),
                    ["s", "dst"],
                )
                .groupBy("s", "vid")
                .agg(F.sum(F.col("sigma") / F.col("sigma_w") * (F.lit(1.0) + F.col("delta"))).alias("delta"))
            )
            # level-i vertices with no successors carry delta 0
            cur_d = cur.join(contrib, ["s", "vid"], "left").select(
                "s", "vid", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
            cur_d = checkpoint(cur_d, step)
            loop.done()
            succ = cur_d
            if i >= 1:  # the source's own delta (level 0) is not part of bc
                deltas.append(cur_d)

    if deltas:
        alld = deltas[0].select("vid", "delta")
        for d in deltas[1:]:
            alld = alld.unionByName(d.select("vid", "delta"))
        bc = alld.groupBy("vid").agg(F.sum("delta").alias("bc"))
    else:
        bc = spark.createDataFrame([], "vid long, bc double")
    if vertices is not None:
        bc = (
            vertices.select("vid")
            .join(bc, "vid", "left")
            .select("vid", F.coalesce("bc", F.lit(0.0)).alias("bc"))
        )
    return bc
