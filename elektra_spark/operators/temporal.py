"""Temporal (time-respecting) reachability — earliest-arrival relaxation.

Not in the reference (its graphs are untimestamped); mandated by the
transcript payload: turns carry ``ts``, so "could information have flowed
from A to B?" is a TEMPORAL question — a path counts only if its edge
timestamps are non-decreasing (Kempe–Kleinberg–Kumar temporal paths). On
the transcript link graph: reply edges fire at the later turn's timestamp,
and a tool-actor hop u → T → v is admissible only when v invoked the tool
no earlier than u did.

``earliest_arrival`` is the synchronous min-relaxation fixpoint: per round
one shuffled join of the (vid, arrival) vector into the static temporal
edge table with the eligibility predicate ``t ≥ arrival(src)``, then a
map-side-combinable ``min``. Identical plan family to
:func:`elektra_spark.operators.bfs.weighted_distance` — the adjacency is
hash-partitioned and persisted once, only the arrival vector re-exchanges,
so a round costs |E| relaxation rows at any scale. The hop bound is part
of the operator contract (earliest arrival over ≤ ``max_hops``-edge
temporal paths; the unrolled DuckDB twin caps identically); the loop exits
early only at the relaxation fixpoint, where further rounds are no-ops.

Monotone convergence: arrivals only decrease, and lowering ``arrival(src)``
only widens the eligible edge set ``t ≥ arrival(src)``, so the per-round
min operator is monotone on the finite lattice of (timestamp ∪ {0})
vectors — the fixpoint exists and the early exit is sound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .universe import graph_input, over_vertices


def earliest_arrival(
    tedges: DataFrame,
    sources: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 8,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    seed_arrival: int = 0,
) -> DataFrame:
    """→ (vid, arrival): minimum arrival time from any source over
    time-respecting directed paths of at most ``max_hops`` edges; sources
    arrive at ``seed_arrival`` (0 by default — free to depart at any
    non-negative edge time), unreached vertices get ``-1`` when
    ``vertices`` supplies the universe.

    ``tedges``: (src, dst, t) — directed temporal edges; traversing
    (src, dst, t) requires ``t ≥ arrival(src)`` and sets ``arrival(dst) ≤ t``.
    """
    spark = tedges.sparkSession
    te, _ = graph_input(
        tedges.select(F.col("src").cast("long"), F.col("dst").cast("long"), F.col("t").cast("long")), vertices
    )
    if isinstance(sources, DataFrame):
        seed = sources.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in sources], "vid long").distinct()

    with supersteps(spark, "earliest_arrival", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        te = checkpoint(te, -1)
        arr = checkpoint(seed.withColumn("arrival", F.lit(int(seed_arrival)).cast("long")), 0)
        for step in loop.steps(range(1, max_hops + 1)):
            relaxed = (
                te.join(
                    arr.withColumnRenamed("vid", "src").withColumnRenamed("arrival", "a"),
                    "src",
                )
                .filter(F.col("t") >= F.col("a"))
                .select(F.col("dst").alias("vid"), F.col("t").alias("arrival"))
            )
            nxt = (
                arr.unionByName(relaxed)
                .groupBy("vid")
                .agg(F.min("arrival").alias("arrival"))
            )
            nxt = checkpoint(nxt, step)
            # same monotone early-exit argument as weighted_distance: the
            # vertex set only grows and per-vid arrivals only drop, so a
            # two-column anti-join detects both kinds of change
            changed = nxt.join(arr, ["vid", "arrival"], "left_anti").limit(1).count()
            loop.done(changed)
            arr = nxt
            if changed == 0:
                break
    out = arr.select("vid", F.col("arrival").cast("long").alias("arrival"))
    return over_vertices(out, vertices, {"arrival": F.lit(-1)})


#: seed arrival for the reversed/negated reduction — below every negated
#: timestamp, so targets are eligible for all of their incident reverse edges
_NEG_INF = -(1 << 62)


def latest_departure(
    tedges: DataFrame,
    targets: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 8,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, departure) for NON-target vertices: the latest time one can
    leave ``vid`` and still reach some target over a time-respecting path of
    ≤ ``max_hops`` edges; ``-1`` if no such path (edge times are positive
    epoch seconds, so ``-1`` is unambiguous). Targets themselves are
    excluded from the output — their departure is unbounded.

    The classic reduction onto :func:`earliest_arrival`: reverse every edge
    and negate its time. A forward path v →…→ target with non-decreasing
    times t₁ ≤ … ≤ t_k becomes a reverse path target →…→ v with
    non-decreasing negated times −t_k ≤ … ≤ −t₁, and minimizing the reverse
    arrival −t₁ maximizes the forward departure t₁ — so
    ``departure(v) = −arrival_rev(v)`` exactly, hop bound preserved. One
    kernel, both temporal directions."""
    tedges, _ = graph_input(tedges, vertices)
    rev = tedges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), (-F.col("t")).cast("long").alias("t")
    )
    a = earliest_arrival(
        rev,
        targets,
        vertices=None,
        max_hops=max_hops,
        checkpoint=checkpoint,
        on_superstep=on_superstep,
        seed_arrival=_NEG_INF,
    )
    spark = tedges.sparkSession
    if isinstance(targets, DataFrame):
        tset = targets.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        tset = spark.createDataFrame([(int(v),) for v in targets], "vid long").distinct()
    out = a.select("vid", (-F.col("arrival")).cast("long").alias("departure"))
    return over_vertices(out, vertices, {"departure": F.lit(-1)}).join(tset, "vid", "left_anti")
