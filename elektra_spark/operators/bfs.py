"""Bounded multi-source BFS hop distance — frontier-expansion supersteps.

Not in the reference as a named operator, but it is the primitive behind
elektra's connectivity queries (``IsConnected`` is "hop distance < ∞",
connectivity.h:30-31) and the k-hop-neighborhood query every link-graph
user runs (seed expansion, influence radius, crawl frontier). Semantics are
pinned for exact oracle reproducibility:

- **multi-source**: distance is the minimum hop count from *any* seed,
- **bounded**: exploration stops after ``max_hops`` supersteps; vertices
  beyond the bound (or in another component) report ``dist = -1`` — the
  bound is part of the operator contract (k-hop neighborhood), not a
  convergence heuristic, so the DuckDB twin caps its recursion identically.

Execution is textbook BSP frontier expansion:

1. the both-directions adjacency is materialized **once** (static relation,
   step < 0 in the checkpointer — hash-partitioned and persisted, so every
   superstep's join reuses the same exchange),
2. each superstep joins the current frontier against the adjacency,
   dedupes candidates (map-side combinable ``distinct``), and anti-joins
   the visited set to produce the next frontier,
3. the visited set grows monotonically; each superstep is checkpointed to
   truncate lineage (the RetainedCheckpointer of :mod:`elektra_spark.checkpoint`).

At 100 TB: per-superstep shuffle volume is ``|frontier| × avg-degree``
candidate rows — proportional to the wavefront, not the graph. The visited
anti-join keys both sides by ``vid`` so it co-partitions with the frontier
dedup; hub vertices are harmless because ``distinct``/anti-join are
map-side combinable. Early termination on an empty frontier makes the
bounded and unbounded cases the same loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps


def _expand_frontier(
    spark,
    operator: str,
    both: DataFrame,
    seed: DataFrame,
    keys: list[str],
    max_hops: int,
    checkpoint: CheckpointFn | None,
    on_superstep: SuperstepHook | None,
) -> DataFrame:
    """Shared BFS frontier-expansion loop → the visited set (keys + dist),
    run as ``operator``'s superstep loop.

    ``keys`` names the state key columns, last one always ``vid`` (the
    vertex the frontier expands through); extra leading keys ride along
    unchanged — ``hop_distance`` uses ``["vid"]`` (min over seeds),
    ``harmonic_centrality`` uses ``["lmk", "vid"]`` (per-landmark
    distances). One loop, so the checkpoint discipline / dedup / anti-join
    / early-exit semantics cannot diverge between the two operators.
    """
    carry = [k for k in keys if k != "vid"]
    with supersteps(spark, operator, checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        visited = checkpoint(seed, 0)
        frontier = visited.select(*keys)
        for step in loop.steps(range(1, max_hops + 1)):
            nxt = (
                both.join(frontier.withColumnRenamed("vid", "src"), "src")
                .select(*carry, F.col("dst").alias("vid"))
                .distinct()
                .join(visited.select(*keys), keys, "left_anti")
                .withColumn("dist", F.lit(step))
            )
            nxt = checkpoint(nxt, step)
            n_new = nxt.count()
            loop.done(n_new)
            if n_new == 0:
                break
            visited = checkpoint(visited.unionByName(nxt), step)
            frontier = nxt.select(*keys)
    return visited


def hop_distance(
    edges: DataFrame,
    sources: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 12,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, dist): min hop count from any source, ``-1`` if unreached
    within ``max_hops`` (rows for unreached vertices require ``vertices``).
    """
    spark = edges.sparkSession
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if isinstance(sources, DataFrame):
        seed = sources.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in sources], "vid long").distinct()

    visited = _expand_frontier(
        spark, "hop_distance", both, seed.withColumn("dist", F.lit(0)), ["vid"], max_hops,
        checkpoint, on_superstep,
    )
    out = visited.select("vid", F.col("dist").cast("int").alias("dist"))
    if vertices is not None:
        out = (
            vertices.select("vid")
            .join(out, "vid", "left")
            .select("vid", F.coalesce("dist", F.lit(-1)).cast("int").alias("dist"))
        )
    return out


def weighted_distance(
    edges: DataFrame,
    sources: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 12,
    weight: str | None = None,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """Hop-bounded single/multi-source shortest paths (synchronous
    Bellman–Ford) → (vid, dist): minimum *weighted* distance from any source
    over paths of at most ``max_hops`` edges, ``-1`` if unreached.

    ``weight`` names an integer edge-weight column; when ``None`` the weight
    defaults to ``1 + (src + dst) % 5`` — a deterministic vid-derived weight
    the DuckDB twin recomputes from the same expression, so engine and
    oracle share the weight function by construction.

    Same contract discipline as :func:`hop_distance`: the hop bound is part
    of the operator semantics (min over ≤ ``max_hops``-edge paths — the
    recursive-CTE twin caps identically), not a convergence heuristic, and
    the loop exits early only at the relaxation fixpoint, where further
    rounds are no-ops. Integer weights keep the oracle's recursion closure
    finite (≤ ``max_hops × max_w`` distinct distances per vertex).

    Per round: one shuffled join of the distance vector into the static
    (hash-partitioned, persisted) adjacency + a map-side-combinable
    ``min()`` — the PageRank-df plan shape with ``min`` for ``sum``. At
    100 TB the round cost is |E| relaxation rows; the distance vector is
    the only side that re-exchanges.
    """
    spark = edges.sparkSession
    w_expr = F.col(weight).cast("long") if weight else (F.lit(1) + (F.col("src") + F.col("dst")) % 5).cast("long")
    fwd = edges.select("src", "dst", w_expr.alias("w"))
    both = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    if isinstance(sources, DataFrame):
        seed = sources.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in sources], "vid long").distinct()

    with supersteps(spark, "weighted_distance", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        dist = checkpoint(seed.withColumn("dist", F.lit(0).cast("long")), 0)
        for step in loop.steps(range(1, max_hops + 1)):
            relaxed = (
                both.join(dist.withColumnRenamed("vid", "src").withColumnRenamed("dist", "d"), "src")
                .select(F.col("dst").alias("vid"), (F.col("d") + F.col("w")).alias("dist"))
            )
            nxt = (
                dist.unionByName(relaxed)
                .groupBy("vid")
                .agg(F.min("dist").alias("dist"))
            )
            nxt = checkpoint(nxt, step)
            # fixpoint probe: rounds past the fixpoint are no-ops, so early
            # exit preserves the ≤ max_hops-edge-paths contract exactly.
            # Monotonicity (vertex set only grows, per-vid min only drops)
            # makes one two-column anti-join equivalent to "new vid OR
            # improved dist" — a changed row's (vid, dist) pair is absent
            # from the previous table either way
            changed = nxt.join(dist, ["vid", "dist"], "left_anti").limit(1).count()
            loop.done(changed)
            dist = nxt
            if changed == 0:
                break
    out = dist.select("vid", F.col("dist").cast("long").alias("dist"))
    if vertices is not None:
        out = (
            vertices.select("vid")
            .join(out, "vid", "left")
            .select("vid", F.coalesce("dist", F.lit(-1)).cast("long").alias("dist"))
        )
    return out


def _lcm_upto(n: int) -> int:
    import math

    out = 1
    for k in range(2, n + 1):
        out = out * k // math.gcd(out, k)
    return out


def harmonic_centrality(
    edges: DataFrame,
    landmarks: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 12,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """Landmark harmonic centrality → (vid, harmonic):
    ``Σ_{l ∈ landmarks, 0 < d(l,v) ≤ max_hops} 1 / d(l, v)``.

    The standard scalable estimator for closeness-family centrality
    (Eppstein–Wang sampling; Boldi–Vigna "Axioms for centrality" uses the
    harmonic form because unreachable pairs contribute 0 instead of ∞):
    exact all-pairs BFS is Θ(|V|·|E|), so production samples a landmark
    set and sums inverse distances from it — the estimator this operator
    computes *exactly* for the given landmarks. Hop bound and landmark set
    are the operator contract, mirrored by the DuckDB twin's capped
    recursive CTE.

    Execution is :func:`hop_distance` with a composite ``(lmk, vid)`` key —
    per-landmark distances, not the min over seeds: one static
    both-directions adjacency (hash-partitioned, persisted), per superstep
    one join of the frontier against it + a map-side-combinable
    ``distinct`` + an anti-join against the visited set. At 100 TB the
    state is |landmarks| × reached rows and the per-round shuffle is
    wavefront × avg-degree — both scale with the landmark budget, which is
    the knob the estimator literature tunes.

    **Exact cross-engine reproducibility**: the inverse-distance sum is
    computed in integer arithmetic first — ``Σ (L / d)`` with
    ``L = lcm(1..max_hops)`` is an exact integer (every ``L / d`` divides
    evenly), and one final IEEE division by ``L`` gives a double identical
    in any summation order, so the 1e-6 rounding can never straddle an
    engine-dependent ulp.
    """
    spark = edges.sparkSession
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if isinstance(landmarks, DataFrame):
        seed = landmarks.select(F.col("vid").cast("long").alias("lmk")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in landmarks], "lmk long").distinct()

    visited = _expand_frontier(
        spark,
        "harmonic_centrality",
        both,
        seed.select("lmk", F.col("lmk").alias("vid"), F.lit(0).alias("dist")),
        ["lmk", "vid"],
        max_hops,
        checkpoint,
        on_superstep,
    )
    L = _lcm_upto(max_hops)
    scaled = visited.filter(F.col("dist") > 0).groupBy("vid").agg(
        F.sum(F.expr(f"cast({L} div dist as long)")).alias("s")
    )
    out = scaled.select("vid", F.round(F.col("s").cast("double") / F.lit(float(L)), 6).alias("harmonic"))
    if vertices is not None:
        out = (
            vertices.select("vid")
            .join(out, "vid", "left")
            .select("vid", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
        )
    return out


def closeness_centrality(
    edges: DataFrame,
    landmarks: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 12,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """Landmark closeness → (vid, closeness): ``R(v) / Σ d(l, v)`` over
    landmarks with ``0 < d ≤ max_hops``, where ``R`` is the reached-landmark
    count — Lin's-index form, so partial reachability scales the score down
    instead of blowing it up, the same disconnection-robustness motivation
    as :func:`harmonic_centrality`. Vertices reaching no landmark score 0.

    Same estimator contract (landmark set + hop bound ARE the semantics)
    and the same cross-engine exactness argument: both ``R`` and ``Σ d``
    are integer aggregates, and the single final IEEE division is
    summation-order-independent. Execution is the identical per-landmark
    frontier expansion (one shared ``_expand_frontier`` loop), so the
    100 TB envelope matches harmonic's: |landmarks| × reached state rows.
    """
    spark = edges.sparkSession
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if isinstance(landmarks, DataFrame):
        seed = landmarks.select(F.col("vid").cast("long").alias("lmk")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in landmarks], "lmk long").distinct()

    visited = _expand_frontier(
        spark,
        "closeness_centrality",
        both,
        seed.select("lmk", F.col("lmk").alias("vid"), F.lit(0).alias("dist")),
        ["lmk", "vid"],
        max_hops,
        checkpoint,
        on_superstep,
    )
    agg = visited.filter(F.col("dist") > 0).groupBy("vid").agg(
        F.count("*").alias("r"), F.sum("dist").alias("sd")
    )
    out = agg.select(
        "vid", F.round(F.col("r").cast("double") / F.col("sd").cast("double"), 6).alias("closeness")
    )
    if vertices is not None:
        out = (
            vertices.select("vid")
            .join(out, "vid", "left")
            .select("vid", F.coalesce("closeness", F.lit(0.0)).alias("closeness"))
        )
    return out


def pseudo_diameter(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_hops: int = 40,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """Double-sweep pseudo-diameter → one row
    (start, far1, ecc_start, far2, pseudo_diameter).

    The standard scalable diameter estimator (Magnien–Latapy–Habib, JEA
    2009): BFS from a fixed start, BFS again from the farthest vertex
    found; the second eccentricity is a lower bound on the true diameter
    that is exact on trees and empirically tight on small-world graphs —
    2 BFS instead of the Θ(|V|·|E|) all-pairs sweep. Deterministic
    contract: start = the minimum vid incident to any edge; each sweep's
    "farthest" = max distance, ties broken by minimum vid; sweeps bounded
    at ``max_hops`` (unreached vertices are outside the estimate — the
    bound is the contract, mirrored by the twin's capped recursions).

    Cost = two :func:`hop_distance` runs (each early-exits at its
    component's eccentricity) + two TakeOrdered-style argmax cuts.
    """
    spark = edges.sparkSession
    e = edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
    start_row = e.select(F.least(F.min("src"), F.min("dst")).alias("v")).collect()[0]
    if start_row["v"] is None:
        return spark.createDataFrame(
            [], "start long, far1 long, ecc_start int, far2 long, pseudo_diameter int"
        )
    start = int(start_row["v"])

    def far_of(dist_df):
        row = (
            dist_df.filter(F.col("dist") >= 0)
            .orderBy(F.col("dist").desc(), F.col("vid"))
            .limit(1)
            .collect()[0]
        )
        return int(row["vid"]), int(row["dist"])

    d1 = hop_distance(e, [start], max_hops=max_hops, checkpoint=checkpoint, on_superstep=on_superstep)
    far1, ecc1 = far_of(d1)
    d2 = hop_distance(e, [far1], max_hops=max_hops, checkpoint=checkpoint, on_superstep=on_superstep)
    far2, ecc2 = far_of(d2)
    return spark.createDataFrame(
        [(start, far1, ecc1, far2, ecc2)],
        "start long, far1 long, ecc_start int, far2 long, pseudo_diameter int",
    )


WIDEST_SOURCE_W = 999  # zero-edge paths have infinite bottleneck; capped to a sentinel above any real edge weight


def widest_path(
    edges: DataFrame,
    sources: DataFrame | list[int],
    vertices: DataFrame | None = None,
    max_hops: int = 12,
    weight: str | None = None,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """Hop-bounded widest (maximum-bottleneck) paths → (vid, width): the
    maximum over ≤ ``max_hops``-edge paths from any source of the MINIMUM
    edge weight along the path; ``-1`` if unreached, ``WIDEST_SOURCE_W``
    for the sources themselves (the empty path's bottleneck is +∞, capped
    to a sentinel above every real weight). The max-min dual of
    :func:`weighted_distance` — the "how strong is the strongest route"
    question (capacity routing, trust propagation) next to its "how cheap"
    one; same contract discipline, same per-round plan shape (one shuffled
    join into the static adjacency + a combinable ``max``), and the same
    default vid-derived integer weight the DuckDB twin recomputes. Integer
    widths ∈ {1..max_w} ∪ {sentinel} keep the twin's recursion closure
    finite."""
    spark = edges.sparkSession
    w_expr = F.col(weight).cast("long") if weight else (F.lit(1) + (F.col("src") + F.col("dst")) % 5).cast("long")
    fwd = edges.select("src", "dst", w_expr.alias("w"))
    both = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    if isinstance(sources, DataFrame):
        seed = sources.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in sources], "vid long").distinct()
    with supersteps(spark, "widest_path", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        width = checkpoint(seed.withColumn("width", F.lit(WIDEST_SOURCE_W).cast("long")), 0)
        for step in loop.steps(range(1, max_hops + 1)):
            relaxed = (
                both.join(width.withColumnRenamed("vid", "src").withColumnRenamed("width", "wd"), "src")
                .select(F.col("dst").alias("vid"), F.least("wd", "w").alias("width"))
            )
            nxt = width.unionByName(relaxed).groupBy("vid").agg(F.max("width").alias("width"))
            nxt = checkpoint(nxt, step)
            # monotone (per-vid max only rises, vertex set only grows), so
            # the two-column anti-join is an exact change probe
            changed = nxt.join(width, ["vid", "width"], "left_anti").limit(1).count()
            loop.done(changed)
            width = nxt
            if changed == 0:
                break
    out = width.select("vid", F.col("width").cast("long").alias("width"))
    if vertices is not None:
        out = (
            vertices.select("vid")
            .join(out, "vid", "left")
            .select("vid", F.coalesce("width", F.lit(-1)).cast("long").alias("width"))
        )
    return out
