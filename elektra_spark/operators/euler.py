"""Explicit Euler-tour sequence over a spanning forest — the set-oriented
re-expression of the reference's parallel skip-list tour machinery.

The reference represents each tree of the spanning forest as a circular
Euler tour stored in a concurrent augmented skip list
(``parallel_euler_tour_tree/euler_tour_tree.h``,
``parallel_skip_list/skip_list.h``). Rounds 1-4 deliberately did NOT rebuild
that structure (SURVEY.md §7.3): every *query* it answers (representatives,
component sizes/slices, subsequence sums) is computed directly from the
label/edge tables. This module closes the remaining gap for users who want
the SEQUENCE itself — the tour order of arcs — as a first-class relation:

- :func:`euler_tour` materializes, per tree, the circular Euler tour of the
  doubled edges as ``(tour, src, dst, pos)`` rows. Successor pointers come
  from one JVM window pass (the classic parallel Euler-tour construction:
  the successor of arc ``(u,v)`` is ``(v, next-neighbor-of-u-in-sorted-
  adjacency-of-v)``), and positions come from Wyllie pointer-doubling list
  ranking — O(log L) BSP supersteps, each one self-join, with per-round
  checkpointing to truncate lineage. This is the honest distributed
  analogue of skip-list ``Join``/``BatchJoin`` building the sequence
  (skip_list.h:246-262, augmented_skip_list.h:374-419): the reference
  stitches pointers level by level; a BSP engine derives the whole order
  relation in log rounds.
- :func:`tour_heights` assigns each arc the deterministic geometric(1/2)
  height the reference draws randomly per skip-list node
  (skip_list.h:109-119): the number of trailing zero bits of an arithmetic
  mix of the arc key (exact-arithmetic on both Spark and any ANSI-SQL
  oracle — no dialect-specific hash).
- :func:`find_taller_parents` computes, per arc, the nearest preceding and
  following arc of strictly greater height — ``FindLeftParent`` /
  ``FindRightParent`` (skip_list.h:183-206) — via one window pass per
  direction with a last-seen-position column per height level (heights are
  ≤ 32, so this is a constant number of expressions over ONE sort, not a
  quadratic self-join).
- :func:`tour_range_sum` is ``GetSubsequenceSum`` over real tour positions
  (augmented_skip_list.h:421-470).
- :func:`batch_retour` re-establishes tours after a batch of links and cuts
  — the outcome of ``BatchJoin``/``BatchSplit`` + splice
  (euler_tour_tree.h:273-369,399-561) — recomputing ONLY the affected
  components' tours (broadcast semi-join scoping, same affected-scope
  policy as :mod:`elektra_spark.dynamic.updates`) and keeping every
  untouched tour's rows verbatim.

Scale notes: successor construction is one hash shuffle of the arc table
(window partition by ``dst``; a hub vertex's adjacency sorts within one
partition — same skew profile as any per-vertex window). Ranking moves the
arc table twice per doubling round for ceil(log2(L)) rounds — the textbook
Wyllie trade (O(m log m) total traffic); tours are per-tree, so at 100 TB
the L that matters is the largest tree's doubled edge count, and each round
is a partitioned hash join Catalyst plans with AQE off inside the fixpoint.
A Helman-JáJá ruling-set variant would cut traffic ~log-fold; not needed at
bench scale and noted here for the cluster tuning story.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpoint import EphemeralCheckpointer, supersteps
from .cc import connected_components

# arithmetic arc-key mix for deterministic heights: exact in both Spark and
# ANSI SQL (operands bounded so no BIGINT overflow anywhere: 2^20 * the
# Knuth multiplier < 2^52). Trailing-zero count of a well-mixed 32-bit value
# is geometric(1/2) — the skip-list height law (skip_list.h:109-119).
_HEIGHT_MIX = (
    "((((src % 1048576) * 2654435761 + (dst % 1048576) * 40503) % 4294967296) + 1)"
)
_MAX_LEVEL = 33  # x ∈ [1, 2^32] → trailing zeros ≤ 32 → parent levels ≤ 33


def height_expr(alias: str = "lvl"):
    """Column: deterministic geometric(1/2) height level of arc (src,dst).

    ``lvl = count-of-trailing-zeros(mix(src,dst))`` computed as
    ``log2(x & -x)`` — exact for powers of two, and the identical expression
    runs on DuckDB (the contract oracle) with the same result.
    """
    x = _HEIGHT_MIX
    return F.expr(f"cast(log2(cast(({x} & -({x})) as double)) as int)").alias(alias)


def euler_tour(
    forest: DataFrame,
    labels: DataFrame | None = None,
    checkpoint=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Materialize the Euler tour of every tree → ``(tour, src, dst, pos)``.

    ``forest`` must be a spanning forest: canonical undirected tree edges
    ``(src, dst)``, no duplicates, acyclic within each component (the output
    of :func:`elektra_spark.operators.forest.spanning_forest`, or any edge
    set forming trees). Each tree with ``k`` edges yields one tour of
    ``2k`` arcs with positions ``0..2k-1``; ``tour`` is the component id
    (min vertex — the reference's canonical representative, element.h:87).
    Position 0 is the lexicographically smallest arc of the tree, so the
    tour is a pure function of the edge set (no placement- or
    scheduling-dependent tie-breaks — the property every oracle twin needs).

    Isolated vertices (present in ``labels`` but touching no forest edge)
    contribute no arcs, matching the reference's vertex-loop-only tours
    being trivial. Raises if the ranking fails to converge in
    ``ceil(log2(total arcs))`` doubling rounds — the signature of a cyclic
    input (not a forest), which must fail loudly rather than emit garbage
    positions.
    """
    spark = forest.sparkSession
    parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    edges = forest.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()
    arcs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    if labels is None:
        labels = connected_components(edges)

    with supersteps(spark, "euler_tour", checkpoint, default=EphemeralCheckpointer) as loop:
        checkpoint = loop.checkpoint
        # successor of (u,v): (v, w) with w the circular next neighbor after
        # u in v's sorted adjacency — one window pass, pure JVM
        w_adj = Window.partitionBy("dst").orderBy("src")
        succ = arcs.select(
            "src",
            "dst",
            F.col("dst").alias("nsrc"),
            F.coalesce(
                F.lead("src").over(w_adj), F.min("src").over(Window.partitionBy("dst"))
            ).alias("ndst"),
        )

        comp = labels.select(F.col("vid").alias("src"), F.col("component").alias("tour"))
        succ = succ.join(comp, "src")

        roots = (
            succ.groupBy("tour")
            .agg(F.min(F.struct("src", "dst")).alias("m"))
            .select("tour", F.col("m.src").alias("rsrc"), F.col("m.dst").alias("rdst"))
        )

        # rank state: jump = predecessor arc (the arc whose successor I am),
        # d = steps accumulated toward the root arc; the root starts solved.
        # Every arc is some arc's successor exactly once (Eulerian circuit),
        # so the reversed successor relation is a total predecessor function.
        pred = succ.select(
            F.col("nsrc").alias("src"),
            F.col("ndst").alias("dst"),
            F.col("src").alias("jsrc"),
            F.col("dst").alias("jdst"),
            "tour",
        )
        cur = (
            pred.join(roots, "tour")
            .select(
                "tour",
                "src",
                "dst",
                F.when(
                    (F.col("src") == F.col("rsrc")) & (F.col("dst") == F.col("rdst")),
                    F.lit(None).cast("long"),
                ).otherwise(F.col("jsrc")).alias("jsrc"),
                F.when(
                    (F.col("src") == F.col("rsrc")) & (F.col("dst") == F.col("rdst")),
                    F.lit(None).cast("long"),
                ).otherwise(F.col("jdst")).alias("jdst"),
                F.when(
                    (F.col("src") == F.col("rsrc")) & (F.col("dst") == F.col("rdst")),
                    F.lit(0),
                ).otherwise(F.lit(1)).cast("long").alias("d"),
            )
            .repartition(parts, "src", "dst")
        )
        cur = checkpoint(cur, 0)

        n_arcs = cur.count()
        if n_arcs == 0:
            return spark.createDataFrame([], "tour long, src long, dst long, pos long")
        max_rounds = max(1, math.ceil(math.log2(n_arcs))) + 1

        # Wyllie pointer doubling: d += d[jump]; jump = jump[jump]. A null
        # jump (reached the root) joins nothing and stays solved.
        for rnd in loop.steps(range(1, max_rounds + 1)):
            tgt = cur.select(
                F.col("src").alias("tsrc"),
                F.col("dst").alias("tdst"),
                F.col("jsrc").alias("t_jsrc"),
                F.col("jdst").alias("t_jdst"),
                F.col("d").alias("t_d"),
            )
            cur = (
                cur.join(
                    tgt,
                    (F.col("jsrc") == F.col("tsrc")) & (F.col("jdst") == F.col("tdst")),
                    "left",
                )
                .select(
                    "tour",
                    "src",
                    "dst",
                    F.col("t_jsrc").alias("jsrc"),
                    F.col("t_jdst").alias("jdst"),
                    (F.col("d") + F.coalesce(F.col("t_d"), F.lit(0))).alias("d"),
                )
                .repartition(parts, "src", "dst")
            )
            cur = checkpoint(cur, rnd)
            if cur.filter(F.col("jsrc").isNotNull()).limit(1).count() == 0:
                break
        else:
            raise ValueError(
                "euler_tour ranking did not converge: input contains a cycle "
                "(not a spanning forest) or inconsistent successor structure"
            )

        return cur.select("tour", "src", "dst", F.col("d").alias("pos"))


def tour_heights(tour: DataFrame) -> DataFrame:
    """Attach the deterministic skip-list height level to every tour arc
    (``lvl``; geometric(1/2) via trailing zeros — skip_list.h:109-119)."""
    return tour.select("tour", "src", "dst", "pos", height_expr("lvl"))


def find_taller_parents(tour: DataFrame) -> DataFrame:
    """``FindLeftParent`` / ``FindRightParent`` over the explicit tour
    (skip_list.h:77-80,183-206): for each arc, the position of the nearest
    preceding / following arc with a strictly greater height level (NULL at
    the ends — the reference walks off the list head there).

    One sorted window pass per direction: for every height level ``l`` we
    carry ``last position seen with lvl ≥ l`` (``last(..., ignorenulls)``);
    the left parent of an arc at level ``k`` is the carried value for level
    ``k+1`` evaluated at the previous row. Heights are ≤ 32, so this is a
    fixed set of expressions over ONE sort — O(n·33) JVM work, no self-join,
    and it survives arbitrarily long tours.
    """
    t = tour_heights(tour)
    w_fwd = Window.partitionBy("tour").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_bwd = Window.partitionBy("tour").orderBy(F.col("pos").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    lefts = [
        F.last(F.when(F.col("lvl") >= l, F.col("pos")), ignorenulls=True)
        .over(w_fwd)
        .alias(f"_L{l}")
        for l in range(1, _MAX_LEVEL + 1)
    ]
    rights = [
        F.last(F.when(F.col("lvl") >= l, F.col("pos")), ignorenulls=True)
        .over(w_bwd)
        .alias(f"_R{l}")
        for l in range(1, _MAX_LEVEL + 1)
    ]
    t = t.select("*", *lefts, *rights)
    pick_l = F.when(F.lit(False), F.lit(None).cast("long"))
    pick_r = F.when(F.lit(False), F.lit(None).cast("long"))
    for l in range(_MAX_LEVEL):  # lvl == l → parent carried at level l+1 (lvl ≤ 32)
        pick_l = pick_l.when(F.col("lvl") == l, F.col(f"_L{l + 1}"))
        pick_r = pick_r.when(F.col("lvl") == l, F.col(f"_R{l + 1}"))
    return t.select(
        "tour",
        "src",
        "dst",
        "pos",
        "lvl",
        pick_l.alias("left_parent_pos"),
        pick_r.alias("right_parent_pos"),
    )


def tour_range_sum(tour: DataFrame, lo: int, hi: int, value=None) -> DataFrame:
    """``GetSubsequenceSum(left, right)`` (augmented_skip_list.h:421-470)
    over explicit positions: per tour, sum ``value`` (default: the arc's
    ``dst`` endpoint) across arcs with ``lo <= pos <= hi``."""
    v = value if value is not None else F.col("dst")
    return (
        tour.filter((F.col("pos") >= lo) & (F.col("pos") <= hi))
        .groupBy("tour")
        .agg(F.sum(v).alias("range_sum"), F.count("*").alias("n_arcs"))
    )


def batch_retour(
    old_tour: DataFrame,
    forest: DataFrame,
    links: DataFrame | None = None,
    cuts: DataFrame | None = None,
    labels: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Re-establish tours after a batch of tree-edge links and cuts — the
    outcome of the reference's ``BatchJoin``/``BatchSplit`` splices
    (euler_tour_tree.h:273-369,399-561) under the affected-scope policy of
    :mod:`elektra_spark.dynamic.updates`: components untouched by the batch
    keep their tour rows VERBATIM (no recompute, no reshuffle); every
    component containing a vertex of a touched old component is re-toured
    from the new forest. Returns ``(new_tour, new_forest)``.

    ``links``/``cuts`` are ``(src, dst)`` batches (any orientation); the
    caller guarantees the post-batch edge set is still a forest (the
    reference asserts the same via CheckRep, connectivity.h:114-348).
    """
    spark = forest.sparkSession
    canon = lambda df: df.select(  # noqa: E731
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()
    forest = canon(forest)
    if labels is None:
        labels = connected_components(forest)

    new_forest = forest
    touched = spark.createDataFrame([], "vid long")
    if cuts is not None:
        c = canon(cuts)
        new_forest = new_forest.join(c, ["src", "dst"], "left_anti")
        touched = touched.union(c.select(F.col("src").alias("vid"))).union(
            c.select(F.col("dst").alias("vid"))
        )
    if links is not None:
        ln = canon(links)
        new_forest = new_forest.union(ln).distinct()
        touched = touched.union(ln.select(F.col("src").alias("vid"))).union(
            ln.select(F.col("dst").alias("vid"))
        )
    touched = touched.distinct()

    # affected old components → the vertex set whose NEW components must be
    # re-toured (splits keep all their vertices inside the old component;
    # merges only involve components touched by a link endpoint)
    affected_comps = (
        labels.join(touched, "vid").select("component").distinct()
    )
    affected_vids = labels.join(
        F.broadcast(affected_comps), "component"
    ).select("vid")

    new_labels = connected_components(new_forest)
    affected_new_comps = (
        new_labels.join(affected_vids, "vid").select("component").distinct()
    )

    kept = old_tour.join(
        F.broadcast(affected_comps.select(F.col("component").alias("tour"))),
        "tour",
        "left_anti",
    )
    scoped_forest = (
        new_forest.join(
            new_labels.select(F.col("vid").alias("src"), "component"), "src"
        )
        .join(F.broadcast(affected_new_comps), "component")
        .select("src", "dst")
    )
    scoped_labels = new_labels.join(
        F.broadcast(affected_new_comps), "component", "left_semi"
    )
    redone = euler_tour(scoped_forest, labels=scoped_labels)
    return kept.unionByName(redone), new_forest
