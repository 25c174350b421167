"""Deterministic random-walk generation + Luby-style maximal independent set.

Neither is in the reference; both are canonical parallel link-graph
primitives the north rule's analytics family implies:

- **Random walks** are the training-data generator for graph embeddings
  (DeepWalk, KDD 2014; node2vec, KDD 2016): sample fixed-length walks,
  feed them to a skip-gram model. At 10^12 edges the walk corpus is a
  Spark job, not a driver loop — each step is one join of the walk
  frontier against the static adjacency.
- **Maximal independent set** (Luby 1986) is the classic symmetry-breaking
  primitive behind parallel coloring/scheduling; its round structure is
  the same ParallelWhile + write-min shape as the reference's batch ops
  (SURVEY.md §2 rows 51-52).

Determinism contract (the same discipline as the DOULION coin,
triangles.py): every "random" choice is an **arithmetic hash** both engines
can evaluate bit-identically — NOT a RNG (irreproducible across retries /
partitionings) and NOT ``xxhash64`` (not available in DuckDB). The hash is
``(a·A + b·B + …) mod M`` with multipliers sized so every intermediate fits
int64 under ANSI arithmetic (operands are reduced mod M first; M ≈ 2^30,
A,B < 2^20 → products < 2^50).

100 TB plan shapes:

- walks: the both-directions adjacency is checkpointed once; per step one
  shuffled join of the (walk, position) frontier against it plus a
  map-side-combinable argmin (``min(struct(h, dst))`` — the write_min
  analogue); frontier size = number of live walks, independent of |E|.
- MIS: per round one join of the undecided vertex set with its neighbor
  priorities + a combinable min; winners and their neighbors leave the
  problem, so the working set shrinks geometrically (Luby's analysis —
  expected O(log n) rounds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .universe import graph_input, over_vertices

WALK_MOD = 1_073_741_789  # largest prime < 2^30
_A, _B, _C = 1_000_003, 999_983, 7_919


def _step_hash(walk: Column, step: int, nbr: Column) -> Column:
    """Deterministic per-(walk, step, neighbor) score in [0, WALK_MOD) —
    the identical expression the DuckDB twin recomputes. Reduce-then-
    multiply keeps every product < 2^50 (ANSI-safe)."""
    w = F.pmod(walk.cast("long"), F.lit(WALK_MOD))
    n = F.pmod(nbr.cast("long"), F.lit(WALK_MOD))
    return F.pmod(
        F.pmod(w * _A, F.lit(WALK_MOD)) + F.lit(step * _B % WALK_MOD) + F.pmod(n * _C, F.lit(WALK_MOD)),
        F.lit(WALK_MOD),
    )


def random_walks(
    edges: DataFrame,
    start_vertices: DataFrame,
    walk_length: int = 8,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (walk_id, step, vid): one walk per start vertex (walk_id = the
    start vid), exactly ``walk_length`` transitions unless the walk reaches
    an isolated dead end (then it stops — with a both-directions adjacency
    only an isolated start can dead-end).

    Transition rule (the operator contract, mirrored by the twin): from
    ``v`` at step ``t``, move to the out-neighbor minimizing
    ``(_step_hash(walk_id, t, nbr), nbr)`` — the vid tiebreak makes the
    argmin total even on hash ties.
    """
    spark = edges.sparkSession
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with supersteps(spark, "random_walks", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        cur = checkpoint(
            start_vertices.select(
                F.col("vid").cast("long").alias("walk_id"),
                F.lit(0).alias("step"),
                F.col("vid").cast("long").alias("vid"),
            ).distinct(),
            0,
        )
        out = cur
        for t in loop.steps(range(1, walk_length + 1)):
            cand = both.join(cur.withColumnRenamed("vid", "src"), "src").select(
                "walk_id",
                F.lit(t).alias("step"),
                F.col("dst").alias("vid"),
                _step_hash(F.col("walk_id"), t, F.col("dst")).alias("h"),
            )
            nxt = (
                cand.groupBy("walk_id")
                .agg(F.min(F.struct("h", "vid", "step")).alias("w"))
                .select("walk_id", F.col("w.step").alias("step"), F.col("w.vid").alias("vid"))
            )
            nxt = checkpoint(nxt, t)
            n_live = nxt.count()
            loop.done(n_live)
            if n_live == 0:
                break
            out = checkpoint(out.unionByName(nxt), t)
            cur = nxt
    return out.select("walk_id", F.col("step").cast("int").alias("step"), "vid")


def biased_walks(
    edges: DataFrame,
    start_vertices: DataFrame,
    walk_length: int = 8,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (walk_id, step, vid): second-order (node2vec-style) deterministic
    walks — the transition from ``(prev, v)`` ranks v's neighbors by a
    **preference class** before the hash:

      class 0: ``dst`` also adjacent to ``prev`` (closing a triangle —
               node2vec's distance-1 candidates, weight 1),
      class 1: ``dst`` two hops from ``prev`` (exploration — weight 1/q),
      class 2: ``dst == prev`` (backtrack — weight 1/p),

    i.e. the deterministic analogue of node2vec (Grover & Leskovec, KDD
    2016) in its p>1, q>1 regime: sampling weights become a total order
    ``(class, hash, vid)`` — the repo's arithmetic-hash discipline applied
    to a SECOND-ORDER Markov chain, so the DuckDB twin replays the corpus
    row-for-row. Backtrack still happens when it is the only move (a
    degree-1 dead end), exactly as the weighted sampler would.

    The first transition has no meaningful prev (prev = the start vertex:
    no neighbor can be class 2, and every neighbor is class 0 by
    adjacency-to-prev), so step 1 degrades to the first-order argmin —
    node2vec's uniform first step.

    Scale shape vs ``random_walks``: one extra hash-join per step — the
    candidate set probes the deduplicated adjacency on (prev, dst) to
    classify; frontier-sized, not |E|-sized, on the probe side.
    """
    spark = edges.sparkSession
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with supersteps(spark, "biased_walks", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both.distinct(), -1)  # dedup: the class marker must not fan out
        marker = both.select(
            F.col("src").alias("m_src"), F.col("dst").alias("m_dst"), F.lit(True).alias("m_hit")
        )
        cur = checkpoint(
            start_vertices.select(
                F.col("vid").cast("long").alias("walk_id"),
                F.lit(0).alias("step"),
                F.col("vid").cast("long").alias("prev"),
                F.col("vid").cast("long").alias("vid"),
            ).distinct(),
            0,
        )
        out = cur.drop("prev")
        for t in loop.steps(range(1, walk_length + 1)):
            cand = both.join(cur.withColumnRenamed("vid", "src"), "src").select(
                "walk_id",
                F.col("src").alias("new_prev"),
                "prev",
                F.col("dst").alias("vid"),
                _step_hash(F.col("walk_id"), t, F.col("dst")).alias("h"),
            )
            cand = cand.join(
                marker,
                (cand["prev"] == marker["m_src"]) & (cand["vid"] == marker["m_dst"]),
                "left",
            ).select(
                "walk_id",
                "new_prev",
                "vid",
                "h",
                F.when(F.col("vid") == F.col("prev"), F.lit(2))
                .when(F.col("m_hit").isNotNull(), F.lit(0))
                .otherwise(F.lit(1))
                .alias("cls"),
            )
            nxt = (
                cand.groupBy("walk_id")
                .agg(F.min(F.struct("cls", "h", "vid", "new_prev")).alias("w"))
                .select(
                    "walk_id",
                    F.lit(t).alias("step"),
                    F.col("w.new_prev").alias("prev"),
                    F.col("w.vid").alias("vid"),
                )
            )
            nxt = checkpoint(nxt, t)
            n_live = nxt.count()
            loop.done(n_live)
            if n_live == 0:
                break
            out = checkpoint(out.unionByName(nxt.drop("prev")), t)
            cur = nxt
    return out.select("walk_id", F.col("step").cast("int").alias("step"), "vid")


def maximal_independent_set(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 64,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, in_mis): a maximal independent set of the undirected graph —
    no two MIS members adjacent, every non-member adjacent to a member.

    Luby's algorithm with a **deterministic priority**
    ``(_step_hash(0, round, vid), vid)``: each round, an undecided vertex
    joins the MIS iff its priority is strictly smaller than every undecided
    neighbor's; neighbors of new members become non-members. Re-hashing the
    priority per round keeps the expected geometric shrink of Luby's
    analysis even on adversarial vid orders (a fixed priority would peel
    a path one vertex at a time); both the priority and the round schedule
    are part of the operator contract the DuckDB twin unrolls.

    Isolated vertices (require ``vertices``) join the MIS in round 1.
    """
    spark = edges.sparkSession
    e, universe = graph_input(
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")), vertices
    )
    both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with supersteps(spark, "maximal_independent_set", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        undecided = checkpoint(universe, 0)
        members: DataFrame | None = None
        for rnd in loop.steps(range(1, max_rounds + 1)):
            pri = undecided.select("vid", _step_hash(F.lit(0), rnd, F.col("vid")).alias("h"))
            # min neighbor priority among *undecided* neighbors (absent ⇒ no
            # undecided neighbor ⇒ the vertex wins unconditionally)
            nbr_min = (
                both.join(pri.withColumnRenamed("vid", "src").withColumnRenamed("h", "hs"), "src")
                .join(pri.select(F.col("vid").alias("dst"), F.col("h").alias("hd")), "dst")
                .groupBy(F.col("src").alias("vid"))
                .agg(F.min(F.struct(F.col("hd"), F.col("dst"))).alias("nm"))
            )
            winners = (
                pri.join(nbr_min, "vid", "left")
                .filter(
                    F.col("nm").isNull()
                    | (F.struct(F.col("h"), F.col("vid")) < F.struct(F.col("nm.hd"), F.col("nm.dst")))
                )
                .select("vid")
            )
            winners = checkpoint(winners, rnd)
            n_new = winners.count()
            loop.done(n_new)
            members = winners if members is None else checkpoint(members.unionByName(winners), rnd)
            # winners and their neighbors are decided
            touched = winners.unionByName(
                both.join(winners.withColumnRenamed("vid", "src"), "src").select(F.col("dst").alias("vid"))
            ).distinct()
            undecided = checkpoint(undecided.join(touched, "vid", "left_anti"), rnd)
            if undecided.limit(1).count() == 0:
                break
        else:
            raise RuntimeError(f"MIS did not finish in {max_rounds} Luby rounds")
    mdf = members if members is not None else universe.limit(0)
    return over_vertices(mdf.withColumn("in_mis", F.lit(True)), universe, {"in_mis": F.lit(False)})
