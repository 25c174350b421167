"""Strongly connected components — FW–BW coloring over a min-reach primitive.

The directed sibling of the engine's connectivity surface (elektra's
``IsConnected``/``GetRepresentative``, connectivity.h:30-41, answer the
undirected question; SCC is the question a *flow* graph asks — which turns
and tool hubs of a transcript graph are mutually reachable).

Both passes of the classic forward–backward algorithm reduce to ONE
primitive, :func:`min_forward_reach`: for every vertex the minimum vid in
its forward-reachable set. The decomposition loop is then

1. ``color(u)`` = min vid forward-reachable from ``u`` (so ``color(r) = r``
   for each class root ``r``, and ``r`` is the minimum of its own SCC —
   any smaller mutual partner would lower ``color(r)``),
2. restrict edges to same-color endpoint pairs, REVERSE them, and run the
   same primitive: ``mr(u) = color(u)`` iff the root also reaches ``u``,
   i.e. iff ``u`` and its root are mutually reachable,
3. assign ``scc(u) = color(u)`` for matched vertices (complete SCCs by the
   mutual-reachability argument — the color restriction never splits an
   SCC because every vertex of an SCC shares its root's forward set, hence
   its color), strip them, repeat on the remainder.

Every round assigns at least the SCC of the minimum-key remaining vertex,
so the loop terminates; on graphs whose vid order correlates with
topological order (transcript reply edges are ``v → v+1``) round one
assigns almost everything — DAG chain vertices are their own color roots
and resolve as singleton SCCs immediately. Rounds ≥ 2 switch the min-reach
key to a deterministic bijective scramble of the vid
(:func:`_scramble`), which turns each class root into an effectively
random pivot: expected O(log n) remaining rounds even on vid orders
adversarial to round 1 (see :func:`strongly_connected_components`).

``min_forward_reach`` is a **hybrid kernel**, the same split as the cc.py
csr kernel: label waves travel one hop per global superstep in a naive
Bellman pull, and min-label propagation admits *sequential waves* that
pointer doubling cannot collapse (measured: 37 supersteps on the n=50
transcript digraph with a witness-doubling variant). So each superstep
combines

- a **global pull** over the full static adjacency (one shuffled join of
  the label vector, map-side-combinable ``min`` — crosses block
  boundaries), with
- a **per-block local fixpoint**: vertices are bucketed by vid range, the
  block's internal edges are co-grouped with its label rows, and an
  Arrow-batched NumPy kernel (``np.minimum.at`` over local index arrays)
  runs Bellman to the *local* fixpoint in one task. Because transcript
  vids are dense and conversations contiguous, a block's reply chains —
  the long-diameter part of the graph — collapse entirely inside one
  superstep; what remains for the global pull is the small-diameter
  cross-block structure (tool hubs are shortcuts).

Convergence is tested on the global pull alone: a pull that changes
nothing is a Bellman fixpoint over ALL edges, and any fixpoint whose
labels are vids of forward-reachable vertices (an invariant both steps
maintain) is exactly the min-reach closure — follow any u→…→min path, the
labels are monotone along it.

At 100 TB: the adjacency and its intra-block slice are materialized once;
per superstep the only moving relation is the (vid, label) vector (pid is
derived, not stored). Block state is proportional to the block's *rows*,
not its vid range, so skewed vid domains cost nothing. Tool hubs (huge
in-degree) sit inside map-side-combinable mins — no skew amplification.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .universe import graph_input


def _local_min_reach(labels_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
    """Bellman min-label fixpoint over one block's internal edges (NumPy)."""
    import numpy as np

    if len(edges_pdf) == 0 or len(labels_pdf) == 0:
        return labels_pdf[["vid", "label"]]
    vids = labels_pdf["vid"].to_numpy()
    order = np.argsort(vids)
    svids = vids[order]
    lab = labels_pdf["label"].to_numpy()[order].copy()
    si = np.searchsorted(svids, edges_pdf["src"].to_numpy())
    di = np.searchsorted(svids, edges_pdf["dst"].to_numpy())
    # drop edges touching vids absent from this block's label rows (the
    # operator contract says edge endpoints ⊆ vertices; this guards the
    # restricted-subgraph passes where that is enforced upstream)
    ok = (si < len(svids)) & (di < len(svids))
    ok &= (svids[np.minimum(si, len(svids) - 1)] == edges_pdf["src"].to_numpy()) & (
        svids[np.minimum(di, len(svids) - 1)] == edges_pdf["dst"].to_numpy()
    )
    si, di = si[ok], di[ok]
    if len(si) == 0:
        return pd.DataFrame({"vid": svids, "label": lab})
    while True:
        prev = lab.copy()
        # label(src) ← min(label(src), label(dst)) across all local edges
        np.minimum.at(lab, si, prev[di])
        if np.array_equal(prev, lab):
            break
    return pd.DataFrame({"vid": svids, "label": lab})


_REV_STEPS = (
    (1, 0x5555555555555555),
    (2, 0x3333333333333333),
    (4, 0x0F0F0F0F0F0F0F0F),
    (8, 0x00FF00FF00FF00FF),
    (16, 0x0000FFFF0000FFFF),
    (32, 0x00000000FFFFFFFF),
)


def _scramble(x):
    """Deterministic 64-bit **bit-reversal** (Column → Column) — a bijection
    built from six shift/mask swap steps (bit ops only: ANSI-safe, no
    overflow; keys may go negative when the original bit 0 lands on the
    sign bit, which is fine — min-propagation only needs a total order and
    injectivity). Why reversal and not an xorshift: consecutive vids map to
    a van der Corput sequence, so for the interval-shaped color classes a
    vid-ordered chain produces, the min-key pivot is the
    most-trailing-zeros member — a near-median split every round. A
    multiply-free xorshift has no avalanche on small inputs (for
    ``x < 2^9`` the shifted copies don't interact and the map stays
    monotone), which left adversarial chains unscrambled."""
    x = x.cast("long")
    for k, m in _REV_STEPS:
        x = F.shiftrightunsigned(x, k).bitwiseAND(F.lit(m)).bitwiseOR(
            F.shiftleft(x.bitwiseAND(F.lit(m)), k)
        )
    return x


def min_forward_reach(
    edges: DataFrame,
    vertices: DataFrame,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    max_iter: int = 100,
    block: int | None = None,
    label_of=None,
) -> DataFrame:
    """→ (vid, label): minimum label in each vertex's forward-reachable set
    (including the vertex itself) over the directed ``edges`` (src, dst),
    where a vertex's own label is ``label_of(vid)`` (default: the vid
    itself, i.e. min-vid reach).

    ``label_of`` (Column → Column, must be injective) re-keys the min
    order — :func:`strongly_connected_components` passes :func:`_scramble`
    after round 1 so the implied pivots are order-decorrelated.

    ``block`` is the vid-range width of a local-fixpoint bucket; by default
    it is sized so the vid domain splits into ~4× the session's default
    parallelism (and never below 4096 vids, so fixture-scale graphs solve
    in a single block).
    """
    spark = edges.sparkSession
    with supersteps(spark, "min_forward_reach", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        adj = checkpoint(edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")), -1)
        init_label = (label_of(F.col("vid")) if label_of is not None else F.col("vid")).cast("long")
        labels = checkpoint(
            vertices.select(F.col("vid").cast("long").alias("vid"), init_label.alias("label")),
            0,
        )
        if block is None:
            bounds = labels.agg(F.min("vid").alias("lo"), F.max("vid").alias("hi")).first()
            if bounds["lo"] is None:
                return labels
            span = int(bounds["hi"]) - int(bounds["lo"]) + 1
            block = max(4096, span // (spark.sparkContext.defaultParallelism * 4) + 1)
        local_adj = checkpoint(
            adj.filter((F.col("src") / block).cast("long") == (F.col("dst") / block).cast("long")), -1
        )

        def with_pid(df: DataFrame) -> DataFrame:
            return df.withColumn("pid", (F.col("vid") / block).cast("long"))

        for step in loop.steps(range(1, max_iter + 1)):
            # per-block local fixpoint: collapses every within-block wave
            # (whole reply chains) in one Arrow-batched NumPy task per block
            solved = (
                with_pid(labels)
                .groupBy("pid")
                .cogroup(local_adj.withColumn("pid", (F.col("src") / block).cast("long")).groupBy("pid"))
                .applyInPandas(lambda l, r: _local_min_reach(l, r), schema="vid long, label long")
            )
            solved = checkpoint(solved, step)
            # global pull across ALL edges (cross-block hops included):
            # label(u) ← min(label(u), min over out-neighbors' labels)
            pulled = (
                solved.unionByName(
                    adj.join(solved.select(F.col("vid").alias("dst"), "label"), "dst").select(
                        F.col("src").alias("vid"), "label"
                    )
                )
                .groupBy("vid")
                .agg(F.min("label").alias("label"))
            )
            pulled = checkpoint(pulled, step)
            # labels only decrease, so one two-column anti-join detects any
            # change; no change ⇒ Bellman fixpoint over all edges ⇒ closure
            changed = pulled.join(solved, ["vid", "label"], "left_anti").limit(1).count()
            loop.done(changed)
            labels = pulled
            if changed == 0:
                break
        else:
            raise RuntimeError(f"min_forward_reach did not converge in {max_iter} supersteps")
    return labels.select("vid", "label")


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """→ (vid, scc): scc = minimum vid of the strongly connected component.

    Vertices with no directed cycle through them are singleton SCCs
    (scc = own vid), matching the textbook definition the DuckDB
    mutual-reachability twin computes.

    Round schedule: round 1 colors by **raw min-vid reach** — on graphs
    whose vid order correlates with topological order (transcript reply
    edges are ``v → v+1``) it resolves almost everything immediately.
    Rounds ≥ 2 color by the :func:`_scramble` bijection of the vid, which
    makes each color class's implied pivot (its min-key root) an
    effectively random member of its reachable set: the classic random-
    pivot FW–BW argument then gives expected O(log n) remaining rounds,
    where raw-vid coloring degrades to ONE extracted SCC per round on
    adversarial orders (e.g. a chain with vids decreasing along the edges
    keeps ``color ≡ global min``, so only the global minimum matches the
    backward pass — n rounds for an n-chain). Deterministic either way:
    the scramble is a fixed function of the vid.

    Per round, extracted keys are immediately re-labeled to the SCC's
    minimum vid (one group-by over the freshly assigned rows), so the
    output contract never depends on which round — raw or scrambled key
    space — assigned a vertex.
    """
    spark = edges.sparkSession
    edges, universe = graph_input(
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")), vertices
    )
    # one checkpointer (the caller's, else a RetainedCheckpointer) serves
    # this loop and every min_forward_reach loop it runs
    with supersteps(spark, "strongly_connected_components", checkpoint, no_aqe=False) as loop:
        checkpoint = loop.checkpoint
        remaining_v = checkpoint(universe, -1)
        remaining_e = checkpoint(edges, -1)
        assigned: DataFrame | None = None
        for rnd in loop.steps(range(1, max_rounds + 1)):
            if remaining_v.limit(1).count() == 0:
                break
            # round 1: raw vids (fast path on topologically aligned vid orders);
            # later rounds: scrambled keys = effectively random pivots
            key_of = None if rnd == 1 else _scramble
            color = checkpoint(
                min_forward_reach(
                    remaining_e, remaining_v, checkpoint=checkpoint, on_superstep=on_superstep, label_of=key_of
                ),
                rnd,
            ).withColumnRenamed("label", "color")
            # same-color edge restriction: two vertices of one SCC always share a
            # color (their forward sets within the remaining graph are equal), so
            # cross-color edges are never intra-SCC — they are both excluded from
            # the backward pass AND permanently dropped below, which is the
            # recursion step that makes each color class an independent
            # subproblem (Orzan-style coloring; without the drop, the next
            # round's global re-coloring can re-merge classes and a chain
            # degenerates to O(n) rounds)
            same_e = checkpoint(
                remaining_e.join(color.select(F.col("vid").alias("src"), F.col("color").alias("sc")), "src")
                .join(color.select(F.col("vid").alias("dst"), F.col("color").alias("dc")), "dst")
                .filter(F.col("sc") == F.col("dc"))
                .select("src", "dst"),
                rnd,
            )
            # reversed: mr(u) == color(u) iff the class root reaches u —
            # mutual reachability with the root
            ce = same_e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            mr = min_forward_reach(
                ce, remaining_v, checkpoint=checkpoint, on_superstep=on_superstep, label_of=key_of
            )
            matched = color.join(mr, "vid").filter(F.col("color") == F.col("label")).select(
                "vid", F.col("color").alias("ckey")
            )
            # re-label each extracted key to the SCC's min vid inside the round,
            # so raw-vid and scrambled-key rounds share one output key space
            rep = matched.groupBy("ckey").agg(F.min("vid").alias("scc"))
            new = checkpoint(matched.join(rep, "ckey").select("vid", "scc"), rnd)
            assigned = new if assigned is None else checkpoint(assigned.unionByName(new), rnd)
            remaining_v = checkpoint(remaining_v.join(new, "vid", "left_anti"), rnd)
            remaining_e = checkpoint(
                same_e.join(new.select(F.col("vid").alias("src")), "src", "left_anti").join(
                    new.select(F.col("vid").alias("dst")), "dst", "left_anti"
                ),
                rnd,
            )
        else:
            raise RuntimeError(f"scc did not finish in {max_rounds} FW-BW rounds")
    return assigned if assigned is not None else universe.select("vid", F.col("vid").alias("scc"))
