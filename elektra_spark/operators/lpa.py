"""Synchronous label propagation (community assignment).

Not in the reference (mandated by the north rule); reuses CC's message
machinery with a frequency vote instead of min (SURVEY.md §2.7). Semantics
are pinned down so results are **exactly** reproducible against the oracle:

- synchronous supersteps (all vertices update from the previous round's
  labels),
- fixed round count (no data-dependent termination),
- deterministic tiebreak: highest neighbor-label frequency, then minimum
  label.

On Spark the vote is a two-level aggregation: ``groupBy(vid, label).count``
(map-side combinable — hub fan-in becomes one combiner entry per map
partition) then an argmax via ``max(struct(cnt, -label))``, which encodes
the frequency-then-min-label order as a single lexicographic max
(min-aggregates are the BSP analogue of the reference's write_min,
utilities/cas.h).

A graph of at most ``driver_tier.SMALL_GRAPH_MAX`` edges and vertices, run
with no checkpointer, takes the driver tier instead (:mod:`.driver_tier`):
one count job, one collect, then the same vote per round in NumPy
(:func:`_np_vote`) with no Spark superstep. A checkpointed (durable) run
always stays on Spark, so it still commits every superstep.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, EphemeralCheckpointer, SuperstepHook, supersteps
from . import driver_tier


def _np_vote(s, d, labels):
    """One synchronous round over the dense arc list ``s → d``: each vertex
    with a neighbour takes the most frequent neighbour label, ties to the
    minimum label; a vertex with no neighbour keeps its label."""
    if len(s) == 0:
        return labels
    lab = labels[s]
    order = np.lexsort((lab, d))
    dd, ll = d[order], lab[order]
    starts = np.flatnonzero(np.r_[True, (dd[1:] != dd[:-1]) | (ll[1:] != ll[:-1])])
    cnt = np.diff(np.r_[starts, len(dd)])
    rd, rl = dd[starts], ll[starts]
    # per vertex: highest count first, then the minimum label
    best = np.lexsort((rl, -cnt, rd))
    rd, rl = rd[best], rl[best]
    first = np.r_[True, rd[1:] != rd[:-1]]
    out = labels.copy()
    out[rd[first]] = rl[first]
    return out


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    rounds: int = 5,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    start_step: int = 0,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """→ (vid, label) after exactly ``rounds`` synchronous supersteps.

    The vertex set is ``init_labels``' vids on a warm start, else
    ``vertices``, else every edge endpoint. A warm start's labels are
    materialized, not committed again as step ``start_step``; a fresh run
    commits its initial labels as step ``start_step``. Without a
    ``checkpoint``, a graph within ``driver_tier.SMALL_GRAPH_MAX`` runs on
    the driver."""
    spark = edges.sparkSession
    with supersteps(spark, "label_propagation", checkpoint, on_superstep, EphemeralCheckpointer) as loop:
        if checkpoint is None:
            g = (
                driver_tier.collect_small(edges, vertices)
                if init_labels is None
                else driver_tier.collect_small(edges, init_labels, value="label")
            )
            if g is not None:
                s, d = np.concatenate([g.src, g.dst]), np.concatenate([g.dst, g.src])
                labels = g.vids if g.values is None else g.values.astype(np.int64)
                for step in loop.steps(range(start_step, start_step + rounds)):
                    labels = _np_vote(s, d, labels)
                    loop.done()
                return spark.createDataFrame(
                    pd.DataFrame({"vid": g.vids, "label": labels}), "vid long, label long"
                )
        both = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        if vertices is not None:
            universe = vertices.select("vid")
        else:
            universe = both.select(F.col("src").alias("vid")).distinct()
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        if init_labels is not None:
            # a warm start is already durable: materialize, don't commit it again
            labels = checkpoint(init_labels.select("vid", "label"), -1)
        else:
            labels = checkpoint(universe.withColumn("label", F.col("vid")), start_step)

        for step in loop.steps(range(start_step, start_step + rounds)):
            votes = (
                both.join(labels, both.src == labels.vid)
                .select(F.col("dst").alias("v"), "label")
                .groupBy("v", "label")
                .agg(F.count("*").alias("cnt"))
            )
            # argmax by (frequency, then min label): max of (cnt, -label)
            winner = (
                votes.groupBy("v")
                .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("w"))
                .select(F.col("v").alias("vid"), (-F.col("w.neg")).alias("new_label"))
            )
            new_labels = labels.join(winner, "vid", "left").select(
                "vid", F.coalesce("new_label", F.col("label")).alias("label")
            )
            labels = checkpoint(new_labels, step + 1)
            loop.done()
    return labels


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a vertex partition → single row
    (n_communities, intra_edges, modularity).

    ``Q = Σ_c e_c/m − Σ_c (deg_c / 2m)²`` over communities ``c`` with
    ``m = |E|`` (canonical deduped undirected edges, no self-loops),
    ``e_c`` = edges with both endpoints labeled ``c``, ``deg_c`` = total
    degree of ``c``'s vertices — the standard partition-quality score for
    :func:`label_propagation` output (Newman & Girvan 2004, eq. 5).
    ``n_communities`` counts communities incident to ≥ 1 edge (a
    zero-degree community contributes nothing to either Q term, and the
    count's definition is part of the oracle contract).

    **Exact cross-engine reproducibility**: both Σ terms are computed as
    exact integer aggregates first — ``A = Σ e_c`` (total intra-community
    edges) and ``B = Σ deg_c²`` — and only then combined in the fixed
    two-division expression ``A/m − B/(4·m²)``. IEEE division and
    subtraction of exact integers is order-free, so the DuckDB twin matches
    bit-for-bit before the 1e-6 rounding.

    100 TB plan shape: two broadcast-friendly joins of the label table onto
    the edge endpoints (labels are the small side after community
    coarsening; at worst hash joins keyed on vid), one map-side-combinable
    ``groupBy(label)`` each for ``e_c`` and ``deg_c``, then two scalar
    aggregates — no quadratic step anywhere.
    """
    lab = labels.select("vid", "label")
    e = edges.select("src", "dst")
    m = e.count()
    if m == 0:
        return edges.sparkSession.createDataFrame(
            [(0, 0, 0.0)], "n_communities long, intra_edges long, modularity double"
        )
    el = (
        e.join(lab.select(F.col("vid").alias("src"), F.col("label").alias("ls")), "src")
        .join(lab.select(F.col("vid").alias("dst"), F.col("label").alias("ld")), "dst")
    )
    intra = el.filter(F.col("ls") == F.col("ld")).count()
    both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg_c = (
        both.join(lab.select(F.col("vid").alias("src"), "label"), "src")
        .groupBy("label")
        .agg(F.count("*").alias("deg_c"))
    )
    sums = deg_c.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.sum(F.col("deg_c") * F.col("deg_c")).cast("long").alias("sum_deg_sq"),
    )
    md = F.round(
        F.lit(float(intra)) / F.lit(float(m))
        - F.col("sum_deg_sq").cast("double") / F.lit(4.0 * m * m),
        6,
    )
    return sums.select(
        "n_communities", F.lit(intra).cast("long").alias("intra_edges"), md.alias("modularity")
    )


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance → (label, cut_edges, volume, conductance).

    ``φ(c) = cut(c) / min(vol(c), 2m − vol(c))`` — the standard
    community-quality score next to :func:`modularity` (Kannan–Vempala–
    Vetta 2004): ``cut(c)`` counts edges with exactly one endpoint labeled
    ``c`` (a crossing edge contributes to BOTH incident communities),
    ``vol(c)`` is the total degree. Communities with no incident edge are
    omitted; a community holding the whole volume has cut 0 and reports
    φ = 0.0 (the min-side is 0 only when no edge crosses).

    Exact cross-engine reproducibility: cut and volume are integer
    aggregates, ``m`` is a scalar, and the single division happens once per
    row — no summation-order sensitivity before the 1e-6 rounding.

    100 TB plan shape mirrors :func:`modularity`: label table joined onto
    both edge endpoints, two map-side-combinable groupBys, zero quadratic
    steps.
    """
    lab = labels.select("vid", "label")
    e = edges.select("src", "dst")
    m = e.count()
    el = (
        e.join(lab.select(F.col("vid").alias("src"), F.col("label").alias("ls")), "src")
        .join(lab.select(F.col("vid").alias("dst"), F.col("label").alias("ld")), "dst")
    )
    cross = el.filter(F.col("ls") != F.col("ld"))
    cuts = (
        cross.select(F.col("ls").alias("label"))
        .union(cross.select(F.col("ld").alias("label")))
        .groupBy("label")
        .agg(F.count("*").alias("cut_edges"))
    )
    both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    vol = (
        both.join(lab.select(F.col("vid").alias("src"), "label"), "src")
        .groupBy("label")
        .agg(F.count("*").alias("volume"))
    )
    denom = F.least(F.col("volume"), F.lit(2 * m) - F.col("volume"))
    return (
        vol.join(cuts, "label", "left")
        .select(
            "label",
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
            F.col("volume").cast("long").alias("volume"),
        )
        .select(
            "label",
            "cut_edges",
            "volume",
            F.when(denom <= 0, F.lit(0.0))
            .otherwise(F.round(F.col("cut_edges").cast("double") / denom.cast("double"), 6))
            .alias("conductance"),
        )
    )


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    vertices: DataFrame | None = None,
    rounds: int = 5,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    unlabeled: int = -1,
) -> DataFrame:
    """→ (vid, label): semi-supervised label propagation — ``seeds``
    (vid, label) stay CLAMPED to their given labels; every other vertex
    takes the synchronous frequency-then-min-label vote of its currently
    labeled neighbors, keeps its previous label when no labeled neighbor
    exists this round, and reports ``unlabeled`` if never reached.

    The community-detection sibling with ground truth: at transcript scale
    the anchors are known taxonomy points (tool actors, curated
    conversations) and the question is which turns each anchor's influence
    covers. Same two-level combinable vote as :func:`label_propagation`;
    the labeled working set starts at |seeds| and grows by one BFS ring per
    round, so early supersteps shuffle frontier-sized relations, not |V|.
    """
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if vertices is not None:
        universe = vertices.select("vid")
    else:
        universe = (
            both.select(F.col("src").alias("vid"))
            .union(seeds.select("vid"))
            .distinct()
        )
    with supersteps(edges.sparkSession, "seeded_label_propagation", checkpoint, on_superstep,
                    EphemeralCheckpointer) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        sd = checkpoint(seeds.select("vid", "label"), 0)
        labels = sd
        for step in loop.steps(range(rounds)):
            votes = (
                both.join(labels, both.src == labels.vid)
                .select(F.col("dst").alias("v"), "label")
                .groupBy("v", "label")
                .agg(F.count("*").alias("cnt"))
            )
            winner = (
                votes.groupBy("v")
                .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("w"))
                .select(F.col("v").alias("vid"), (-F.col("w.neg")).alias("new_label"))
            )
            old_ns = labels.join(sd.select("vid"), "vid", "left_anti")
            win_ns = winner.join(sd.select("vid"), "vid", "left_anti")
            ns = old_ns.join(win_ns, "vid", "full").select(
                "vid", F.coalesce("new_label", F.col("label")).alias("label")
            )
            labels = checkpoint(sd.unionByName(ns), step + 1)
            loop.done()
    return universe.join(labels, "vid", "left").select(
        "vid", F.coalesce("label", F.lit(unlabeled)).alias("label")
    )
