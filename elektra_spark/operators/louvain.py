"""Louvain-style modularity moves — distributed community detection by
local modularity gain (Blondel et al. 2008, phase 1). Sequential Louvain's
one-vertex-at-a-time sweep doesn't parallelize, and the naive synchronous
variant oscillates (two neighbors trade communities forever — measured on
K4s before this schedule landed). This kernel uses a **Luby-mover
schedule**: per round, a vertex may move iff its rehashed md5 priority is a
strict (h, vid) local minimum among its neighbors — movers form an
independent set, so each individual move equals the sequential gain-argmax
from the round-start state; two non-adjacent movers can still interact
through shared community totals (stale Sigma_tot/k_ic within a round), so
cross-community oscillation is suppressed in practice rather than
structurally impossible. Determinism and oracle parity hold regardless. The trade is a fixed-round horizon (a vertex moves only when it
wins a round), the same contract the MIS/matching/coloring rows make.

Per round every vertex evaluates, for each community c among its neighbors
PLUS its own, the standard unweighted gain numerator of joining c:

    score(i, c) = 2m·k_{i,c} − k_i·(Σtot_c − k_i·[c = L(i)])

(k_{i,c} = edges from i into c, Σtot_c = total degree of c, the bracket
removes i's own contribution when evaluating "stay"). Multiplying the
classic ΔQ through by (2m)² leaves exactly this integer — so the argmax,
taken under the total order (score DESC, c ASC), is EXACT: no float
modularity anywhere, the whole trajectory is a pure function of the graph.
Labels live in vertex-id space (init L_0(i) = i).

Overflow envelope: |score| ≤ 2m·max(k_i) — int64-safe to ~10^9 edges ×
10^9-degree hubs jointly capped at 2^62; past that the score column becomes
DECIMAL(38) with the same semantics.

Scale shape per round: one join of the both-directions edge table against
labels (co-partitioned on vid), one (vid, community) count, one
community-degree aggregation (map-side combinable), one per-vertex argmax
window. Hub communities cost a combiner, not a hot reducer — identical plan
family to the LPA superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .universe import graph_input


def _move_priority(rnd: int):
    """Per-round md5 move priority — the repo's portable 12-hex slice."""
    key = F.concat_ws(":", F.lit("lmv"), F.lit(rnd), F.col("vid"))
    return F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("long")


def louvain_moves(edges: DataFrame, rounds: int, vertices: DataFrame | None = None) -> DataFrame:
    """→ (vid, community) after ``rounds`` gain-argmax rounds under the
    Luby-mover schedule, over the canonical undirected edge set."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    edges, verts = graph_input(edges, vertices)
    e = (
        edges.select(
            F.least("src", "dst").cast("long").alias("src"),
            F.greatest("src", "dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # materialized once: every round's localCheckpoint and the two_m
        # count would otherwise re-run the distinct exchange
        .localCheckpoint(eager=True)
    )
    b = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = b.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("d"))
    if vertices is None:
        # self-loops are not part of the canonical edge set
        verts = deg.select("vid")
    two_m = e.count() * 2  # scalar: one count, broadcast as a literal
    lab = verts.select("vid", F.col("vid").alias("lab"))
    for t in range(rounds):
        # lab is referenced four times per round (tot, kic, stay, the
        # checkerboard merge); an eager localCheckpoint truncates the plan to
        # a leaf so analysis stays linear in rounds — persist alone is not
        # enough (Catalyst walks the shared subtree as a tree: 4^rounds)
        lab = lab.localCheckpoint(eager=True)
        tot = (
            lab.join(deg, "vid", "left")
            .groupBy(F.col("lab").alias("c"))
            .agg(F.sum(F.coalesce("d", F.lit(0))).alias("tot"))
        )
        kic = (
            b.join(lab.withColumnRenamed("vid", "dst").withColumnRenamed("lab", "c"), "dst")
            .groupBy(F.col("src").alias("vid"), "c")
            .agg(F.count(F.lit(1)).alias("kic"))
        )
        # ensure the CURRENT community is always a candidate (kic may lack it)
        stay = (
            lab.join(kic, (lab.vid == kic.vid) & (lab.lab == kic.c), "left_anti")
            .select("vid", F.col("lab").alias("c"), F.lit(0).cast("long").alias("kic"))
        )
        cand = (
            kic.unionByName(stay)
            .join(lab, "vid")
            .join(deg, "vid", "left")
            .join(tot, "c")
            .select(
                "vid",
                "c",
                (
                    F.lit(two_m) * F.col("kic")
                    - F.coalesce("d", F.lit(0))
                    * (F.col("tot") - F.when(F.col("c") == F.col("lab"), F.coalesce("d", F.lit(0))).otherwise(0))
                ).alias("score"),
            )
        )
        w = Window.partitionBy("vid").orderBy(F.col("score").desc(), F.col("c").asc())
        best = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vid", F.col("c").alias("best"))
        )
        # Luby-mover schedule: only vertices whose per-round md5 priority is
        # a strict (h, vid) local minimum among neighbors move this round —
        # movers form an independent set, so no two adjacent vertices ever
        # move together and the sequential-Louvain swap pathology (two
        # neighbors trading communities forever) cannot occur. Same
        # rehash-per-round discipline as the MIS/matching kernels.
        pri = verts.select("vid", _move_priority(t).alias("h"))
        nm = (
            b.join(pri.select(F.col("vid").alias("dst"), F.col("h").alias("hd")), "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.min(F.struct("hd", "dst")).alias("nm"))
        )
        movers = (
            pri.join(nm, "vid", "left")
            .filter(
                F.col("nm").isNull()
                | (F.struct(F.col("h"), F.col("vid")) < F.struct(F.col("nm.hd"), F.col("nm.dst")))
            )
            .select("vid", F.lit(True).alias("mv"))
        )
        lab = (
            lab.join(best, "vid")
            .join(movers, "vid", "left")
            .select(
                "vid",
                F.when(F.col("mv").isNotNull(), F.col("best")).otherwise(F.col("lab")).alias("lab"),
            )
        )
    return lab.select("vid", F.col("lab").alias("community"))
