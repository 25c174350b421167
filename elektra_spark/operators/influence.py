"""Independent-cascade influence spread via the live-edge reduction.

The diffusion family — the one link-graph analytics family the rest of the
suite (centralities, communities, motifs, cores, spanning structures) does
not cover. Not in the reference (undirected connectivity only); standard in
link-graph toolkits as the influence-maximization primitive.

Model (Kempe–Kleinberg–Tardos, KDD 2003): seeds activate at round 0; a
vertex activated at round t gets ONE chance to activate each out-neighbor,
succeeding with probability p; the cascade runs until no new activations
(here: a fixed ``max_rounds`` horizon, part of the operator contract). The
classic equivalence (Theorem 4.5 there) is what makes this Spark-friendly:
pre-flipping every arc's coin once yields a "live-edge" subgraph, and the
cascade's activated set is EXACTLY the set reachable from the seeds over
live arcs — so influence spread is multi-source directed BFS on a thinned
arc table, not a per-round stochastic simulation.

Determinism contract: the coin is the repo's portable md5 slice (the same
12-hex-char device as the matching/coloring priorities and the weighted-MSF
weights) of ``"ic<salt>:src:dst"``, mod 1000 — reproducible across runs,
engines, and partitionings (a true RNG is not), and a pure column
expression that fuses into the arc scan. The DOULION-style linear coin
(triangles.py) is deliberately NOT used: on reply chains its value is
constant across every (v, v+1) arc — ``src·(1000003+997) + 997 ≡ 997
(mod 1000)`` — so one global coin would decide every chain arc at once;
md5 decorrelates consecutive vids. One deterministic live-edge draw = one
exact cascade sample; Monte-Carlo estimates average this operator over
salted draws (pass ``salt``).

Scale shape at 10^12 arcs: the coin filter prunes the scan (p‰ of arcs
survive), then each round is the shared frontier-expansion superstep
(bfs.py _expand_frontier): one join keyed on src + distinct + anti-join —
all combinable, frontier-sized relations moving, the thinned arc table
shuffled once into the checkpointed loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook
from .bfs import _expand_frontier


def live_arcs(edges: DataFrame, p_permille: int, salt: int = 0) -> DataFrame:
    """The live-edge draw: keep arc (src, dst) iff its deterministic coin
    lands under ``p_permille``. ``salt`` shifts the hash for independent
    Monte-Carlo draws; 0 is the canonical contract draw."""
    if not (0 < p_permille <= 1000):
        raise ValueError("p_permille must be in (0, 1000]")
    key = F.concat_ws(":", F.lit(f"ic{salt}"), F.col("src"), F.col("dst"))
    coin = F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("long") % 1000
    return edges.select("src", "dst").filter(coin < p_permille)


def influence_spread(
    edges: DataFrame,
    seeds: DataFrame | list[int],
    p_permille: int,
    max_rounds: int = 8,
    salt: int = 0,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (round int, n_activated long): newly-activated vertex counts per
    cascade round under one deterministic live-edge draw (round 0 = the
    seed set itself; rounds with no activations emit no row). Propagation
    is DIRECTED — an arc carries influence src→dst only, matching the IC
    model on a flow digraph."""
    spark = edges.sparkSession
    live = live_arcs(edges, p_permille, salt)
    if isinstance(seeds, DataFrame):
        seed = seeds.select(F.col("vid").cast("long").alias("vid")).distinct()
    else:
        seed = spark.createDataFrame([(int(v),) for v in seeds], "vid long").distinct()
    visited = _expand_frontier(
        spark, "influence_spread", live, seed.withColumn("dist", F.lit(0)), ["vid"], max_rounds,
        checkpoint, on_superstep,
    )
    return (
        visited.groupBy(F.col("dist").cast("int").alias("round"))
        .agg(F.count("*").cast("long").alias("n_activated"))
    )
