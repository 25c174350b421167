"""Approximate neighborhood function via HyperBall (HyperLogLog balls).

Not in the reference (mandated by the north rule's analytics family): the
neighborhood function N(v, h) = |{u : dist(v, u) ≤ h}| is the primitive
behind effective-diameter / centrality estimation on web-scale link graphs
(Palmer et al., *ANF*, KDD 2002; Boldi-Vigna, *HyperBall*, WWW 2011 — the
algorithm that measured the Facebook graph's four degrees of separation).
Exact per-vertex balls need O(n²) state; HyperBall keeps one HyperLogLog
counter per vertex and unions neighbor counters per hop, so state is
O(n·m_registers) and each hop is one join + a max-aggregation.

Determinism contract (the same discipline as the MinHash/SimHash operators):
the per-vertex hash is **md5 of the decimal vid string** — portable, so the
DuckDB twin computes bit-identical registers, estimates, and therefore
hash-identical output. Register index = first 2 hex chars mod m; rho =
1 + trailing zeros of the next 13 hex chars (52 uniform bits). All estimate
arithmetic stays in exactly-representable doubles (sums of powers of two;
the HLL constant is embedded as one shared literal), with the standard
small-range linear-counting correction; output rounded to 6 decimals.

Execution shape: registers live RELATIONALLY as (vid, reg, rho) rows rather
than packed arrays — max(rho) group-by is fully map-side combinable, so a
10^6-degree hub costs partial-aggregate rows, never a hot reducer (packed
per-vertex arrays would need collect_list-style merges that concentrate a
hub's whole neighborhood on one task). Per hop: one shuffle join of the
register table against the both-directions adjacency + one combinable agg.
Register rows per vertex are capped at m (64 default), so total state is
≤ m·|V| rows of three ints — at 10^12 edges / 10^10 vertices this is the
same order as one rank vector per PageRank superstep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook, supersteps
from .universe import graph_input

# rho for a zero mantissa (md5 chars 3..15 all zero — probability 2^-52);
# also the max trailing-zero count + 1 the 52-bit slice can produce
RHO_CAP = 53


def _alpha_mm(m: int) -> float:
    """HLL bias constant times m² — the ONE floating literal both engines
    share (the twin embeds repr() of this exact double)."""
    return 0.7213 / (1 + 1.079 / m) * m * m


def _reg_rho(vid: Column, m: int) -> tuple[Column, Column]:
    """(register index, rho) from md5(vid) — Spark side of the shared
    bit-slice layout (first 2 hex chars → register, next 13 → rho bits)."""
    h = F.md5(vid.cast("string"))
    reg = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % m).alias("reg")
    x = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    low = x.bitwiseAND(-x)  # lowest set bit, a power of two → log2 exact
    rho = (
        F.when(x == 0, F.lit(RHO_CAP))
        .otherwise((F.round(F.log2(low)) + 1).cast("int"))
        .alias("rho")
    )
    return reg, rho


def _ball_estimate(m: int) -> Column:
    """HLL estimate over grouped (reg, rho) rows: absent registers count as
    2^0 = 1 in the indicator sum; small-range correction m·ln(m/V) when the
    raw estimate ≤ 2.5m and V (= zero registers) > 0. Exactness note: the
    2^-rho terms and their sum are exactly representable (rho ≤ 53), so both
    engines reach the identical double before the one shared division."""
    cnt = F.count(F.lit(1))
    s = (F.lit(m) - cnt).cast("double") + F.sum(F.pow(F.lit(2.0), -F.col("rho")))
    zr = (F.lit(m) - cnt).cast("double")
    raw = F.lit(_alpha_mm(m)) / s
    corrected = F.when((raw <= 2.5 * m) & (zr > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / zr)).otherwise(raw)
    return F.round(corrected, 6).alias("ball_est")


def hyperball(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    hops: int = 4,
    m: int = 64,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (vid, hop, ball_est) for hop = 0..hops: estimated |B(v, hop)|.

    ``hops`` is a fixed contract parameter (the twin unrolls exactly this
    depth); hops past the register fixpoint are no-ops, so any depth ≥ the
    graph's (pseudo-)diameter yields the full neighborhood function and the
    final hop estimates component sizes. ``m`` must be a power of two ≤ 256
    (register index comes from 8 hash bits).
    """
    if m < 2 or m > 256 or (m & (m - 1)):
        raise ValueError(f"m must be a power of two in [2, 256], got {m}")
    spark = edges.sparkSession
    e, universe = graph_input(
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")), vertices
    )
    both = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    reg, rho = _reg_rho(F.col("vid"), m)
    with supersteps(spark, "hyperball", checkpoint, on_superstep) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)
        regs = checkpoint(universe.select("vid", reg, rho), 0)
        out = regs.groupBy("vid").agg(_ball_estimate(m)).select(
            "vid", F.lit(0).alias("hop"), "ball_est"
        )
        for t in loop.steps(range(1, hops + 1)):
            pushed = (
                both.join(regs.withColumnRenamed("vid", "dst"), "dst")
                .select(F.col("src").alias("vid"), "reg", "rho")
            )
            regs = checkpoint(
                regs.unionByName(pushed).groupBy("vid", "reg").agg(F.max("rho").alias("rho")),
                t,
            )
            loop.done(regs.count)
            out = out.unionByName(
                regs.groupBy("vid").agg(_ball_estimate(m)).select(
                    "vid", F.lit(t).alias("hop"), "ball_est"
                )
            )
    return out.select("vid", F.col("hop").cast("int").alias("hop"), "ball_est")
