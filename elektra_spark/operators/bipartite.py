"""Per-component bipartiteness — odd-cycle detection via the double cover.

A graph is bipartite iff it has no odd cycle. The structural sanity check
every bipartite-projection pipeline runs before treating a graph as
two-mode (the customer↔order graph *must* pass; the transcript graph fails
exactly where a tool hub closes an odd turn-chain cycle).

Strategy — **bipartite double cover**, not BFS parity closure. Each vertex
``v`` splits into two cover states ``2v`` (even parity) and ``2v + 1``
(odd parity); each undirected edge ``{u, v}`` becomes the two cover edges
``{2u, 2v+1}`` and ``{2u+1, 2v}``. A connected component is bipartite iff
its double cover splits into two components, i.e. iff no vertex's two
states land in the same cover component. That reduces the whole check to
ONE run of the engine's connected-components operator (cc.py) — O(log n)
supersteps via hash-to-min + pointer jumping — instead of a
diameter-bounded frontier loop. On long-chain graphs (transcript
conversations run hundreds of turns deep) this is the difference between
~8 supersteps and ~2·diameter supersteps: the previous parity-BFS version
of this file spent 50+ seconds where the cover CC spends a few.

Shuffle shape at 100 TB: the cover edge relation is exactly 2× the input
edge relation and inherits cc.py's single heavy shuffle (csr kernel:
range-partitioned local union-find collapse, quotient solved on the
driver below 5M links). No per-superstep frontier joins.

Output semantics are unchanged and pinned for the DuckDB oracle twin
(``__spark_entry__._transcript_bipartite_sql``): per original component
``(component = min-vid label, n_vertices, is_bipartite)``; the twin's
recursive parity-closure CTE agrees because cover-connectivity of
``(2v, 2v+1)`` is equivalent to ``v`` being reachable from its component
at both parities.

Reference anchor: connectivity-query surface of dynamic_connectivity.h
(IsConnected / GetRepresentative); bipartiteness is the classic derived
query on top of it (double-cover trick per Shiloach–Vishkin-era folklore).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, SuperstepHook
from .cc import connected_components


def bipartite_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    labels: DataFrame | None = None,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
) -> DataFrame:
    """→ (component, n_vertices, is_bipartite) per connected component.

    ``labels`` may pass precomputed (vid, component) min-vid CC labels;
    otherwise they are computed here. Vertex ids must fit in 62 bits (the
    cover encoding is ``2·vid + parity``).
    """
    if labels is None:
        labels = connected_components(
            edges, vertices=vertices, checkpoint=checkpoint, on_superstep=on_superstep
        )
    labels = labels.select("vid", "component")

    src2 = (F.col("src").cast("long") * 2).alias("src")
    dst2 = (F.col("dst").cast("long") * 2).alias("dst")
    cover = edges.select(src2, (F.col("dst").cast("long") * 2 + 1).alias("dst")).unionByName(
        edges.select((F.col("src").cast("long") * 2 + 1).alias("src"), dst2)
    )
    cover_labels = connected_components(
        cover, checkpoint=checkpoint, on_superstep=on_superstep
    )

    # a vertex is on an odd cycle iff its even and odd cover states share a
    # cover component; isolated vertices never appear here and are trivially
    # bipartite, which the left join below preserves
    # integer div, not `/`: float division round-trips through double and
    # would corrupt the decode above 2^53 (the 62-bit vid contract)
    even = cover_labels.filter(F.col("vid") % 2 == 0).select(
        F.expr("vid div 2").alias("vid"), F.col("component").alias("c_even")
    )
    odd = cover_labels.filter(F.col("vid") % 2 == 1).select(
        F.expr("(vid - 1) div 2").alias("vid"),
        F.col("component").alias("c_odd"),
    )
    conflicted = (
        even.join(odd, "vid")
        .filter(F.col("c_even") == F.col("c_odd"))
        .select("vid")
        .withColumn("bad", F.lit(1))
    )
    return (
        labels.join(conflicted, "vid", "left")
        .groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            (F.sum(F.coalesce("bad", F.lit(0))) == 0).alias("is_bipartite"),
        )
    )
