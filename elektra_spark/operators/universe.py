"""The vertex universe: which vertices and edges an operator's graph has.

Every operator that takes ``vertices=`` gets its graph here, under one
rule, so no two kernels of one operator (nor two operators) disagree on it:

- with a vertex table, the graph is the subgraph the table induces: the
  vertex ids are the table's distinct ``vid`` values (as ``long``), and an
  edge with an endpoint outside the table is not part of the graph;
- without one, the universe is every edge endpoint.

The reference works on a fixed vertex universe ``[0, n)`` (elektra
``connectivity.h:19``) whose edges are foreign keys into it. Dropping the
edges that break the key, rather than raising or adding their endpoints,
matches the warm-start semantics of label propagation (an edge with an
endpoint outside ``init_labels`` carries no vote) and needs no action (no
count, no collect): the rule is two semi-joins and a ``distinct`` in the
plan, paid where the operator materializes its inputs. Under AQE that
``distinct`` is one more shuffle stage, so a padding outside a superstep
loop runs one more job than a plain left join would.

:func:`graph_input` applies the rule; :func:`over_vertices` pads a result
onto the vertex table. The driver tier (:func:`.driver_tier.collect_small`)
applies the same rule in NumPy to the arrays it collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _vids(vertices: DataFrame) -> DataFrame:
    return vertices.select(F.col("vid").cast("long").alias("vid"))


def graph_input(edges: DataFrame, vertices: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """``(edges, universe)``: the edges of the graph (``edges``' columns,
    lazily restricted to the vertex table) and its distinct vertex ids, one
    ``vid long`` column."""
    if vertices is None:
        universe = edges.select(F.col("src").cast("long").alias("vid")).union(
            edges.select(F.col("dst").cast("long").alias("vid"))
        )
        return edges, universe.distinct()
    vids = _vids(vertices)
    # shuffled semi-joins: broadcasting the vertex table would cost a job of
    # its own, and at scale it is as large as the edge table
    inside = edges.join(vids.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src", "left_semi").join(
        vids.withColumnRenamed("vid", "dst").hint("shuffle_hash"), "dst", "left_semi"
    )
    return inside.select(*edges.columns), vids.distinct()


def over_vertices(out: DataFrame, vertices: DataFrame | None, fills: dict[str, Column]) -> DataFrame:
    """``out`` (keyed by ``vid``) with one row per vertex of the table:
    rows outside it dropped, a vertex missing from ``out`` filled with
    ``fills`` (column name → value, which may read ``vid``). ``out`` as is
    when there is no vertex table."""
    if vertices is None:
        return out
    cols = [
        F.coalesce(F.col(c), fills[c]).cast(out.schema[c].dataType).alias(c) if c in fills else F.col(c)
        for c in out.columns
        if c != "vid"
    ]
    return _vids(vertices).distinct().join(out, "vid", "left").select("vid", *cols)
