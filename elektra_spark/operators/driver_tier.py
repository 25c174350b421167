"""Driver-NumPy tier for small graphs.

On a small graph an iterative operator's Spark supersteps cost almost
nothing but fixed per-job overhead: a 6k-edge bsp PageRank superstep is one
two-stage job of ~0.7 s, and its prep is four more ``applyInPandas`` jobs
that encode side files. Below :data:`SMALL_GRAPH_MAX` edges and vertices,
:func:`collect_small` brings the graph to the driver once and the operator
runs the same synchronous schedule in NumPy — the reference's sequential
fallback below a threshold (elektra ``euler_tour_tree.h:279``), and the
Python-boundary cost that "Accelerating Python UDFs in Vectorized Query
Execution" (CIDR 2022) measures, paid once instead of per stage.

Callers (:func:`~elektra_spark.operators.pagerank.pagerank`,
:func:`~elektra_spark.operators.lpa.label_propagation`) take the tier only
when the caller asked for nothing specific — the default kernel, no
checkpointer, no bsp prep dir — so durable runs still commit every
superstep.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import _no_aqe

# Bound on both edges and vertices for the driver tier: the collect runs only
# when each table has at most SMALL_GRAPH_MAX rows. The smallest
# graph a bench.py leaf runs on kernel='auto' has 1,041,259 edges, so every
# bench leaf stays distributed. Tests set it to 0 to force the distributed
# path.
SMALL_GRAPH_MAX = 500_000


class SmallGraph(NamedTuple):
    vids: np.ndarray  # sorted distinct vertex ids, int64
    src: np.ndarray  # edge endpoints as indices into vids
    dst: np.ndarray
    values: np.ndarray | None  # the vertex table's ``value`` column, aligned to vids


def collect_small(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    value: str | None = None,
    sizes: tuple[int, ...] | None = None,
) -> SmallGraph | None:
    """The graph as dense-indexed NumPy arrays, or ``None`` when it has more
    than :data:`SMALL_GRAPH_MAX` edges or vertices, or an edge with an
    endpoint outside ``vertices`` (the Spark kernels give such edges their
    own meaning, so those graphs keep it).

    ``sizes`` is ``(edge rows, vertex rows)`` when the caller has counted
    them already; otherwise one count job over both tables decides first,
    so a graph over the bound ships no rows to the driver. Within the bound
    one more job collects both tables at once; rows carry a kind tag
    instead of nulls (a null would turn an int64 column into float64 in
    pandas and round vids ≥ 2^53).

    Vertex ids are ``vertices.vid`` when a vertex table is given, else every
    edge endpoint. ``value`` names a column of ``vertices`` returned aligned
    to the sorted ids (nulls read as NaN).
    """
    k = SMALL_GRAPH_MAX
    tables = [edges] if vertices is None else [edges, vertices]
    with _no_aqe(edges.sparkSession):
        if sizes is None:
            counts = reduce(
                DataFrame.union,
                [t.agg(F.lit(i).alias("t"), F.count("*").alias("n")) for i, t in enumerate(tables)],
            ).collect()
            sizes = tuple(r["n"] for r in sorted(counts))
        if max(sizes) > k:
            return None
        vtype = vertices.schema[value].dataType if value is not None else "long"
        probe = edges.select(
            F.col("src").cast("long").alias("a"),
            F.col("dst").cast("long").alias("b"),
            F.lit(0).cast(vtype).alias("x"),
            F.lit(0).cast("byte").alias("t"),
        )
        if vertices is not None:
            probe = probe.unionByName(
                vertices.select(
                    F.col("vid").cast("long").alias("a"),
                    F.col("vid").cast("long").alias("b"),
                    (F.col(value) if value is not None else F.lit(0)).cast(vtype).alias("x"),
                    F.lit(1).cast("byte").alias("t"),
                )
            )
        pdf = probe.toPandas()
    is_v = pdf["t"].to_numpy() == 1
    src = pdf["a"].to_numpy(np.int64)[~is_v]
    dst = pdf["b"].to_numpy(np.int64)[~is_v]
    if vertices is None:
        vids = np.unique(np.concatenate([src, dst]))
        return SmallGraph(vids, np.searchsorted(vids, src), np.searchsorted(vids, dst), None)
    vids, first = np.unique(pdf["a"].to_numpy(np.int64)[is_v], return_index=True)
    if not (np.isin(src, vids).all() and np.isin(dst, vids).all()):
        return None
    values = pdf["x"].to_numpy()[is_v][first] if value is not None else None
    return SmallGraph(vids, np.searchsorted(vids, src), np.searchsorted(vids, dst), values)
