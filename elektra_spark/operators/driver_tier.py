"""Driver fallbacks: small relations are solved on the driver in NumPy.

On a small graph an iterative operator's Spark supersteps cost almost
nothing but fixed per-job overhead: a 6k-edge bsp PageRank superstep is one
two-stage job of ~0.7 s, and its prep is four more ``applyInPandas`` jobs
that encode side files. Every operator here makes the reference's trade —
the sequential fallback below a threshold (elektra
``euler_tour_tree.h:279``), and the Python-boundary cost that "Accelerating
Python UDFs in Vectorized Query Execution" (CIDR 2022) measures, paid once
instead of per stage — under three bounds and one collect rule:

- :data:`SMALL_GRAPH_MAX` bounds a whole input graph, edges and vertices.
  :func:`collect_small` brings it to the driver (one size job,
  :func:`table_sizes`, then one collect) for
  :func:`~elektra_spark.operators.pagerank.pagerank`,
  :func:`~elektra_spark.operators.lpa.label_propagation`,
  :func:`~elektra_spark.operators.cc.connected_components` and
  :func:`~elektra_spark.operators.triangles.triangle_count`. The first
  three take the tier only when the caller asked for nothing specific (the
  default kernel, no checkpointer, no bsp prep dir), so durable runs still
  commit every superstep; CC and triangles answer in a one-partition frame
  (:func:`local_frame`). The fourth user,
  :class:`~elektra_spark.dynamic.updates.DynamicGraph` without levels,
  sizes its state from the row counts the catalog manifest records for the
  current ``edges``, ``labels`` and ``forest`` snapshots (no job), reads
  and commits that state through Arrow, and collects only its input (the
  update or query batch, or ``create``'s edges and vertex table) with
  :func:`collect_bounded` under this bound.
- :data:`DRIVER_WEDGES_MAX` bounds the work of the triangle tier: the
  wedges its degree-ordered enumeration visits, Σ C(d⁺, 2) over the
  oriented out-degrees, known before it enumerates any. Over it the Spark
  wedge join runs.
- :data:`DRIVER_ROWS_MAX` bounds a *derived* relation that a distributed
  operator has already shrunk: the CC quotient links of the csr kernel,
  the winner union of both forests (:mod:`~elektra_spark.operators.forest`),
  and, on ``DynamicGraph``'s Spark path, the contracted add batch and the
  delete slice's edges and vertices. Each collects it
  with :func:`collect_bounded` — one job that both decides the path and
  ships the rows — and otherwise keeps its distributed fallback.

Tests set any bound to 0 (or to a small k) to force the fallback.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import _no_aqe

# Bound on both edges and vertices for the driver tier: the collect runs only
# when each table has at most SMALL_GRAPH_MAX rows. The smallest
# graph a bench.py leaf runs on kernel='auto' has 1,041,259 edges, so every
# bench operator leaf stays distributed (its email-Eu-core DynamicGraph
# leaves, run when that graph is present, take the tier). Tests set it to 0
# to force the distributed path.
SMALL_GRAPH_MAX = 500_000

# Bound on the rows of a derived relation that a driver fallback collects
# (collect_bounded). Over it, the operator's distributed path runs.
DRIVER_ROWS_MAX = 5_000_000

# Bound on the wedges the triangle tier enumerates (Σ C(d⁺, 2) over the
# degree-oriented out-degrees). The tier closes them in fixed-size chunks
# (triangles._WEDGE_CHUNK), so the bound caps driver time, not memory.
DRIVER_WEDGES_MAX = 50_000_000


def collect_bounded(df: DataFrame, k: int) -> pd.DataFrame | None:
    """``df`` as pandas when it has at most ``k`` rows, else ``None``.

    One ``limit(k + 1)`` job both decides and collects: a relation over the
    bound ships at most k + 1 rows, and one within it needs no count job
    first."""
    pdf = df.limit(k + 1).toPandas()
    return pdf if len(pdf) <= k else None


def local_frame(spark, pdf: pd.DataFrame, schema: str) -> DataFrame:
    """A driver-tier answer as a one-partition DataFrame.

    ``createDataFrame`` spreads a local relation over up to
    ``defaultParallelism`` slices; a caller that writes the answer (the
    CC labels a :class:`~elektra_spark.dynamic.updates.DynamicGraph`
    commits) would write a file per slice. A relation of at most one row is
    one slice already and collects with no job, so it is left as is."""
    df = spark.createDataFrame(pdf, schema)
    return df if len(pdf) <= 1 else df.coalesce(1)


def table_sizes(edges: DataFrame, vertices: DataFrame | None = None) -> tuple[int, ...]:
    """``(edge rows,)`` or ``(edge rows, vertex rows)``: one count job over
    both tables."""
    tables = [edges] if vertices is None else [edges, vertices]
    with _no_aqe(edges.sparkSession):
        counts = reduce(
            DataFrame.union,
            [t.agg(F.lit(i).alias("t"), F.count("*").alias("n")) for i, t in enumerate(tables)],
        ).collect()
    return tuple(r["n"] for r in sorted(counts))


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
    than :data:`SMALL_GRAPH_MAX` edges or vertices.

    ``sizes`` is ``(edge rows, vertex rows)`` when the caller has counted
    them already; otherwise one count job over both tables
    (:func:`table_sizes`) decides first, so a graph over the bound ships no
    rows to the driver. Within the bound one more job collects both tables
    at once; rows carry a kind tag instead of nulls (a null would turn an
    int64 column into float64 in pandas and round vids ≥ 2^53).

    The graph follows :mod:`.universe`'s rule, applied here in NumPy: with
    a vertex table the vertex ids are its distinct ``vid`` values and an
    edge with an endpoint outside it is dropped; without one they are every
    edge endpoint. ``value`` names a column of ``vertices`` returned aligned
    to the sorted ids (a repeated vid keeps its first row's value; nulls
    read as NaN).
    """
    if sizes is None:
        sizes = table_sizes(edges, vertices)
    if max(sizes) > SMALL_GRAPH_MAX:
        return None
    with _no_aqe(edges.sparkSession):
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
    inside = np.isin(src, vids) & np.isin(dst, vids)
    src, dst = src[inside], dst[inside]
    values = pdf["x"].to_numpy()[is_v][first] if value is not None else None
    return SmallGraph(vids, np.searchsorted(vids, src), np.searchsorted(vids, dst), values)
