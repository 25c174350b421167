"""Batch-dynamic edge updates — the Spark re-expression of the reference's
``BatchAddEdges`` / ``BatchDeleteEdges`` (elektra
batch_dynamic_connectivity/dynamic_connectivity.h:44-110, 169-377).

State lives in the snapshot catalog (Iceberg stand-in): tables ``edges``,
``labels`` (vid → min-vid component), ``forest`` (spanning forest edges).
Updates are MERGE deltas followed by *incremental* recomputation
(SURVEY.md §7.5) — the set-oriented replacement for the reference's HDT level
machinery, with identical post-state by the CheckRep invariants
(connectivity.h:114-348):

- **insert**: new edges can only merge components. Contract the batch by
  current labels (the exact analogue of ``RepresentativeSpanningTree``,
  connectivity.h:396-409), solve the tiny contracted graph with union-find,
  and remap labels through the resulting root mapping. Batch edges whose
  contracted unite succeeded become forest edges (the winner contract of
  ``unite_variants::Unite``, union_find.h:277-324); the rest are non-tree —
  the same tree/non-tree split ``BatchAddEdges`` performs.
- **delete**: non-tree deletions never change connectivity (fast path — the
  reference removes them from adjacency lists without touching forests,
  dynamic_connectivity.h:199-203). Deleting forest edges triggers a
  recompute of the affected components only: their full edge slice is
  re-run through CC + spanning forest (semantically ``ReplacementSearch``,
  dynamic_connectivity.h:379-592, with the doubling search replaced by a
  set-oriented recompute); labels of untouched components are preserved
  verbatim.

**Driver tier.** Without levels, while the current snapshot of each of
``edges``, ``labels`` and ``forest`` has at most
``driver_tier.SMALL_GRAPH_MAX`` rows (read from the catalog manifest, so the
check costs no job), :meth:`DynamicGraph.create`, ``batch_add_edges``,
``batch_delete_edges`` and ``batch_connected`` run the same steps in NumPy
on the driver (the reference's sequential fallback below a threshold,
elektra euler_tour_tree.h:279). State is read with
:meth:`~elektra_spark.tables.SnapshotCatalog.read_arrow` and committed as
Arrow tables under the Spark path's operation names, so both paths leave
the same snapshots, versions and history; the only Spark job of a batch or a
query is the bounded collect of its input (``create``: the edges and the
vertex table). Larger graphs, larger inputs and ``levels=True`` take the
Spark path below.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..operators import driver_tier
from ..operators.cc import _np_components, connected_components
from ..operators.forest import _np_forest_winners, _winners, spanning_forest
from ..tables import SnapshotCatalog


def _solve_contracted_driver(pdf: pd.DataFrame):
    """Driver-side solve of the contracted batch (sequential-fallback trade,
    elektra euler_tour_tree.h:279) — both steps vectorized NumPy:

    - winners: Boruvka over the contracted multigraph on the **(cu, cv)
      component labels**, with the batch pre-sorted by (src, dst) so positional
      tie-breaks are deterministic given the batch content. Like the
      reference's concurrent ``unite`` (union_find.h:277-324), *which* edge
      wins a merge is an implementation choice — any winner set is a valid
      spanning forest of the contracted graph (the CheckRep MST invariant is
      what's contractual, connectivity.h:216-265) — but unlike a CAS race the
      choice here is reproducible run-to-run;
    - mapping: min-label fixpoint over the touched component quotient.

    Returns (mapping rows [(component, new_component)], winner rows
    [(src, dst)]).
    """
    pdf = pdf.sort_values(["src", "dst"], ignore_index=True)
    cu = pdf["cu"].to_numpy(dtype=np.int64)
    cv = pdf["cv"].to_numpy(dtype=np.int64)
    mask = _np_forest_winners(cu, cv)
    winners = pdf.loc[mask, ["src", "dst"]]
    vids, new = _np_components(cu, cv)
    changed = new != vids
    mapping = pd.DataFrame({"component": vids[changed], "new_component": new[changed]})
    return mapping, winners


def _canon(batch: DataFrame) -> DataFrame:
    return (
        batch.select(
            F.least("src", "dst").cast("long").alias("src"), F.greatest("src", "dst").cast("long").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


# ---- the driver tier (module docstring) -------------------------------------


def _collect(df: DataFrame, *cols: str) -> list[np.ndarray] | None:
    """``cols`` of ``df`` as int64 arrays, or ``None`` when ``df`` has more
    than ``driver_tier.SMALL_GRAPH_MAX`` rows or a null in them. One job."""
    pdf = driver_tier.collect_bounded(
        df.select(*[F.col(c).cast("long") for c in cols]), driver_tier.SMALL_GRAPH_MAX
    )
    if pdf is None or pdf.isna().to_numpy().any():
        return None
    return [pdf[c].to_numpy(np.int64) for c in cols]


def _np_canon(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_canon` in NumPy: (least, greatest), self-loops dropped,
    distinct, sorted by (src, dst)."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def _np_pairs_in(s: np.ndarray, d: np.ndarray, ts: np.ndarray, td: np.ndarray) -> np.ndarray:
    """Mask of the ``(s, d)`` pairs that occur among the ``(ts, td)`` pairs
    (a semi-join on both keys, over a dense relabel of the ids)."""
    ids, inv = np.unique(np.concatenate([s, d, ts, td]), return_inverse=True)
    n, m, k = len(ids), len(s), len(ts)
    key = inv[:m] * n + inv[m : 2 * m]
    return np.isin(key, inv[2 * m : 2 * m + k] * n + inv[2 * m + k :])


def _np_lookup(keys: np.ndarray, vals: np.ndarray, x: np.ndarray) -> np.ndarray:
    """The ``vals`` entry of each ``x`` in ``keys`` (distinct); ``x``
    itself where ``keys`` lacks it (a left join with a coalesce)."""
    if not len(keys):
        return x.copy()
    order = np.argsort(keys)
    i = order[np.minimum(np.searchsorted(keys, x, sorter=order), len(keys) - 1)]
    return np.where(keys[i] == x, vals[i], x)


class DynamicGraph:
    """A mutable graph backed by catalog tables (edges / labels / forest, and
    — with ``levels=True`` — the HDT ``(level, is_tree)`` metadata table
    maintained through the same MERGE commits).

    ``levels=True`` (integrated levels mode, closing SURVEY §7.5's last
    semantic distance to ``BatchDeleteEdges``, dynamic_connectivity.h:169-377):
    new edges enter at the top level (dynamic_connectivity.h:58,79); the
    delete path re-syncs tree flags of the affected components to the
    recomputed forest and runs the push-down operators (tree push-down under
    the 2^(l−1) component-size cap globally — every component the recompute
    produced is re-examined — and non-tree push-down scoped to the affected
    components, the reference's search scope). The level table never drives
    connectivity here (the set-oriented recompute replaces the O(log² n)
    amortization, SURVEY §7.3); it is maintained and invariant-checked
    (:func:`~elektra_spark.dynamic.levels.check_level_invariants`) so a user
    of the reference's level surface sees the same bookkeeping.

    ``check_rep=True``: run :meth:`check_rep` at the exit of every batch op —
    the debug-gated analogue of the reference calling ``CheckRep()`` on entry
    and exit of each public mutation (dynamic_connectivity.h:45,376).
    """

    def __init__(
        self,
        catalog: SnapshotCatalog,
        prefix: str = "graph",
        levels: bool = False,
        check_rep: bool = False,
    ):
        self.catalog = catalog
        self.prefix = prefix
        self.levels = levels
        self.with_check_rep = check_rep

    def _t(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    # -- construction --------------------------------------------------------
    @classmethod
    def create(
        cls,
        catalog: SnapshotCatalog,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        prefix: str = "graph",
        levels: bool = False,
        check_rep: bool = False,
    ) -> "DynamicGraph":
        g = cls(catalog, prefix, levels=levels, check_rep=check_rep)
        if levels or not g._create_on_driver(edges, vertices):
            edges = _canon(edges)
            catalog.write(g._t("edges"), edges, "create")
            lbls = connected_components(edges, vertices=vertices)
            catalog.write(g._t("labels"), lbls, "create")
            forest = spanning_forest(edges)
            catalog.write(g._t("forest"), forest, "create")
            if levels:
                from .levels import with_levels

                n = g.labels().count()
                catalog.write(g._t("levels"), with_levels(edges, forest, n), "create")
        if check_rep:
            g.check_rep()
        return g

    def _create_on_driver(self, edges: DataFrame, vertices: DataFrame | None) -> bool:
        """:meth:`create` in the driver tier: the same three commits, or
        ``False`` (nothing committed) when an input is over the bound. The
        labels follow :mod:`~elektra_spark.operators.universe`'s rule (the
        vertex table's distinct vids over the subgraph it induces); the
        forest spans every canonical edge, as on the Spark path."""
        e = _collect(edges.dropna(subset=["src", "dst"]), "src", "dst")
        v = _collect(vertices, "vid") if e is not None and vertices is not None else None
        if e is None or (vertices is not None and v is None):
            return False
        src, dst = _np_canon(*e)
        self._commit("edges", "create", src=src, dst=dst)
        if v is None:
            vids, comp = _np_components(src, dst)
        else:
            vids = np.unique(v[0])
            inside = np.isin(src, vids) & np.isin(dst, vids)
            vids, comp = _np_components(src[inside], dst[inside], vids)
        self._commit("labels", "create", vid=vids, component=comp)
        forest = _winners(pd.DataFrame({"src": src, "dst": dst}))
        self._commit("forest", "create", src=forest["src"].to_numpy(), dst=forest["dst"].to_numpy())
        return True

    # -- the driver tier's state ------------------------------------------------
    def _on_driver(self) -> bool:
        """The driver tier runs: no levels, and each state table's current
        snapshot has at most ``driver_tier.SMALL_GRAPH_MAX`` rows by its
        manifest count (a missing count is over the bound). No job."""
        return not self.levels and all(
            (n := self.catalog.rows(self._t(t))) is not None and n <= driver_tier.SMALL_GRAPH_MAX
            for t in ("edges", "labels", "forest")
        )

    def _state(self, name: str, *cols: str) -> list[np.ndarray]:
        t = self.catalog.read_arrow(self._t(name))
        return [t.column(c).to_numpy().astype(np.int64, copy=False) for c in cols]

    def _commit(self, name: str, operation: str, **cols: np.ndarray) -> None:
        table = pa.table({c: pa.array(v, pa.int64()) for c, v in cols.items()})
        self.catalog.write(self._t(name), table, operation)

    # -- reads ----------------------------------------------------------------
    def edges(self) -> DataFrame:
        return self.catalog.read(self._t("edges"))

    def labels(self) -> DataFrame:
        return self.catalog.read(self._t("labels"))

    def forest(self) -> DataFrame:
        return self.catalog.read(self._t("forest"))

    def levels_table(self) -> DataFrame:
        """The ``(src, dst, level, is_tree)`` HDT metadata (levels mode)."""
        return self.catalog.read(self._t("levels"))

    # -- invariants ------------------------------------------------------------
    def check_rep(self) -> None:
        """Debug CheckRep (connectivity.h:114-348 re-expressed set-wise):

        - labels == fresh min-vid CC of the edge table (exact, both sides
          canonical min-vid — ``FindRepresentativeVertex`` semantics);
        - forest ⊆ edges and forms a spanning forest: per component,
          #tree edges == component size − 1 (the MST/forest-size invariant,
          connectivity.h:216-265);
        - levels mode: level bounds / tree-forest / HDT size-cap invariants
          (:func:`~elektra_spark.dynamic.levels.check_level_invariants`).
        Raises AssertionError on violation.
        """
        lbls = self.labels()
        edges = self.edges()
        fresh = connected_components(edges, vertices=lbls.select("vid"))
        n_diff = (
            lbls.join(fresh.withColumnRenamed("component", "c2"), "vid")
            .filter(F.col("component") != F.col("c2"))
            .count()
        )
        assert n_diff == 0, f"labels drifted from CC of edges on {n_diff} vertices"

        forest = self.forest()
        stray = forest.join(edges, ["src", "dst"], "left_anti").count()
        assert stray == 0, f"{stray} forest edges not present in the edge table"
        per_comp = (
            forest.join(lbls.withColumnRenamed("vid", "src"), "src")
            .groupBy("component")
            .agg(F.count("*").alias("n_tree"))
        )
        sizes = lbls.groupBy("component").agg(F.count("*").alias("sz"))
        bad = (
            sizes.join(per_comp, "component", "left")
            .filter(F.coalesce("n_tree", F.lit(0)) != F.col("sz") - 1)
            .count()
        )
        assert bad == 0, f"forest-size invariant violated in {bad} components"

        if self.levels:
            from .levels import check_level_invariants

            check_level_invariants(self.levels_table(), lbls.count())

    def batch_connected(self, queries: DataFrame) -> DataFrame:
        """elektra ``BatchConnected`` over the current labels
        (:func:`~elektra_spark.operators.cc.batch_connected`); in the driver
        tier the query batch is collected, answered in NumPy and returned
        as a one-partition frame (``driver_tier.local_frame``)."""
        from ..operators.cc import batch_connected

        q = _collect(queries, "u", "v") if self._on_driver() else None
        if q is None:
            return batch_connected(self.labels(), queries)
        u, v = q
        vid, comp = self._state("labels", "vid", "component")
        schema = StructType(
            [queries.schema["u"], queries.schema["v"], StructField("connected", BooleanType())]
        )
        answer = pd.DataFrame({"u": u, "v": v, "connected": _np_lookup(vid, comp, u) == _np_lookup(vid, comp, v)})
        return driver_tier.local_frame(queries.sparkSession, answer, schema)

    # -- batch insert ----------------------------------------------------------
    def batch_add_edges(self, batch: DataFrame) -> None:
        """Insert an edge batch (elektra ``BatchAddEdges``,
        dynamic_connectivity.h:44-110): contract by current labels, spanning
        tree of the contracted graph, relabel through the root mapping.

        In the driver tier (module docstring) the whole batch runs in NumPy.
        Otherwise the contracted cross-component graph (one row per batch
        edge joining distinct components) is solved on the driver when it
        has at most ``driver_tier.DRIVER_ROWS_MAX`` rows — vectorized NumPy,
        one bounded collect — else by the distributed CC + spanning-forest
        operators, so arbitrarily large insert batches (the reference's
        bread and butter) never OOM the driver.
        """
        b = _collect(batch.dropna(subset=["src", "dst"]), "src", "dst") if self._on_driver() else None
        if b is not None:
            self._add_on_driver(*_np_canon(*b))
        else:
            self._add_on_spark(batch)
        if self.with_check_rep:
            self.check_rep()

    def _add_on_spark(self, batch: DataFrame) -> None:
        spark = batch.sparkSession
        batch = _canon(batch)
        # filter out already-present edges (InsertIntoEdgeTable dedup,
        # connectivity.h:425-437) and self-contained no-ops
        fresh = batch.join(self.edges(), ["src", "dst"], "left_anti")
        # vertices unseen before get singleton labels first
        labels = self.labels()
        endpoints = fresh.select(F.col("src").alias("vid")).union(fresh.select(F.col("dst").alias("vid"))).distinct()
        new_vids = endpoints.join(labels.select("vid"), "vid", "left_anti").withColumn(
            "component", F.col("vid")
        )
        labels = labels.unionByName(new_vids)

        # contract batch endpoints to representatives (RepresentativeSpanningTree)
        lu = labels.select(F.col("vid").alias("src"), F.col("component").alias("cu"))
        lv = labels.select(F.col("vid").alias("dst"), F.col("component").alias("cv"))
        contracted = fresh.join(lu, "src").join(lv, "dst").select("src", "dst", "cu", "cv")
        cross = contracted.filter(F.col("cu") != F.col("cv"))
        # one job decides the path AND collects the cross batch when small
        # (formerly an eager checkpoint + count + collect — three jobs per
        # batch on a path whose cost is almost entirely fixed job overhead)
        head = driver_tier.collect_bounded(cross, driver_tier.DRIVER_ROWS_MAX)

        mapping_df = winners_df = None
        if head is not None and len(head):
            mapping, winners = _solve_contracted_driver(head)
            # broadcast only the driver-solved (small) mapping; the
            # distributed mapping can be arbitrarily large — let AQE pick
            if len(mapping):
                mapping_df = F.broadcast(spark.createDataFrame(mapping))
            if len(winners):
                winners_df = spark.createDataFrame(winners)
        elif head is None:
            cross = cross.localCheckpoint(eager=True)
            # distributed fallback: quotient CC gives the root mapping; the
            # spanning forest of one representative original edge per
            # contracted pair gives the winners
            root_map = connected_components(
                cross.select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
            )
            mapping_df = root_map.filter(F.col("vid") != F.col("component")).select(
                F.col("vid").alias("component"), F.col("component").alias("new_component")
            )
            rep = (
                cross.select(
                    F.least("cu", "cv").alias("a"), F.greatest("cu", "cv").alias("b"), "src", "dst"
                )
                .groupBy("a", "b")
                .agg(F.min(F.struct("src", "dst")).alias("e"))
            )
            forest_c = spanning_forest(rep.select(F.col("a").alias("src"), F.col("b").alias("dst")))
            winners_df = (
                forest_c.withColumnRenamed("src", "a").withColumnRenamed("dst", "b")
                .join(rep, ["a", "b"])
                .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
            )

        self.catalog.merge_insert(self._t("edges"), fresh, ["src", "dst"])
        if mapping_df is not None:
            relabeled = (
                labels.join(mapping_df, "component", "left")
                .select("vid", F.coalesce("new_component", F.col("component")).alias("component"))
            )
        else:
            relabeled = labels
        self.catalog.write(self._t("labels"), relabeled, "batch_add_edges")
        if winners_df is not None:
            self.catalog.write(self._t("forest"), self.forest().unionByName(winners_df), "batch_add_edges")
        if self.levels:
            # new edges enter at the current top level
            # (dynamic_connectivity.h:58,79); tree flag = winner contract
            from .levels import max_level

            top = max_level(self.labels().count())
            if winners_df is not None:
                w = fresh.join(self.forest(), ["src", "dst"], "left_semi").withColumn(
                    "is_tree", F.lit(True)
                )
                new_rows = fresh.join(w, ["src", "dst"], "left").select(
                    "src", "dst", F.lit(top).cast("int").alias("level"),
                    F.coalesce("is_tree", F.lit(False)).alias("is_tree"),
                )
            else:
                new_rows = fresh.select(
                    "src", "dst", F.lit(top).cast("int").alias("level"),
                    F.lit(False).alias("is_tree"),
                )
            self.catalog.merge_insert(self._t("levels"), new_rows, ["src", "dst"])

    def _add_on_driver(self, src: np.ndarray, dst: np.ndarray) -> None:
        """The insert path of :meth:`batch_add_edges` over the canonical
        batch, in NumPy, with the same commits."""
        es, ed = self._state("edges", "src", "dst")
        fresh = ~_np_pairs_in(src, dst, es, ed)
        src, dst = src[fresh], dst[fresh]
        vid, comp = self._state("labels", "vid", "component")
        ends = np.unique(np.concatenate([src, dst]))
        unseen = ends[~np.isin(ends, vid)]
        vid, comp = np.concatenate([vid, unseen]), np.concatenate([comp, unseen])
        cu, cv = _np_lookup(vid, comp, src), _np_lookup(vid, comp, dst)
        cross = cu != cv
        self._commit("edges", "merge_insert", src=np.concatenate([es, src]), dst=np.concatenate([ed, dst]))
        winners = None
        if cross.any():
            mapping, winners = _solve_contracted_driver(
                pd.DataFrame({"src": src[cross], "dst": dst[cross], "cu": cu[cross], "cv": cv[cross]})
            )
            comp = _np_lookup(
                mapping["component"].to_numpy(np.int64), mapping["new_component"].to_numpy(np.int64), comp
            )
        self._commit("labels", "batch_add_edges", vid=vid, component=comp)
        if winners is not None and len(winners):
            fs, fd = self._state("forest", "src", "dst")
            self._commit(
                "forest", "batch_add_edges",
                src=np.concatenate([fs, winners["src"].to_numpy(np.int64)]),
                dst=np.concatenate([fd, winners["dst"].to_numpy(np.int64)]),
            )

    # -- batch delete -----------------------------------------------------------
    def batch_delete_edges(self, batch: DataFrame) -> None:
        """Delete an edge batch (elektra ``BatchDeleteEdges``,
        dynamic_connectivity.h:169-377): unknown edges are ignored, non-tree
        deletions change only the edge table, and tree deletions recompute
        the components they split (module docstring). In the driver tier
        the whole batch runs in NumPy."""
        b = _collect(batch.dropna(subset=["src", "dst"]), "src", "dst") if self._on_driver() else None
        if b is not None:
            self._delete_on_driver(*_np_canon(*b))
        else:
            self._delete_on_spark(batch)
        if self.with_check_rep:
            self.check_rep()

    def _delete_on_spark(self, batch: DataFrame) -> None:
        batch = _canon(batch)
        # RemoveUnknownEdges (connectivity-helpers.h:280-283)
        known = batch.join(self.edges(), ["src", "dst"], "left_semi").localCheckpoint(eager=True)
        self.catalog.merge_delete(self._t("edges"), known, ["src", "dst"])
        if self.levels:
            self.catalog.merge_delete(self._t("levels"), known, ["src", "dst"])

        # tree / non-tree split: only forest deletions can split components
        tree_dels = known.join(self.forest(), ["src", "dst"], "left_semi").localCheckpoint(eager=True)
        if tree_dels.count() == 0:
            return  # non-tree fast path: connectivity unchanged

        labels = self.labels()
        # affected components = components containing any deleted tree edge
        affected = (
            tree_dels.select(F.col("src").alias("vid"))
            .join(labels, "vid")
            .select("component")
            .distinct()
            .localCheckpoint(eager=True)
        )
        member = labels.join(F.broadcast(affected), "component", "left_semi")
        sub_vertices = member.select("vid")
        remaining = self.edges()
        sub_edges = remaining.join(
            sub_vertices.withColumnRenamed("vid", "src"), "src", "left_semi"
        )
        # recompute CC + forest inside affected components only. Small
        # affected slices (the common case: a delete batch touches a few
        # components) are solved on the driver with the SAME kernels the
        # distributed operators bottom out in — _np_min_labels gives the
        # identical min-vid labels, and the winner set is the unique
        # lexicographic-(src,dst) minimum forest, a pure function of the
        # edge set (forest.py module docstring) — so the fast path is
        # bit-identical to the distributed one while replacing ~10 fixed-
        # cost jobs with two bounded collects (guide §1.2 / the reference's
        # own sequential-fallback trade, euler_tour_tree.h:279).
        k = driver_tier.DRIVER_ROWS_MAX
        sub_pdf = driver_tier.collect_bounded(sub_edges, k)
        vpdf = driver_tier.collect_bounded(sub_vertices, k) if sub_pdf is not None else None
        new_sub_labels = new_sub_forest = None
        if vpdf is not None:
            spark = batch.sparkSession
            es = sub_pdf["src"].to_numpy(dtype=np.int64)
            ed = sub_pdf["dst"].to_numpy(dtype=np.int64)
            vids, roots = _np_components(es, ed, vpdf["vid"].to_numpy(dtype=np.int64))
            new_sub_labels = spark.createDataFrame(
                pd.DataFrame({"vid": vids, "component": roots})
            )
            fo = _winners(sub_pdf[["src", "dst"]])
            new_sub_forest = spark.createDataFrame(fo if len(fo) else [], "src long, dst long")
        if new_sub_labels is None:
            new_sub_labels = connected_components(sub_edges, vertices=sub_vertices)
        untouched = labels.join(F.broadcast(affected), "component", "left_anti").select("vid", "component")
        self.catalog.write(self._t("labels"), untouched.unionByName(new_sub_labels), "batch_delete_edges")

        if new_sub_forest is None:
            new_sub_forest = spanning_forest(sub_edges)
        old_forest = self.forest().join(known, ["src", "dst"], "left_anti")
        # drop forest edges that lived in affected components; add recomputed
        keep_forest = old_forest.join(
            member.withColumnRenamed("vid", "src").select("src"), "src", "left_anti"
        )
        self.catalog.write(self._t("forest"), keep_forest.unionByName(new_sub_forest), "batch_delete_edges")

        if self.levels:
            # integrated levels mode (class docstring): re-sync the affected
            # components' tree flags to the recomputed forest, then run the
            # push-down operators at the table's top level — tree push-down
            # under the 2^(l−1) size cap over the NEW labels
            # (PushDownTreeEdgesFromComponents, dynamic_connectivity.h:112-131),
            # non-tree push-down scoped to the affected components (the
            # reference's ReplacementSearch search scope,
            # dynamic_connectivity.h:133-167)
            from .levels import push_down_non_tree_edges, push_down_tree_edges_from_components

            member_src = member.select(F.col("vid").alias("src")).localCheckpoint(eager=True)
            lvl = self.levels_table()
            in_new_forest = self.forest().select("src", "dst").withColumn("t2", F.lit(True))
            affected_rows = lvl.join(member_src, "src", "left_semi")
            kept_rows = lvl.join(member_src, "src", "left_anti")
            resynced = affected_rows.join(in_new_forest, ["src", "dst"], "left").select(
                "src", "dst", "level", F.coalesce("t2", F.lit(False)).alias("is_tree")
            )
            lvl = kept_rows.unionByName(resynced)
            top_row = lvl.agg(F.max("level")).collect()[0][0]
            if top_row is not None and top_row > 0:
                new_labels = untouched.unionByName(new_sub_labels)
                lvl = push_down_tree_edges_from_components(lvl, new_labels, int(top_row))
                nontree_batch = (
                    lvl.filter((F.col("level") == int(top_row)) & ~F.col("is_tree"))
                    .join(member_src, "src", "left_semi")
                    .select("src", "dst")
                )
                lvl = push_down_non_tree_edges(lvl, nontree_batch, int(top_row))
            self.catalog.write(self._t("levels"), lvl, "batch_delete_edges")

    def _delete_on_driver(self, src: np.ndarray, dst: np.ndarray) -> None:
        """The delete path of :meth:`batch_delete_edges` over the canonical
        batch, in NumPy, with the same commits: the affected components'
        slice is recomputed by the kernels the Spark path's driver fallback
        runs (``_np_components``, ``_winners``)."""
        es, ed = self._state("edges", "src", "dst")
        known = _np_pairs_in(es, ed, src, dst)
        ks, kd, es, ed = es[known], ed[known], es[~known], ed[~known]
        self._commit("edges", "merge_delete", src=es, dst=ed)
        fs, fd = self._state("forest", "src", "dst")
        tree = _np_pairs_in(fs, fd, ks, kd)
        if not tree.any():
            return  # non-tree fast path: connectivity unchanged
        vid, comp = self._state("labels", "vid", "component")
        # affected components: those of the deleted tree edges' src vertices
        affected = np.unique(comp[np.isin(vid, fs[tree])])
        member = np.isin(comp, affected)
        sub = np.isin(es, vid[member])
        new_vid, new_comp = _np_components(es[sub], ed[sub], vid[member])
        self._commit(
            "labels", "batch_delete_edges",
            vid=np.concatenate([vid[~member], new_vid]), component=np.concatenate([comp[~member], new_comp]),
        )
        sub_forest = _winners(pd.DataFrame({"src": es[sub], "dst": ed[sub]}))
        keep = ~tree & ~np.isin(fs, vid[member])
        self._commit(
            "forest", "batch_delete_edges",
            src=np.concatenate([fs[keep], sub_forest["src"].to_numpy(np.int64)]),
            dst=np.concatenate([fd[keep], sub_forest["dst"].to_numpy(np.int64)]),
        )
