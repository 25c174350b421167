"""Connected components — hash-to-min label exchange with pointer jumping.

Semantics match the reference exactly: every vertex's final label is the
**minimum vertex id of its component** — elektra's canonical representative
(``ElementBase::FindRepresentativeVertex`` returns the min vertex of the
Euler tour, elektra parallel_euler_tour_tree/element.h:87-120; the brute-force
oracle uses ``MinimumVertexInComponent``,
utilities/simple_forest_connectivity.h:40-57). ``BatchConnected``
(connectivity.h:30-31) then reduces to label-equality joins — see
:func:`batch_connected`.

Two-level execution (the Spark-native replacement for the reference's
Euler-tour point updates, SURVEY.md §7.1):

1. **Local collapse (CSR kernel)** — edges are range-partitioned by ``src``
   (conversation chains get consecutive vids, so whole conversations land in
   one partition) and each partition runs a vectorized NumPy min-label
   union-find inside ``mapInPandas`` (Arrow batches, zero per-row Python).
   This is the Spark analogue of the reference's semisort-then-local-work
   idiom (connectivity-helpers.h:216-235) and collapses ~all intra-partition
   structure in one pass, leaving a quotient graph of cross-partition pairs
   that is orders of magnitude smaller than E.
2. **Global fixpoint** — hash-to-min over the quotient: each superstep takes
   ``label[v] ← min(label[v], min over neighbors' labels, label[label[v]])``
   (the last term is pointer jumping / path compression — the BSP analogue of
   ``find_compress``, elektra union_find.h:188-205). Min-aggregation is the
   BSP analogue of the reference's ``write_min`` CAS (utilities/cas.h).
   Converges in O(log n) supersteps; each superstep's labels are materialized
   by the ``checkpoint=`` function to truncate lineage (the superstep
   materializers and the durable run live in :mod:`elektra_spark.checkpoint`).

At 100 TB: the heavy relation (edges) is shuffled **once** (the range
partition); supersteps shuffle only the label table, which shrinks to the
quotient graph after phase 1. Hub vertices are harmless here because min() is
a fully map-side-combinable aggregate.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, EphemeralCheckpointer, SuperstepHook, supersteps
from . import driver_tier


def _np_min_labels(s, d, n: int):
    """Min-label fixpoint over a dense-indexed edge list — the shared NumPy
    kernel for the per-partition collapse and the driver quotient solve.

    Setup builds a local CSR once (neighbor array sorted by target — the
    NumPy analogue of the reference's semisort-then-offsets idiom,
    connectivity-helpers.h:216-235). Each round then gathers neighbor labels
    and ``np.minimum.reduceat``-combines them into a per-vertex candidate
    min ``c[t]``, which is hooked **at the root** (``lbl[lbl[t]] ← c[t]``, a
    scatter-min — FastSV's stochastic hooking; Zhang–Azad–Buluç 2020) as
    well as at the vertex (``lbl[t] ← c[t]``, aggressive hooking), followed
    by pointer doubling ``lbl ← lbl[lbl]`` to full closure. Root hooking is
    what contracts the quotient every round: plain vertex hooking propagates
    a min one *adjacency* hop per round, so chain-structured partitions
    (conversation paths) took diameter-many rounds — measured 76 scatter
    rounds / 0.59 s on one 256k-edge bench partition vs 4 rounds / 0.055 s
    with root hooking, identical labels. Scratch buffers are allocated once
    and reused — this sandbox page-faults fresh mmap'd pages at ~10 MB/s
    (see session.apply_malloc_env), so per-round temporaries would dominate
    the kernel.

    Returns the label array: lbl[i] = min dense index of i's component.
    """
    import numpy as np

    m = len(s)
    # dense indices fit int32 up to 2^31 vertices per partition — halves the
    # buffer bytes (fault-in and bandwidth) vs int64
    idx_t = np.int32 if n < 2**31 - 1 else np.int64
    lbl = np.arange(n, dtype=idx_t)
    if m == 0:
        return lbl
    s = np.asarray(s, dtype=idx_t)
    d = np.asarray(d, dtype=idx_t)
    targets = np.concatenate([s, d])
    others = np.concatenate([d, s])
    order = np.argsort(targets, kind="stable")
    tsorted = targets[order]
    nbrs = others[order]  # CSR: neighbor ids grouped by target
    starts = np.flatnonzero(np.r_[True, tsorted[1:] != tsorted[:-1]])
    uniq = tsorted[starts]
    del targets, others, order, tsorted
    gath = np.empty(2 * m, idx_t)
    mins = np.empty(len(starts), idx_t)
    ping = np.empty(n, idx_t)
    old = np.empty(n, idx_t)
    while True:
        np.copyto(old, lbl)
        np.take(lbl, nbrs, out=gath)
        np.minimum.reduceat(gath, starts, out=mins)
        # stochastic hook: scatter the candidate min into the CURRENT roots
        # (lbl[uniq] still holds the round-start labels at this point)
        np.minimum.at(lbl, lbl[uniq], mins)
        # aggressive hook at the vertex itself
        np.minimum(lbl[uniq], mins, out=mins)
        lbl[uniq] = mins
        while True:
            np.take(lbl, lbl, out=ping)
            if np.array_equal(ping, lbl):
                break
            lbl, ping = ping, lbl
        if np.array_equal(lbl, old):
            break
    return lbl


def _np_components(src, dst, extra=None):
    """Components of an id-valued edge list → ``(ids, roots)``: the sorted
    distinct ids of ``src``, ``dst`` and ``extra`` (isolated vertices), and
    each one's component min id — :func:`_np_min_labels` on the dense
    relabel."""
    import numpy as np

    parts = [src, dst] if extra is None else [src, dst, extra]
    ids, inv = np.unique(np.concatenate(parts), return_inverse=True)
    m = len(src)
    return ids, ids[_np_min_labels(inv[:m], inv[m : 2 * m], len(ids))]


def _np_cols(batches, names):
    """Concatenate Arrow record batches into one int64 NumPy array per
    column (one copy each — ``mapInArrow`` feeds Arrow buffers directly,
    skipping the pandas Block construction ``mapInPandas`` pays twice)."""
    import numpy as np
    import pyarrow as pa

    got = list(batches)
    if not got:
        return None
    tab = pa.Table.from_batches(got)
    if tab.num_rows == 0:
        return None
    return [
        tab.column(n).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        for n in names
    ]


def _local_cc_kernel(batches) -> Iterator:
    """Per-partition min-label union-find: vectorized NumPy, no per-row
    Python; Arrow in/out (guide §4 — the pandas wrapping cost ~as much as
    the union-find itself at 1 core).

    Emits (vid, comp) where comp is the min vid of the vertex's component
    *within this partition's subgraph*.
    """
    import pyarrow as pa

    cols = _np_cols(batches, ["src", "dst"])
    if cols is None:
        return
    vids, roots = _np_components(*cols)
    yield pa.RecordBatch.from_arrays(
        [pa.array(vids, pa.int64()), pa.array(roots, pa.int64())],
        ["vid", "comp"],
    )


def _min_label_fixpoint(
    edges: DataFrame,
    labels: DataFrame,
    max_iter: int = 50,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    start_step: int = 0,
) -> DataFrame:
    """Iterate label[v] ← min(self, neighbors, label[label[v]]) to fixpoint.

    ``labels`` must contain every vertex (vid, label) with label values drawn
    from the vid universe (true for min-vid labels by construction). With
    ``start_step > 0`` they are a resumed state (e.g. ``CheckpointedRun.load``),
    materialized without a second commit of step ``start_step``; a fresh
    run (``start_step == 0``) commits them as step 0.
    """
    both = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with supersteps(
        edges.sparkSession, "connected_components", checkpoint, on_superstep, EphemeralCheckpointer
    ) as loop:
        checkpoint = loop.checkpoint
        both = checkpoint(both, -1)  # materialize once; reused every superstep

        labels = checkpoint(labels.select("vid", "label"), -1 if start_step else 0)
        for step in loop.steps(range(start_step, start_step + max_iter)):
            # Superstep = hash-to-min cluster exchange, two aggregations:
            #  1. candidate min per vertex: own label, neighbors' labels, and
            #     label[label[v]] (pointer-jump messages w → v for label[v] = w —
            #     the BSP analogue of find_compress, elektra union_find.h:188-205);
            #  2. star broadcast: the min candidate of each label-group flows to
            #     every member, so a min discovered anywhere in a cluster reaches
            #     the whole cluster next round — without it a min arriving
            #     mid-chain crawls one hop per round. Clusters merge by doubling
            #     → O(log n) supersteps.
            # Both aggregates are min() — map-side combinable, so hub vertices /
            # giant components cost one combiner entry per map partition, never a
            # hot reducer.
            jump_msgs = labels.select(F.col("label").alias("src"), F.col("vid").alias("dst"))
            msgs = both.union(jump_msgs)
            nbr = (
                msgs.join(labels, msgs.src == labels.vid)
                .select(F.col("dst").alias("vid"), "label")
                .groupBy("vid")
                .agg(F.min("label").alias("nbr_min"))
            )
            cand = labels.join(nbr, "vid", "left").select(
                "vid",
                F.col("label"),
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("cmin"),
            )
            star = cand.groupBy("label").agg(F.min("cmin").alias("star_min"))
            new_labels = (
                cand.join(star, "label")
                .select("vid", F.col("label").alias("old"), F.least("cmin", "star_min").alias("label"))
                .select("vid", "label", (F.col("old") != F.col("label")).alias("changed"))
            )
            cp = checkpoint(new_labels, step + 1)  # durable state: (vid, label, changed)
            changed = cp.filter("changed").count()
            labels = cp.select("vid", "label")
            loop.done(changed)
            if changed == 0:
                break
    return labels


def _merge_cc_kernel(batches) -> Iterator:
    """Second-level collapse over the hash(vid)-shuffled (vid, comp) pair
    table: one vectorized union-find per partition over the bipartite
    vid–comp label graph, emitting the per-vid seed labels AND the residual
    quotient links in a single pass.

    Replaces a JVM chain (localCheckpoint of the full pair table → groupBy
    min seeds → second checkpoint → pair⋈seed join → dropDuplicates) that
    processed ~|V| rows several times to discover a quotient measured at a
    few hundred rows on src-clustered input (guide §2.4: fewer passes, one
    exchange). Rows out: (vid, label, link=false) for every distinct vid —
    label = min id of its partition-local cluster — plus (comp, root,
    link=true) for every comp value whose local root differs (the quotient
    the driver/distributed solve unifies). Correctness: vids are unique to
    one hash partition, so partitions interact only through shared comp
    values, and every such comp either IS its cluster min (no link needed)
    or emits a link to it; the transitive closure over link rows therefore
    connects exactly the original components.
    """
    import numpy as np
    import pyarrow as pa

    cols = _np_cols(batches, ["vid", "comp"])
    if cols is None:
        return
    vid, comp = cols
    nodes, inv = np.unique(np.concatenate([vid, comp]), return_inverse=True)
    lbl = _np_min_labels(inv[: len(vid)], inv[len(vid) :], len(nodes))
    roots = nodes[lbl]
    v_idx = inv[: len(vid)]
    # distinct vids of this partition (a vid can arrive from several source
    # partitions); one seed row each
    v_first = np.unique(v_idx)
    c_idx = np.unique(inv[len(vid) :])
    c_links = c_idx[roots[c_idx] != nodes[c_idx]]
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(np.concatenate([nodes[v_first], nodes[c_links]]), pa.int64()),
            pa.array(np.concatenate([roots[v_first], roots[c_links]]), pa.int64()),
            pa.array(
                np.concatenate(
                    [np.zeros(len(v_first), bool), np.ones(len(c_links), bool)]
                )
            ),
        ],
        ["vid", "label", "link"],
    )


def _driver_union_find(spark, links_pdf: pd.DataFrame) -> DataFrame:
    """Union-find over the (small, already collected) root quotient graph on
    the driver — the same vectorized NumPy kernel as the per-partition pass.

    Returns a (label, root) DataFrame mapping each *changed* root to its
    component min; roots untouched by any link resolve to themselves via the
    caller's coalesce, so they need no rows here.
    """
    import numpy as np

    vids, new = _np_components(
        links_pdf["src"].to_numpy(dtype=np.int64), links_pdf["dst"].to_numpy(dtype=np.int64)
    )
    changed = new != vids
    out = pd.DataFrame({"label": vids[changed], "root": new[changed]})
    return spark.createDataFrame(out) if len(out) else None


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    kernel: str = "auto",
    num_partitions: int | None = None,
    max_iter: int = 50,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    pre_partitioned: bool = False,
    on_phase: Callable[[str, float], Any] | None = None,
) -> DataFrame:
    """Connected components → (vid, component) with component = min vid.

    kernel:
      - 'csr'  : per-partition NumPy union-find collapse (one pass over the
                 range-partitioned edges), then the root quotient graph is
                 solved either on the driver (≤
                 ``driver_tier.DRIVER_ROWS_MAX`` links — the reference's
                 sequential-fallback trade, euler_tour_tree.h:279) or by the
                 distributed fixpoint.
                 Default at scale: the heavy relation is shuffled exactly
                 once; supersteps touch only the quotient.
      - 'df'   : pure DataFrame hash-to-min + pointer jumping over the raw
                 edges (O(log n) supersteps; reference/simple path).
      - 'auto' : 'csr'.

    ``pre_partitioned``: the input edge table is already src-clustered (e.g.
    stored range-partitioned/sorted by src — the recommended Iceberg table
    layout for this engine, which the bench ingest produces). Skips the range
    shuffle; the kernel is correct under *any* partitioning (the quotient
    absorbs cross-partition structure), clustering only keeps the quotient
    small.

    ``on_phase``: observability hook, called with ``(name, seconds)`` for
    the csr kernel's three eager phases (``collapse_repart`` = local
    union-find kernel + the one vid-shuffle of the pair table,
    ``quotient_probe`` = links collect, ``quotient_solve`` = driver UF or
    distributed fixpoint; each a ``loop.phase`` of
    :func:`~elektra_spark.checkpoint.supersteps`, which also labels its
    jobs); the final label resolve is lazy and lands in the caller's
    action.
    """
    if kernel not in ("auto", "csr", "df"):
        raise ValueError(f"unknown connected_components kernel {kernel!r}; expected auto|csr|df")
    spark = edges.sparkSession
    if kernel == "df":
        endpoints = edges.select(F.col("src").alias("vid")).union(edges.select(F.col("dst").alias("vid"))).distinct()
        labels0 = endpoints.withColumn("label", F.col("vid"))
        labels = _min_label_fixpoint(edges, labels0, max_iter, checkpoint, on_superstep)
    else:
        with supersteps(
            spark, "connected_components", checkpoint, default=EphemeralCheckpointer, on_phase=on_phase, no_aqe=False
        ) as loop:
            spark_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            parts = num_partitions or spark.sparkContext.defaultParallelism
            partitioned = edges.select("src", "dst")
            if not pre_partitioned:
                partitioned = partitioned.repartitionByRange(parts, "src")
            pairs = partitioned.mapInArrow(_local_cc_kernel, "vid long, comp long")
            # The (vid, local-root) pair table is shuffled by vid exactly once,
            # and ONE second-level union-find pass (:func:`_merge_cc_kernel`)
            # over each hash partition emits both the per-vid seed labels and
            # the residual quotient links, materialized together. This replaced
            # a JVM chain (checkpoint the full pair table → groupBy-min seeds →
            # second checkpoint → pair⋈seed self-join → dropDuplicates) that
            # re-walked the ~|V|-row pair table several times to find a quotient
            # measured at a few hundred rows on src-clustered input — the
            # single-pass shape cut the 1-core collapse phase roughly in half at
            # the 8.3M-edge bench scale (guide §2.4). The quotient's size is the
            # number of cross-partition adjacencies between local components —
            # orders of magnitude smaller than V for src-clustered input
            # (conversation boundaries + tool hubs), which is what makes the
            # driver fallback viable.
            with loop.phase("collapse_repart"):
                # eager materialization on purpose: ONE fully parallel job.
                # Fusing the materialization into the quotient probe's
                # limit-collect was tried and reverted — CollectLimit
                # materializes incrementally (1 partition, then 4, then the
                # rest), which serializes the merge tasks and cost ~50% at 4
                # cores (measured 4.2 s → 6.3 s).
                tagged = loop.checkpoint(
                    pairs.repartition(spark_parts, "vid").mapInArrow(
                        _merge_cc_kernel, "vid long, label long, link boolean"
                    ),
                    -2,
                )
                seeds = tagged.filter(~F.col("link")).select("vid", "label")
            links = tagged.filter(F.col("link")).select(
                F.col("vid").alias("src"), F.col("label").alias("dst")
            )
            # one job decides the path AND collects the quotient when small
            with loop.phase("quotient_probe"):
                head = driver_tier.collect_bounded(links, driver_tier.DRIVER_ROWS_MAX)
            with loop.phase("quotient_solve"):
                if head is not None:
                    # Sequential fallback below threshold — the same trade the
                    # reference makes (batch ≤ 75 handled sequentially,
                    # euler_tour_tree.h:279): the root quotient fits on the
                    # driver, so one vectorized NumPy union-find replaces
                    # O(log n) shuffle rounds; the quotient was already
                    # collected by the path probe. With no links every seed is
                    # already its component min and there is nothing to
                    # resolve (None).
                    resolve = _driver_union_find(spark, head)
                    if resolve is not None:
                        resolve = F.broadcast(resolve)
                else:
                    endpoints = links.select(F.col("src").alias("vid")).union(
                        links.select(F.col("dst").alias("vid"))
                    ).distinct()
                    labels0 = endpoints.withColumn("label", F.col("vid"))
                    root_map = _min_label_fixpoint(links, labels0, max_iter, loop.checkpoint, on_superstep)
                    resolve = root_map.filter(F.col("vid") != F.col("label")).select(
                        F.col("vid").alias("label"), F.col("label").alias("root")
                    )
        # resolve each vertex's seed through the root mapping
        if resolve is None:
            labels = seeds
        else:
            labels = (
                seeds.join(resolve, "label", "left")
                .select("vid", F.coalesce("root", F.col("label")).alias("label"))
            )

    result = labels.select("vid", F.col("label").alias("component"))
    if vertices is not None:
        vids = vertices.select("vid")
        isolated = vids.join(result.select("vid"), "vid", "left_anti").withColumn("component", F.col("vid"))
        result = result.join(vids, "vid", "left_semi").unionByName(isolated)
    return result


def batch_connected(labels: DataFrame, queries: DataFrame) -> DataFrame:
    """elektra ``BatchConnected`` (connectivity.h:30-31): for each query pair
    (u, v), true iff same component. Two hash joins against the label table;
    Catalyst broadcasts the query batch when small.
    """
    lu = labels.select(F.col("vid").alias("u"), F.col("component").alias("cu"))
    lv = labels.select(F.col("vid").alias("v"), F.col("component").alias("cv"))
    return (
        queries.join(lu, "u", "left")
        .join(lv, "v", "left")
        .select(
            "u",
            "v",
            (F.coalesce("cu", F.col("u")) == F.coalesce("cv", F.col("v"))).alias("connected"),
        )
    )


def component_sizes(labels: DataFrame) -> DataFrame:
    """elektra ``ComponentSize`` (hdt_element.h:99-110 augmented counts) as a
    plain aggregate."""
    return labels.groupBy("component").agg(F.count("*").alias("size"))


def component_vertices(labels: DataFrame, component: int) -> DataFrame:
    """elektra ``ComponentVertices`` (euler_tour_tree.h:565-587)."""
    return labels.filter(F.col("component") == component).select("vid")


def component_edges(labels: DataFrame, edges: DataFrame, component: int) -> DataFrame:
    """elektra ``ComponentEdges`` (euler_tour_tree.h:589-592): edge slice of
    one component via a semi-join against its member vertices."""
    members = labels.filter(F.col("component") == component).select("vid")
    return edges.join(members.withColumnRenamed("vid", "src"), "src", "left_semi")


def component_edge_slice(labels: DataFrame, edges: DataFrame, lo: int, hi: int) -> DataFrame:
    """Rank-select over every component's incident-edge slice — the
    set-oriented outcome of ``ForEachIncidentVertex(l, r, f)``
    (hdt_euler_tour_tree.h:82-83,255-323). The reference rank-descends the
    augmented skip list to *visit only* the l-th..r-th incident edges (a
    work bound for its doubling search); the BSP analogue assigns each edge
    a deterministic rank in canonical ``(src, dst)`` order (one
    ``row_number`` window keyed by component — the scan is set-oriented and
    already paid for) and filters the requested band. Ranks are 1-indexed
    and ``lo..hi`` inclusive, matching the reference's rank semantics."""
    from pyspark.sql import Window

    e = edges.join(labels.select(F.col("vid").alias("src"), "component"), "src")
    w = Window.partitionBy("component").orderBy("src", "dst")
    return e.select(
        "component", "src", "dst", F.row_number().over(w).alias("rk")
    ).filter((F.col("rk") >= lo) & (F.col("rk") <= hi))
