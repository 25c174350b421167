"""M5: superstep checkpointing, lineage/metrics tables, kill-and-resume."""

import pytest
from pyspark.sql import functions as F

from elektra_spark.checkpoint import CheckpointedRun
from elektra_spark.ingest.graph_io import edges_from_pairs
from elektra_spark.operators.cc import _min_label_fixpoint
from elektra_spark.operators.pagerank import pagerank
from elektra_spark.tables import SnapshotCatalog

from .oracles import pagerank_oracle

CHAIN = [(i, i + 1) for i in range(63)]


def test_snapshot_catalog_basics(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    cat.write("t", df)
    assert sorted(map(tuple, cat.read("t").collect())) == [(1, 10), (2, 20)]
    cat.merge_insert("t", spark.createDataFrame([(2, 99), (3, 30)], "k long, v long"), ["k"])
    assert sorted(map(tuple, cat.read("t").collect())) == [(1, 10), (2, 20), (3, 30)]
    cat.upsert("t", spark.createDataFrame([(3, 33), (4, 44)], "k long, v long"), ["k"])
    assert sorted(map(tuple, cat.read("t").collect())) == [(1, 10), (2, 20), (3, 33), (4, 44)]
    cat.merge_delete("t", spark.createDataFrame([(1,)], "k long"), ["k"])
    assert sorted(map(tuple, cat.read("t").collect())) == [(2, 20), (3, 33), (4, 44)]
    # time travel: version 1 still readable
    assert sorted(map(tuple, cat.read("t", version=1).collect())) == [(1, 10), (2, 20)]
    assert [s["operation"] for s in cat.history("t")] == [
        "overwrite", "merge_insert", "upsert", "merge_delete",
    ]


def test_pagerank_resume_equals_uninterrupted(spark, tmp_path):
    """Kill-and-resume: 4 supersteps, 'crash', resume for 4 more — ranks are
    bit-identical to an uninterrupted 8-superstep run (same schedule)."""
    edges = edges_from_pairs(spark, CHAIN)

    run = CheckpointedRun(spark, str(tmp_path / "wh"), "run1")
    pagerank(edges, n_iter=4, checkpoint=run.checkpoint_fn("ranks"), on_superstep=run.metrics_hook("ranks"))
    assert run.latest_step("ranks") == 4
    # EVERY superstep is individually durable (a kill after superstep k
    # resumes from k, not from scratch) — this pins the bsp kernel's
    # per-superstep catalog commits, not just the end-of-run snapshot
    # (with a checkpointer, CHAIN's dense vids route kernel='auto' to bsp)
    ops = {s["operation"] for s in run.catalog.history("run1_ranks")}
    assert {f"superstep={i}" for i in range(1, 5)} <= ops

    # resume mid-iteration from the durable snapshot
    resumed = pagerank(
        edges,
        n_iter=4,
        start_step=run.latest_step("ranks"),
        init_ranks=run.load("ranks"),
        checkpoint=run.checkpoint_fn("ranks"),
    )
    full = pagerank(edges, n_iter=8, kernel="bsp")
    a = {r["vid"]: r["rank"] for r in resumed.collect()}
    b = {r["vid"]: r["rank"] for r in full.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[v] - b[v]) < 1e-15 for v in a)
    # and the schedule matches the oracle
    want = pagerank_oracle(CHAIN, range(64), iters=8)
    assert all(abs(a[v] - want[v]) < 1e-6 for v in want)
    assert run.latest_step("ranks") == 8


def test_cc_fixpoint_resume(spark, tmp_path):
    edges = edges_from_pairs(spark, CHAIN)
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels0 = both.select(F.col("src").alias("vid")).distinct().withColumn("label", F.col("vid"))

    run = CheckpointedRun(spark, str(tmp_path / "wh"), "ccrun")
    # run only 2 supersteps (simulated crash via max_iter)
    partial = _min_label_fixpoint(edges, labels0, max_iter=2, checkpoint=run.checkpoint_fn("labels"))
    step = run.latest_step("labels")
    assert step == 2
    # resume to fixpoint from durable state
    final = _min_label_fixpoint(edges, run.load("labels"), max_iter=30,
                                checkpoint=run.checkpoint_fn("labels"), start_step=step)
    got = {r["vid"]: r["label"] for r in final.collect()}
    assert got == {v: 0 for v in range(64)}


@pytest.mark.parametrize("op", ["lpa", "pagerank", "cc"])
def test_warm_start_commits_each_superstep_once(spark, tmp_path, op):
    """A resume from durable step k commits steps k+1.. only: the loaded
    state is not written again as a second ``superstep=k`` snapshot, and
    the resumed result equals the uninterrupted run."""
    from elektra_spark.checkpoint import EphemeralCheckpointer
    from elektra_spark.operators.lpa import label_propagation

    pairs = CHAIN[:20] + [(3, 9), (30, 40), (40, 41)]
    edges = edges_from_pairs(spark, pairs)
    run = CheckpointedRun(spark, str(tmp_path / "wh"), op)
    state = "ranks" if op == "pagerank" else "labels"
    cp = run.checkpoint_fn(state)
    if op == "lpa":
        label_propagation(edges, rounds=2, checkpoint=cp)
        got = label_propagation(edges, rounds=2, checkpoint=cp, start_step=2, init_labels=run.load(state))
        full = label_propagation(edges, rounds=4, checkpoint=EphemeralCheckpointer())
    elif op == "pagerank":
        pagerank(edges, n_iter=3, kernel="df", checkpoint=cp)
        got = pagerank(edges, n_iter=3, kernel="df", checkpoint=cp, start_step=3, init_ranks=run.load(state))
        full = pagerank(edges, n_iter=6, kernel="df")
    else:
        both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        labels0 = both.select(F.col("src").alias("vid")).distinct().withColumn("label", F.col("vid"))
        _min_label_fixpoint(edges, labels0, max_iter=1, checkpoint=cp)
        got = _min_label_fixpoint(edges, run.load(state), max_iter=30, checkpoint=cp, start_step=1)
        full = _min_label_fixpoint(edges, labels0, max_iter=30)
    steps = [int(s["operation"].split("=")[1]) for s in run.catalog.history(f"{op}_{state}")]
    assert steps == list(range(len(steps))) and steps[-1] >= 2
    a, b = (dict(map(tuple, df.select("vid", df.columns[1]).collect())) for df in (got, full))
    assert a.keys() == b.keys()
    assert all(abs(a[v] - b[v]) < 1e-12 for v in a)


# one tiny graph per loop shape; the (step, frontier) lists are the ones the
# hand-rolled loops reported before the superstep runtime replaced them
LOOP_PAIRS = [(0, 1), (1, 2), (2, 3), (5, 6)]
LOOP_CASES = [
    # changed counts, early exit at 0
    ("connected_components", {"kernel": "df"}, [(0, 4), (1, 2), (2, 1), (3, 0)]),
    ("hop_distance", {"sources": [0], "max_hops": 2}, [(1, 1), (2, 1)]),
    # backward ids above max_hops, deepest level first
    ("betweenness", {"sources": [0], "max_hops": 2}, [(1, 1), (2, 1), (4, -1), (3, -1)]),
    ("pagerank", {"kernel": "df", "n_iter": 2, "start_step": 5}, [(5, -1), (6, -1)]),
    ("label_propagation", {"rounds": 2}, [(0, -1), (1, -1)]),  # driver tier
]


def test_superstep_runtime_labels_and_hook_sequences(spark):
    """checkpoint.supersteps times, reports and labels every loop shape: the
    hook sees the same (step, frontier) sequence as before, each superstep
    runs under ``<outer>/<operator>/superstep/<k>``, CC's csr phases under
    ``<outer>/connected_components/<phase>``, and the caller's description
    and job group are back after each call. The csr kernel and the driver
    tier fire the same three phase names, each in its own order."""
    from elektra_spark.operators import betweenness, bfs, cc, lpa

    ops = {
        "connected_components": cc.connected_components,
        "hop_distance": bfs.hop_distance,
        "betweenness": betweenness.betweenness,
        "pagerank": pagerank,
        "label_propagation": lpa.label_propagation,
    }
    sc = spark.sparkContext

    def desc():
        return sc.getLocalProperty("spark.job.description")

    e = edges_from_pairs(spark, LOOP_PAIRS)
    sc.setJobGroup("loop-labels", "q")
    try:
        for op, kw, want in LOOP_CASES:
            got = []
            ops[op](e, on_superstep=lambda s, f, _: got.append((s, f, desc())), **kw)
            assert [(s, f) for s, f, _ in got] == want, op
            assert [d for _, _, d in got] == [f"q/{op}/superstep/{s}" for s, _ in want], op
            assert desc() == "q" and sc.getLocalProperty("spark.jobGroup.id") == "loop-labels", op
        for kernel, names in [
            ("csr", ["collapse_repart", "quotient_probe", "quotient_solve"]),
            ("auto", ["quotient_probe", "collapse_repart", "quotient_solve"]),  # driver tier
        ]:
            phases = []
            cc.connected_components(e, kernel=kernel, on_phase=lambda name, _: phases.append((name, desc())))
            assert phases == [(n, f"q/connected_components/{n}") for n in names], kernel
            assert desc() == "q"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_operators_loop_only_through_the_superstep_runtime():
    """No operator times or reports a superstep by hand: every loop goes
    through checkpoint.supersteps, so none imports ``time`` or calls an
    ``on_superstep``/``on_phase`` hook itself."""
    import re
    from pathlib import Path

    from elektra_spark import operators

    by_hand = re.compile(r"^\s*(import time\b|from time import)|\btime\.time\(\)|\bon_(superstep|phase)\(")
    for path in sorted(Path(operators.__file__).parent.glob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            assert not by_hand.search(line), f"{path.name}:{i} hand-rolled superstep; use checkpoint.supersteps"


def test_lineage_and_metrics_recorded(spark, tmp_path):
    edges = edges_from_pairs(spark, CHAIN[:15])
    run = CheckpointedRun(spark, str(tmp_path / "wh"), "m")
    pagerank(edges, n_iter=2, checkpoint=run.checkpoint_fn("ranks"), on_superstep=run.metrics_hook("ranks"))
    lin = run.lineage_table()
    assert lin.filter(F.col("state") == "ranks").count() > 0
    assert set(lin.columns) == {"run_id", "state", "superstep", "partition_id", "rows", "committed_at"}
    met = run.metrics_table().collect()
    assert {m["superstep"] for m in met} == {0, 1}
    # per-superstep row counts are conserved (every vertex present each step)
    per_step = lin.groupBy("superstep").agg(F.sum("rows").alias("n")).collect()
    assert len({r["n"] for r in per_step}) == 1


def test_crash_window_lineage_rides_the_state_commit(spark, tmp_path, monkeypatch):
    """A kill at any manifest swap of a durable LPA run leaves every
    superstep either committed with its lineage or absent from both: the
    lineage is the state snapshot's own summary, not a second commit."""
    import os

    from elektra_spark.operators.lpa import label_propagation

    edges = edges_from_pairs(spark, CHAIN[:15])
    real_replace = os.replace
    swaps = [0]

    def lpa(root, kill_at=None):
        def replace(src, dst):
            swaps[0] += 1
            if swaps[0] == kill_at:
                raise OSError(f"killed at swap {kill_at}")
            return real_replace(src, dst)

        swaps[0] = 0
        run = CheckpointedRun(spark, str(root), "lpa")
        with monkeypatch.context() as m:
            m.setattr(os, "replace", replace)
            label_propagation(edges, rounds=1, checkpoint=run.checkpoint_fn("labels"),
                              on_superstep=run.metrics_hook("labels"))

    lpa(tmp_path / "clean")
    n_swaps = swaps[0]
    assert n_swaps >= 3  # supersteps 0 and 1, and at least one metrics row
    for n in range(1, n_swaps + 1):
        with pytest.raises(OSError, match="killed"):
            lpa(tmp_path / f"kill{n}", kill_at=n)
        run = CheckpointedRun(spark, str(tmp_path / f"kill{n}"), "lpa")  # the restarted driver
        committed = {int(s["operation"].split("=")[1]) for s in run.catalog.history("lpa_labels")}
        lineage = {r["superstep"] for r in run.lineage_table().collect()}
        assert committed == lineage, f"kill at swap {n}"


def test_changelog_net_delta(spark, tmp_path):
    """CDC changelog: inserts/deletes by key diff; a row deleted and
    re-inserted (same key) inside the window is absent from the delta."""
    from elektra_spark.tables import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    cat.write("t", spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long"))
    v0 = cat.current_version("t")
    cat.merge_delete("t", spark.createDataFrame([(2,), (3,)], "k long"), keys=["k"])
    cat.merge_insert("t", spark.createDataFrame([(3, 99), (4, 40)], "k long, v long"), keys=["k"])
    got = {(r.change, r.k) for r in cat.changelog("t", from_version=v0, keys=["k"]).collect()}
    assert got == {("delete", 2), ("insert", 4)}  # k=3 delete+reinsert nets out
    # explicit to_version: delta to the post-delete snapshot only
    mid = cat.history("t")[-2]["version"]
    got_mid = {
        (r.change, r.k)
        for r in cat.changelog("t", from_version=v0, to_version=mid, keys=["k"]).collect()
    }
    assert got_mid == {("delete", 2), ("delete", 3)}


def test_zorder_morton_and_skipping(spark):
    """Morton interleave vs a python bit oracle; block bounds tighter than
    the unsorted layout's (the point of z-ordering)."""
    from pyspark.sql import functions as F

    from elektra_spark.layout import interleave_bits, zorder_blocks

    def morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select("x", "y", interleave_bits(F.col("x"), F.col("y"), 8).alias("z")).collect()
    }
    assert got == {(x, y): morton(x, y) for x, y in pts}

    # skipping: on a 64x64 grid cut into 16 z-blocks, every block's bounding
    # rectangle is a quadrant-sized window, far below the full range
    grid = spark.createDataFrame([(x, y) for x in range(64) for y in range(64)], "x long, y long")
    blocks = zorder_blocks(grid, "x", "y", bits=6, n_blocks=16).collect()
    assert sum(b.n_rows for b in blocks) == 64 * 64
    for b in blocks:
        assert (b.max_x - b.min_x + 1) * (b.max_y - b.min_y + 1) <= 64 * 64 // 16
    import pytest as _pytest

    with _pytest.raises(ValueError):
        zorder_blocks(grid, "x", "y", bits=0)


def test_ivm_delta_equals_recompute(spark, tmp_path):
    """Random insert/delete schedule: the delta-maintained view equals a
    fresh recompute after every commit; emptied groups disappear."""
    import random

    from pyspark.sql import functions as F

    from elektra_spark.ivm import apply_delta, delta_rows, sum_agg
    from elektra_spark.tables import SnapshotCatalog

    rng = random.Random(5)
    rows = [(i, "g%d" % (i % 4), rng.randrange(1, 1000)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    cat = SnapshotCatalog(spark, str(tmp_path / "ivm"))
    keys, meas = ["g"], {"sum_v": F.col("v")}
    cat.write("view", sum_agg(df, keys, meas))

    live = dict((r[0], r) for r in rows)
    for step in range(3):
        dels = [live[k] for k in sorted(live) if k % (3 + step) == 0]
        for d in dels:
            del live[d[0]]
        adds = [(1000 + step * 100 + j, "g%d" % (j % 5), j + 7) for j in range(10)]
        live.update((r[0], r) for r in adds)
        ddf = spark.createDataFrame(dels, "id long, g string, v long")
        adf = spark.createDataFrame(adds, "id long, g string, v long")
        apply_delta(cat, "view", delta_rows(ddf, keys, meas, sign=-1), keys)
        got = {
            r.g: (r.n_rows, r.sum_v)
            for r in apply_delta(cat, "view", delta_rows(adf, keys, meas, sign=1), keys).collect()
        }
        want = {}
        for _, g, v in live.values():
            n, s = want.get(g, (0, 0))
            want[g] = (n + 1, s + v)
        assert got == want, step
    # delete an entire group: it must vanish from the view
    g1 = [r for r in live.values() if r[1] == "g1"]
    gdf = spark.createDataFrame(g1, "id long, g string, v long")
    final = apply_delta(cat, "view", delta_rows(gdf, keys, meas, sign=-1), keys)
    assert "g1" not in {r.g for r in final.collect()}
    # the view history is snapshot-versioned (time-travelable)
    assert len(cat.history("view")) >= 8
