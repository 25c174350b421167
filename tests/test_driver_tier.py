"""Driver fallbacks (operators/driver_tier.py): the small-graph tier of
PageRank, LPA, CC and triangle counting, and the bounded collects of CC and
the forests.

Every case runs with the fallback taken and with it forced off
(``SMALL_GRAPH_MAX`` / ``DRIVER_ROWS_MAX`` set to 0 or a small k, so the
same call takes the Spark path), and both must give the same answer.
"""

import pytest

from elektra_spark.operators import driver_tier
from elektra_spark.operators import lpa as lpa_mod
from elektra_spark.operators import pagerank as pr_mod
from elektra_spark.operators import triangles as tri_mod
from elektra_spark.operators.cc import connected_components
from elektra_spark.operators.lpa import label_propagation
from elektra_spark.operators.pagerank import pagerank
from elektra_spark.operators.triangles import triangle_count

from .oracles import cc_oracle, lpa_oracle, pagerank_oracle, triangle_count_oracle
from .test_graph_ops import CLIQUE5_PLUS_PATH, HOUSE, SPANNING_K5ISH, _random_graph

BIG = 2**31
# sparse vids, vids ≥ 2^31 (one past 2^40) and, in the vertex table below,
# isolated vertices: the tier's dense indexing must survive all three
PAIRS = [(0, 10), (10, 1000), (1000, 10**6), (10**6, 0), (10, 10**6),
         (BIG + 1, BIG + 5), (BIG + 5, 2**40), (2**40, BIG + 1), (2**40, 3), (3, 1000)]
VIDS = sorted({v for e in PAIRS for v in e} | {7, BIG + 9})


@pytest.fixture(params=["tier", "spark"])
def tier(request, monkeypatch):
    if request.param == "spark":
        monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", 0)
    return request.param


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _verts(spark, vids):
    return spark.createDataFrame([(v,) for v in vids], "vid long")


def _ranks(df):
    return {r["vid"]: r["rank"] for r in df.collect()}


def _labels(df):
    return {r["vid"]: r["label"] for r in df.collect()}


def _assert_ranks(got, want):
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-9


@pytest.mark.parametrize("directed", [False, True])
def test_pagerank_tier_matches_oracle(spark, tier, directed):
    got = _ranks(
        pagerank(_edges(spark, PAIRS), vertices=_verts(spark, VIDS), n_iter=5, directed=directed)
    )
    _assert_ranks(got, pagerank_oracle(PAIRS, VIDS, iters=5, directed=directed))


def test_pagerank_tier_empty_edges(spark, tier):
    got = _ranks(pagerank(_edges(spark, []), vertices=_verts(spark, [3, 5, BIG]), n_iter=4))
    _assert_ranks(got, {3: 1 / 3, 5: 1 / 3, BIG: 1 / 3})


def test_pagerank_tier_warm_start(spark, tier):
    """init_ranks/start_step: vertices missing from init_ranks start at 0;
    the hook fires once per iteration, steps start..start+n_iter-1."""
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (10, 11)]
    vids = [0, 1, 2, 3, 10, 11, 12]
    init = {0: 0.4, 1: 0.1, 2: 0.2, 3: 0.1, 12: 0.2}  # 10 and 11 absent
    steps = []
    got = _ranks(
        pagerank(
            _edges(spark, pairs), vertices=_verts(spark, vids), n_iter=3, start_step=7,
            init_ranks=spark.createDataFrame(list(init.items()), "vid long, rank double"),
            on_superstep=lambda step, frontier, s: steps.append((step, frontier)),
        )
    )
    _assert_ranks(got, pagerank_oracle(pairs, vids, iters=3, init=init))
    assert steps == [(7, -1), (8, -1), (9, -1)]


def test_lpa_tier_matches_oracle(spark, tier):
    """Also pins the hook: once per round, steps start..start+rounds-1."""
    steps = []
    got = _labels(
        label_propagation(
            _edges(spark, PAIRS), vertices=_verts(spark, VIDS), rounds=3, start_step=2,
            on_superstep=lambda step, frontier, s: steps.append((step, frontier)),
        )
    )
    assert got == lpa_oracle(PAIRS, VIDS, rounds=3)
    assert steps == [(2, -1), (3, -1), (4, -1)]


def test_lpa_tier_empty_edges(spark, tier):
    got = _labels(label_propagation(_edges(spark, []), vertices=_verts(spark, [4, BIG]), rounds=2))
    assert got == {4: 4, BIG: BIG}


def test_lpa_tier_count_ties_and_init_labels(spark, tier):
    """Vertex 0 sees labels 7,7,5,5 (a count tie: the minimum, 5, wins) and
    vertex 20 sees 9,8,8 (the count wins over the smaller label); 30 has no
    neighbour and keeps its init label; 40 is outside init_labels, so its
    edge carries no vote."""
    pairs = [(0, 1), (0, 2), (0, 3), (0, 4), (20, 21), (20, 22), (20, 23), (4, 40)]
    init = {0: 0, 1: 7, 2: 7, 3: 5, 4: 5, 20: 20, 21: 9, 22: 8, 23: 8, 30: 31}
    steps = []
    got = _labels(
        label_propagation(
            _edges(spark, pairs), rounds=1, start_step=3,
            init_labels=spark.createDataFrame(list(init.items()), "vid long, label long"),
            on_superstep=lambda step, frontier, s: steps.append(step),
        )
    )
    want = lpa_oracle(pairs, rounds=1, init=init)
    assert (want[0], want[20], want[30]) == (5, 8, 31) and 40 not in want
    assert got == want
    assert steps == [3]


def _spy_tier(monkeypatch):
    """Record what each collect_small call returned (None = declined)."""
    seen = []
    real = driver_tier.collect_small

    def spy(*a, **kw):
        g = real(*a, **kw)
        seen.append(g is not None)
        return g

    monkeypatch.setattr(driver_tier, "collect_small", spy)
    return seen


K = 6


@pytest.mark.parametrize(
    "pairs,vids",
    [
        ([(i, i + 1) for i in range(K + 1)], list(range(K + 2))),
        ([(0, 1), (1, 2)], list(range(K + 1))),
        ([(0, 1)] * 4 + [(1, 2)] * 3, [0, 1, 2]),
    ],
    ids=["k+1-edges", "k+1-vertices", "k+1-edges-3-vertices"],
)
def test_tier_forced_fallback(spark, monkeypatch, pairs, vids):
    """With the bound at k, a graph of k+1 edges or of k+1 vertices takes
    the Spark path and gives the same answer as the tier."""
    e, v = _edges(spark, pairs), _verts(spark, vids)
    seen = _spy_tier(monkeypatch)
    on_tier = _ranks(pagerank(e, vertices=v, n_iter=5)), _labels(label_propagation(e, vertices=v, rounds=3))
    assert seen == [True, True]
    seen.clear()
    monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", K)
    on_spark = _ranks(pagerank(e, vertices=v, n_iter=5)), _labels(label_propagation(e, vertices=v, rounds=3))
    assert seen == [False, False]
    _assert_ranks(on_spark[0], on_tier[0])
    assert on_spark[1] == on_tier[1]
    _assert_ranks(on_tier[0], pagerank_oracle(pairs, vids, iters=5))
    assert on_tier[1] == lpa_oracle(pairs, vids, rounds=3)


def test_tier_taken_only_when_nothing_specific_asked(spark, monkeypatch, tmp_path):
    """A named kernel, a checkpointer or a bsp prep dir keeps the Spark
    path; the default call takes the tier."""
    from elektra_spark.checkpoint import EphemeralCheckpointer

    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    calls = []
    monkeypatch.setattr(pr_mod, "_pagerank_small", lambda *a, **kw: calls.append("tier"))
    monkeypatch.setattr(pr_mod, "_pagerank_bsp", lambda *a, **kw: calls.append("bsp"))
    monkeypatch.setattr(lpa_mod, "_np_vote", lambda s, d, lab: calls.append("lpa") or lab)
    pagerank(e, n_iter=1)
    pagerank(e, n_iter=1, kernel="bsp")
    pagerank(e, n_iter=1, checkpoint=EphemeralCheckpointer())
    pagerank(e, n_iter=1, bsp_prep_dir=str(tmp_path / "prep"))
    label_propagation(e, rounds=1)
    label_propagation(e, rounds=1, checkpoint=EphemeralCheckpointer()).collect()
    assert calls == ["tier", "bsp", "bsp", "bsp", "lpa"]


@pytest.mark.parametrize("op", ["pagerank", "lpa"])
def test_durable_run_commits_every_superstep(spark, tmp_path, op):
    """A CheckpointedRun keeps the Spark path on a 6-edge graph, so every
    superstep is committed."""
    from elektra_spark.checkpoint import CheckpointedRun

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5)]
    e = _edges(spark, pairs)
    run = CheckpointedRun(spark, str(tmp_path / "cat"), run_id=op)
    if op == "pagerank":
        got = _ranks(pagerank(e, n_iter=3, checkpoint=run.checkpoint_fn("ranks")))
        assert run.latest_step("ranks") == 3
        _assert_ranks(got, pagerank_oracle(pairs, range(6), iters=3))
    else:
        got = _labels(label_propagation(e, rounds=3, checkpoint=run.checkpoint_fn("labels")))
        assert run.latest_step("labels") == 3
        assert got == lpa_oracle(pairs, rounds=3)


def test_bsp_dangling_superstep_is_one_job(spark):
    """A bsp superstep on a graph with dangling vertices is one Spark job:
    the dangling mass rides stage A's messages instead of a collect between
    the stages. Each hook call opens the job group of the next superstep."""
    sc = spark.sparkContext
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (4, 5)])
    v = _verts(spark, range(9))  # 6, 7, 8 isolated: dangling
    group = "bsp-step-{}-" + str(id(e))

    def hook(step, frontier, s):
        sc.setJobGroup(group.format(step + 1), "bsp superstep")

    try:
        got = _ranks(pagerank(e, vertices=v, n_iter=4, kernel="bsp", on_superstep=hook))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _assert_ranks(got, pagerank_oracle([(0, 1), (1, 2), (2, 3), (4, 5)], range(9), iters=4))
    st = sc.statusTracker()
    # supersteps 1..3 each ran entirely inside one group
    assert [len(st.getJobIdsForGroup(group.format(s))) for s in (1, 2, 3)] == [1, 1, 1]


def test_cc_quotient_forced_fallback(spark, monkeypatch):
    """With DRIVER_ROWS_MAX at 0 the csr kernel solves a non-empty quotient
    with the distributed fixpoint, and its labels equal the driver path's."""
    import random

    from elektra_spark.operators import cc as cc_mod

    from .oracles import cc_oracle

    rng = random.Random(11)
    pairs = sorted({(min(a, b), max(a, b)) for a, b in ((rng.randrange(150), rng.randrange(150)) for _ in range(130)) if a != b})
    e = _edges(spark, pairs).repartition(7)  # many cross-partition links

    def labels():
        df = cc_mod.connected_components(e, kernel="csr", pre_partitioned=True)
        return {r["vid"]: r["component"] for r in df.collect()}

    fixpoints = []
    real = cc_mod._min_label_fixpoint
    monkeypatch.setattr(cc_mod, "_min_label_fixpoint", lambda *a, **kw: fixpoints.append(1) or real(*a, **kw))
    on_driver = labels()
    assert fixpoints == []
    monkeypatch.setattr(driver_tier, "DRIVER_ROWS_MAX", 0)
    distributed = labels()
    assert fixpoints == [1]
    assert distributed == on_driver == cc_oracle(pairs)


@pytest.mark.parametrize("weighted", [False, True])
def test_forest_recursion_forced_fallback(spark, monkeypatch, weighted):
    """K20 over 8 partitions: each partition's local forest spans its own
    src range, so the first level's winner union exceeds 2 × 19 rows; with
    DRIVER_ROWS_MAX at 38 the forest recurses once (2 partitions, at most
    38 winners) and gives the driver path's edge set."""
    from elektra_spark.operators import forest as forest_mod

    n = 20
    rows = [(a, b, (7 * a + 3 * b) % 5) for a in range(n) for b in range(a + 1, n)]
    if weighted:
        e, op = spark.createDataFrame(rows, "src long, dst long, w long"), forest_mod.minimum_spanning_forest
    else:
        e, op = _edges(spark, [r[:2] for r in rows]), forest_mod.spanning_forest

    def run():
        return {tuple(r) for r in op(e, num_partitions=8).collect()}

    depths = []
    real = forest_mod._forest

    def spy(edges, cols, parts, depth=0):
        depths.append(depth)
        return real(edges, cols, parts, depth)

    monkeypatch.setattr(forest_mod, "_forest", spy)
    on_driver = run()
    assert depths == [0] and len(on_driver) == n - 1
    depths.clear()
    monkeypatch.setattr(driver_tier, "DRIVER_ROWS_MAX", 2 * (n - 1))
    assert run() == on_driver
    assert depths == [0, 1]


def test_driver_bound_lives_only_in_driver_tier():
    """The connectivity operators name no size bound of their own and
    collect through driver_tier.collect_bounded: no bare 5_000_000 /
    500_000 literal, no hand-written .limit(...).toPandas() probe."""
    import re
    from pathlib import Path

    root = Path(driver_tier.__file__).resolve().parents[1]
    size = re.compile(r"\b(5_?000_?000|500_?000)\b")
    probe = re.compile(r"\.limit\(|\.toPandas\(")
    for rel in ("operators/cc.py", "operators/forest.py", "dynamic/updates.py"):
        for i, line in enumerate((root / rel).read_text().splitlines(), 1):
            assert not size.search(line), f"{rel}:{i} size literal; use driver_tier.DRIVER_ROWS_MAX"
            assert not probe.search(line), f"{rel}:{i} bounded collect; use driver_tier.collect_bounded"


CC_CASES = {
    "sparse-isolated": (PAIRS, VIDS),
    "no-vertex-table": (PAIRS, None),
    "empty-edges": ([], [4, BIG, 2**40]),
}


def _components(df):
    return {r["vid"]: r["component"] for r in df.collect()}


@pytest.mark.parametrize("case", CC_CASES)
@pytest.mark.parametrize("bound", ["tier", "0", "k"])
def test_cc_tier_matches_kernels_and_oracle(spark, monkeypatch, case, bound):
    """The default call answers like csr, df and the oracle on sparse vids
    (one ≥ 2^31, one at 2^40), isolated table vertices, an empty edge table
    and no vertex table; with the bound at 0 or at one below the graph's
    size, collect_small declines and csr gives the same answer."""
    pairs, vids = CC_CASES[case]
    e = _edges(spark, pairs)
    v = None if vids is None else _verts(spark, vids)
    want = cc_oracle(pairs, vids)
    seen = _spy_tier(monkeypatch)
    if bound != "tier":
        size = max(len(pairs), len(vids or []))
        monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", 0 if bound == "0" else size - 1)
    assert _components(connected_components(e, vertices=v)) == want
    assert seen == [bound == "tier"]
    if bound == "tier":
        for kernel in ("csr", "df"):
            assert _components(connected_components(e, vertices=v, kernel=kernel)) == want, kernel


def _hub_graph(n=120, seed=4):
    """Preferential attachment (two links per new vertex) plus a hub joined
    to every vertex: a power-law degree sequence with triangles around the
    hub."""
    import random

    rng = random.Random(seed)
    pairs, ends = {(0, 1), (1, 2), (0, 2)}, [0, 1, 1, 2, 0, 2]
    for u in range(3, n):
        for w in {rng.choice(ends), rng.choice(ends)}:
            pairs.add((w, u))
            ends += [w, u]
    return sorted(pairs | {(n, u) for u in range(n)})


TRI_GRAPHS = {
    "house": HOUSE,
    "clique5path": CLIQUE5_PLUS_PATH,
    "k5ish": SPANNING_K5ISH,
    "random": _random_graph(11, 80, 200),
    "hub": _hub_graph(),
    # inputs the Spark plan takes as they are: each row is an arc, a
    # self-loop a self-arc
    "duplicates": HOUSE + HOUSE[:3],
    "reversed": HOUSE + [(b, a) for a, b in HOUSE[2:5]],
    "self-loop": HOUSE + [(2, 2), (4, 4)],
}
SIMPLE = ("house", "clique5path", "k5ish", "random", "hub")


def _n_triangles(e):
    return triangle_count(e).collect()[0]["n_triangles"]


@pytest.mark.parametrize("name", TRI_GRAPHS)
def test_triangle_tier_matches_spark_plan(spark, monkeypatch, name):
    """The tier's count equals the Spark wedge join's, which runs when
    collect_small declines (bound 0, or one below the edge count)."""
    pairs = TRI_GRAPHS[name]
    e = _edges(spark, pairs)
    seen = _spy_tier(monkeypatch)
    on_tier = _n_triangles(e)
    on_spark = []
    for bound in (0, len(pairs) - 1):
        monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", bound)
        on_spark.append(_n_triangles(e))
    assert seen == [True, False, False]
    assert on_spark == [on_tier, on_tier]
    if name in SIMPLE:
        assert on_tier == triangle_count_oracle(pairs)


def _wedges(pairs):
    """Σ C(d⁺, 2) over the (degree, vid)-oriented out-degrees of the rows."""
    from collections import Counter

    deg = Counter(v for e in pairs for v in e)
    out = Counter(min(e, key=lambda v: (deg[v], v)) for e in pairs)
    return sum(d * (d - 1) // 2 for d in out.values())


@pytest.mark.parametrize("name", ["hub", "duplicates", "self-loop"])
def test_triangle_wedge_bound(spark, monkeypatch, name):
    """The tier enumerates a graph of exactly DRIVER_WEDGES_MAX wedges and
    hands one more (or any, at 0) to the Spark plan, with the same count."""
    pairs = TRI_GRAPHS[name]
    w = _wedges(pairs)
    e = _edges(spark, pairs)
    ran = []
    real = tri_mod._np_triangle_count
    monkeypatch.setattr(
        tri_mod, "_np_triangle_count", lambda *a: ran.append(real(*a)) or ran[-1]
    )
    counts = []
    for bound in (0, w, w - 1):
        monkeypatch.setattr(driver_tier, "DRIVER_WEDGES_MAX", bound)
        counts.append(_n_triangles(e))
    assert w > 0 and [n is not None for n in ran] == [False, True, False]
    assert counts == [ran[1]] * 3


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tier_job_counts(spark):
    """Default CC on a small graph runs at most 2 jobs inside the call (the
    size job and the collect), and triangle_count(e).collect() at most 2 in
    all: its one-row answer collects with no job."""
    e, v = _edges(spark, PAIRS), _verts(spark, VIDS)
    labels, cc_jobs = _jobs(spark, lambda: connected_components(e, vertices=v))
    assert cc_jobs <= 2
    assert _components(labels) == cc_oracle(PAIRS, VIDS)
    assert labels.rdd.getNumPartitions() == 1
    tri = _edges(spark, HOUSE)
    n, tri_jobs = _jobs(spark, lambda: _n_triangles(tri))
    assert tri_jobs <= 2
    assert n == triangle_count_oracle(HOUSE)
