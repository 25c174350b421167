"""Driver-NumPy tier (operators/driver_tier.py) for PageRank and LPA.

Every case runs with the tier on and with it off (``SMALL_GRAPH_MAX`` set to
0, so the same call takes the Spark path), and both must match the oracle.
"""

import pytest

from elektra_spark.operators import driver_tier
from elektra_spark.operators import lpa as lpa_mod
from elektra_spark.operators import pagerank as pr_mod
from elektra_spark.operators.lpa import label_propagation
from elektra_spark.operators.pagerank import pagerank

from .oracles import lpa_oracle, pagerank_oracle

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


def test_tier_declines_edges_outside_vertex_table(spark, tier):
    """An edge endpoint missing from the vertex table keeps the Spark
    path's own answer: LPA drops the edge, df PageRank (sparse vids, so
    auto picks df) also ranks the missing endpoint. Same answer with the
    tier on and off."""
    e, v = _edges(spark, [(0, 1), (1, 2), (2, 5)]), _verts(spark, range(4))
    assert driver_tier.collect_small(e, v) is None
    assert _labels(label_propagation(e, vertices=v, rounds=2)) == lpa_oracle([(0, 1), (1, 2)], range(4), rounds=2)
    se, sv = _edges(spark, [(0, 100), (100, 200), (200, 5000)]), _verts(spark, [0, 100, 200, 300])
    _assert_ranks(_ranks(pagerank(se, vertices=sv, n_iter=4)), _ranks(pagerank(se, vertices=sv, n_iter=4, kernel="df")))


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
