"""Batch-dynamic insert/delete scenarios, transcribed from the reference's
hand-written tests (elektra test/tests/test_parallel_batch_connected.h) and
differential harness (test/reference_tests/reference_connectivity.hpp:90-161:
insert → query → delete ~10% → re-query)."""

import random

import pytest
from pyspark.sql import functions as F

from elektra_spark.dynamic.updates import DynamicGraph
from elektra_spark.ingest.graph_io import edges_from_pairs
from elektra_spark.tables import SnapshotCatalog

from .oracles import cc_oracle, spanning_forest_invariants


@pytest.fixture()
def catalog(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "warehouse"))


def _labels(g):
    return {r["vid"]: r["component"] for r in g.labels().collect()}


def _assert_state(g, pairs, vids=None):
    assert _labels(g) == cc_oracle(pairs, vids=vids)
    forest = [(r["src"], r["dst"]) for r in g.forest().collect()]
    spanning_forest_invariants(forest, pairs, vids=vids)


def test_triangle_pendant_delete(spark, catalog):
    """triangle+pendant: delete {1,2} → still one component
    (test_parallel_batch_connected.h:174-230)."""
    pairs = [(0, 1), (1, 2), (0, 2), (2, 3)]
    g = DynamicGraph.create(catalog, edges_from_pairs(spark, pairs))
    _assert_state(g, pairs)
    g.batch_delete_edges(spark.createDataFrame([(1, 2)], "src long, dst long"))
    remaining = [(0, 1), (0, 2), (2, 3)]
    _assert_state(g, remaining, vids=range(4))
    got = {(r["u"], r["v"]): r["connected"] for r in g.batch_connected(
        spark.createDataFrame([(0, 3), (1, 3)], "u long, v long")).collect()}
    assert got == {(0, 3): True, (1, 3): True}


def test_house_delete_scenarios(spark, catalog):
    """house graph delete scenarios (test_parallel_batch_connected.h:232-409):
    delete {1-2,1-3,3-4} → still connected; then also {0-1} → splits."""
    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 1), (1, 4), (3, 4)]
    g = DynamicGraph.create(catalog, edges_from_pairs(spark, pairs))
    g.batch_delete_edges(spark.createDataFrame([(1, 2), (1, 3), (3, 4)], "src long, dst long"))
    remaining = [(0, 1), (0, 2), (2, 3), (1, 4)]
    _assert_state(g, remaining, vids=range(5))
    assert len(set(_labels(g).values())) == 1  # still one component

    g.batch_delete_edges(spark.createDataFrame([(0, 1)], "src long, dst long"))
    remaining2 = [(0, 2), (2, 3), (1, 4)]
    _assert_state(g, remaining2, vids=range(5))
    labels = _labels(g)
    assert labels[0] == labels[2] == labels[3]
    assert labels[1] == labels[4]
    assert labels[0] != labels[1]


def test_incremental_insert_merges(spark, catalog):
    pairs = [(0, 1), (3, 4)]
    g = DynamicGraph.create(catalog, edges_from_pairs(spark, pairs))
    g.batch_add_edges(spark.createDataFrame([(1, 3), (5, 6)], "src long, dst long"))
    now = [(0, 1), (3, 4), (1, 3), (5, 6)]
    _assert_state(g, now)
    labels = _labels(g)
    assert labels[0] == labels[4] == 0
    assert labels[5] == labels[6] == 5


def test_insert_duplicate_edges_noop(spark, catalog):
    pairs = [(0, 1), (1, 2)]
    g = DynamicGraph.create(catalog, edges_from_pairs(spark, pairs))
    before = sorted((r["src"], r["dst"]) for r in g.edges().collect())
    g.batch_add_edges(spark.createDataFrame([(0, 1), (2, 1)], "src long, dst long"))
    after = sorted((r["src"], r["dst"]) for r in g.edges().collect())
    assert before == after
    _assert_state(g, pairs)


def test_insert_distributed_path_above_threshold(spark, catalog, monkeypatch):
    """A contracted batch larger than driver_tier.DRIVER_ROWS_MAX must take
    the distributed path (quotient CC + spanning forest), never the driver
    collect — the driver solver is monkeypatched to fail loudly if hit. The
    bound (4) sits between the 5 cross-component batch rows and the 4
    winners the distributed forest collects; SMALL_GRAPH_MAX = 0 keeps the
    graph off the driver tier."""
    import elektra_spark.dynamic.updates as upd
    from elektra_spark.operators import driver_tier

    monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", 0)
    pairs = [(0, 1), (10, 11)]
    g = DynamicGraph.create(catalog, edges_from_pairs(spark, pairs))

    def boom(pdf):
        raise AssertionError("driver path must not run above threshold")

    monkeypatch.setattr(upd, "_solve_contracted_driver", boom)
    monkeypatch.setattr(driver_tier, "DRIVER_ROWS_MAX", 4)
    adds = [(1, 10), (0, 11), (11, 20), (20, 21), (30, 31)]
    g.batch_add_edges(spark.createDataFrame(adds, "src long, dst long"))
    now = sorted(set(pairs) | set(adds))
    _assert_state(g, now)
    labels = _labels(g)
    assert labels[0] == labels[21] == 0  # 0-1-10-11-20-21 merged
    assert labels[30] == labels[31] == 30


def test_randomized_differential_insert_delete(spark, catalog):
    """Randomized differential test mirroring reference_connectivity.hpp:90-161
    (deterministic seed): build, delete ~10%, compare against oracle."""
    rng = random.Random(162763)  # seed from test_spanning_tree.h:159
    n = 120
    pairs = sorted({(min(a, b), max(a, b)) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(220)) if a != b})
    g = DynamicGraph.create(catalog, edges_from_pairs(spark, pairs))
    _assert_state(g, pairs, vids=None)

    dels = rng.sample(pairs, len(pairs) // 10)
    g.batch_delete_edges(spark.createDataFrame(dels, "src long, dst long"))
    remaining = [p for p in pairs if p not in set(dels)]
    vids = sorted({v for p in pairs for v in p})
    _assert_state(g, remaining, vids=vids)

    adds = [(rng.randrange(n), rng.randrange(n)) for _ in range(30)]
    adds = [(min(a, b), max(a, b)) for a, b in adds if a != b]
    g.batch_add_edges(spark.createDataFrame(adds, "src long, dst long"))
    now = sorted(set(remaining) | set(adds))
    vids2 = sorted(set(vids) | {v for p in adds for v in p})
    _assert_state(g, now, vids=vids2)


def test_delete_slice_vertex_bound(spark, tmp_path, monkeypatch):
    """A delete slice with no edges left but many vertices (a star whose
    edges are all deleted) takes the distributed path once its vertex count
    passes driver_tier.DRIVER_ROWS_MAX, and lands on the driver path's
    labels and forest (SMALL_GRAPH_MAX = 0 keeps both deletes off the
    driver tier)."""
    import elektra_spark.dynamic.updates as upd
    from elektra_spark.operators import driver_tier

    star = [(0, i) for i in range(1, 9)]
    cc = upd.connected_components

    def delete_all(name, k):
        g = DynamicGraph.create(SnapshotCatalog(spark, str(tmp_path / name)), edges_from_pairs(spark, star))
        calls = []
        with monkeypatch.context() as m:
            m.setattr(driver_tier, "SMALL_GRAPH_MAX", 0)
            m.setattr(driver_tier, "DRIVER_ROWS_MAX", k)
            m.setattr(upd, "connected_components", lambda *a, **kw: calls.append(a) or cc(*a, **kw))
            g.batch_delete_edges(spark.createDataFrame(star, "src long, dst long"))
        return bool(calls), _labels(g), sorted((r["src"], r["dst"]) for r in g.forest().collect())

    driver = delete_all("driver", driver_tier.DRIVER_ROWS_MAX)
    distributed = delete_all("distributed", 4)  # 0 edges, 9 vertices
    assert driver[0] is False and distributed[0] is True
    assert distributed[1:] == driver[1:] == ({v: v for v in range(9)}, [])


# ---- the driver tier against the Spark path ---------------------------------

BIG = 2**40
_IDS = list(range(12)) + [2**31 + i for i in range(12)] + [BIG + i for i in range(12)]


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _snapshot(g):
    """Each state table's schema, its rows keyed by column name, and its
    history (version, operation)."""
    out = {}
    for t in ("edges", "labels", "forest"):
        df = g.catalog.read(g._t(t))
        rows = sorted(tuple(sorted(r.asDict().items())) for r in df.collect())
        hist = [(s["version"], s["operation"]) for s in g.catalog.history(g._t(t))]
        out[t] = (df.schema, rows, hist)
    return out


def _script(seed):
    """A randomized add/delete/query sequence over vids at 0, 2^31 and 2^40.
    Delete batches named by kind are drawn from the graph's state when they
    run (the two replays hold the same state, which the test asserts)."""
    rng = random.Random(seed)

    def pick(k, ids=_IDS):
        return [(rng.choice(ids), rng.choice(ids)) for _ in range(k)]

    unseen = [BIG + 100 + i for i in range(6)]
    add1 = pick(8) + [(5, 5), (BIG + 1, BIG + 1)]
    add1 += add1[:3] + [(b, a) for a, b in add1[3:5]]  # duplicates and reversed duplicates
    return [
        ("add", add1),
        ("delete", "tree"),
        ("add", pick(6, _IDS + unseen) + [(unseen[0], unseen[1])]),
        ("delete", "nontree"),
        ("add", []),
        ("delete", [(BIG + 999, BIG + 998), (3, 3)]),  # unknown edges and a self-loop
        ("delete", []),
        ("delete", "mixed"),
        ("add", pick(5)),
    ]


def _delete_batch(g, kind, rng):
    if not isinstance(kind, str):
        return kind
    edges = {(r["src"], r["dst"]) for r in g.edges().collect()}
    forest = {(r["src"], r["dst"]) for r in g.forest().collect()}
    tree, nontree = sorted(forest), sorted(edges - forest)
    if kind == "tree":
        return rng.sample(tree, min(3, len(tree)))
    if kind == "nontree":
        return rng.sample(nontree, min(3, len(nontree)))
    # mixed, one pair reversed
    batch = rng.sample(tree, min(2, len(tree))) + rng.sample(nontree, min(2, len(nontree)))
    return [(b, a) for a, b in batch[:1]] + batch[1:]


def _replay(spark, root, create_edges, vertices, script, queries):
    """Create, then run ``script``; → the snapshot after every step and the
    answer to ``queries`` after every batch."""
    rng = random.Random(7)
    g = DynamicGraph.create(SnapshotCatalog(spark, root), _pairs_df(spark, create_edges), vertices=vertices)
    states, answers = [_snapshot(g)], []
    for op, batch in script:
        if op == "add":
            g.batch_add_edges(_pairs_df(spark, batch))
        else:
            g.batch_delete_edges(_pairs_df(spark, _delete_batch(g, batch, rng)))
        states.append(_snapshot(g))
        q = g.batch_connected(spark.createDataFrame(queries, "u long, v long"))
        answers.append((q.schema, sorted(map(tuple, q.collect()))))
    return states, answers


@pytest.mark.parametrize("with_vertices", [False, True])
def test_driver_tier_equals_spark_path(spark, tmp_path, monkeypatch, with_vertices):
    """The driver tier and the Spark path (SMALL_GRAPH_MAX = 0) leave the
    same edges, labels and forest, with the same schemas and history, and
    answer every query alike — over unseen vids, self-loops, duplicates,
    tree, non-tree, unknown and empty deletes, an empty add, and (with a
    vertex table) out-of-table edges and isolated vertices."""
    from elektra_spark.operators import driver_tier

    rng = random.Random(31)
    create_edges = [(rng.choice(_IDS), rng.choice(_IDS)) for _ in range(30)] + [(4, 4)]
    vertices = None
    if with_vertices:
        table = [v for v in _IDS if v not in (7, BIG + 7)] + [BIG + 50, BIG + 51, 11]
        vertices = spark.createDataFrame([(v,) for v in table], "vid long")
        create_edges += [(7, 8), (BIG + 7, 1)]  # endpoints outside the vertex table
    queries = [(rng.choice(_IDS), rng.choice(_IDS)) for _ in range(20)] + [(BIG + 100, BIG + 101), (BIG + 500, 1)]
    script = _script(11)

    tier_calls = []
    for name in ("_create_on_driver", "_add_on_driver", "_delete_on_driver"):
        real = getattr(DynamicGraph, name)
        monkeypatch.setattr(
            DynamicGraph, name, lambda self, *a, _r=real, _n=name: tier_calls.append(_n) or _r(self, *a)
        )
    tier = _replay(spark, str(tmp_path / "tier"), create_edges, vertices, script, queries)
    assert tier_calls.count("_add_on_driver") == 4 and tier_calls.count("_delete_on_driver") == 5
    monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", 0)
    tier_calls.clear()
    spark_path = _replay(spark, str(tmp_path / "spark"), create_edges, vertices, script, queries)
    assert tier_calls == ["_create_on_driver"]  # it declined; nothing else reached the tier
    assert tier[0] == spark_path[0]
    assert tier[1] == spark_path[1]


def test_driver_tier_bound_is_inclusive(spark, tmp_path, monkeypatch):
    """The tier runs while every state table's manifest row count is within
    SMALL_GRAPH_MAX and declines one below the largest, landing on the same
    state either way."""
    from elektra_spark.operators import driver_tier

    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (BIG, BIG + 1)]
    ran = []
    real = DynamicGraph._add_on_driver
    monkeypatch.setattr(DynamicGraph, "_add_on_driver", lambda self, *a: ran.append(1) or real(self, *a))
    out = []
    for name, slack in (("at", 0), ("below", 1)):
        g = DynamicGraph.create(SnapshotCatalog(spark, str(tmp_path / name)), _pairs_df(spark, pairs))
        largest = max(g.catalog.rows(g._t(t)) for t in ("edges", "labels", "forest"))
        with monkeypatch.context() as m:
            m.setattr(driver_tier, "SMALL_GRAPH_MAX", largest - slack)
            g.batch_add_edges(_pairs_df(spark, [(2, 3), (4, BIG), (9, 10)]))
        out.append(_snapshot(g))
    assert ran == [1]  # the "at" add only
    assert out[0] == out[1]


def test_driver_tier_job_counts(spark, tmp_path):
    """On a small graph, create (with a vertex table) runs at most 2 Spark
    jobs, an add or a delete at most 1 (the collect of its batch), and
    batch_connected(q).toPandas() at most 2."""
    from .test_driver_tier import _jobs

    pairs = [(0, 1), (1, 2), (2, 3), (0, 3), (5, 6)]
    verts = spark.createDataFrame([(v,) for v in range(8)], "vid long")
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    g, n_create = _jobs(spark, lambda: DynamicGraph.create(cat, _pairs_df(spark, pairs), vertices=verts))
    _, n_add = _jobs(spark, lambda: g.batch_add_edges(_pairs_df(spark, [(3, 5), (6, 7), (8, 9)])))
    tree = [(r["src"], r["dst"]) for r in g.forest().collect()][:2]
    _, n_delete = _jobs(spark, lambda: g.batch_delete_edges(_pairs_df(spark, tree)))
    q = spark.createDataFrame([(0, 7), (8, 9), (4, 0)], "u long, v long")
    answer, n_query = _jobs(spark, lambda: g.batch_connected(q).toPandas())
    assert n_create <= 2 and n_add <= 1 and n_delete <= 1 and n_query <= 2
    now = [p for p in pairs + [(3, 5), (6, 7), (8, 9)] if p not in tree]
    _assert_state(g, now, vids=range(8))
    want = cc_oracle(now, range(8))
    assert {(r.u, r.v): r.connected for r in answer.itertuples()} == {
        (u, v): want.get(u, u) == want.get(v, v) for u, v in [(0, 7), (8, 9), (4, 0)]
    }


def test_levels_and_check_rep_with_the_tier(spark, tmp_path, monkeypatch):
    """levels=True keeps every call on the Spark path (no Arrow read), and
    check_rep=True still runs after each call of the driver tier."""
    pairs = [(0, 1), (1, 2), (2, 0), (3, 4)]
    arrow_reads, reps = [], []
    real_read = SnapshotCatalog.read_arrow
    monkeypatch.setattr(SnapshotCatalog, "read_arrow", lambda self, *a, **k: arrow_reads.append(a) or real_read(self, *a, **k))
    g = DynamicGraph.create(
        SnapshotCatalog(spark, str(tmp_path / "levels")), _pairs_df(spark, pairs), levels=True
    )
    g.batch_add_edges(_pairs_df(spark, [(2, 3), (5, 6)]))
    g.batch_delete_edges(_pairs_df(spark, [(2, 3)]))
    assert arrow_reads == []
    assert g.levels_table().count() == g.edges().count() == 5
    g.check_rep()

    real_rep = DynamicGraph.check_rep
    monkeypatch.setattr(DynamicGraph, "check_rep", lambda self: reps.append(1) or real_rep(self))
    g = DynamicGraph.create(
        SnapshotCatalog(spark, str(tmp_path / "rep")), _pairs_df(spark, pairs), check_rep=True
    )
    g.batch_add_edges(_pairs_df(spark, [(2, 3), (5, 6)]))
    g.batch_delete_edges(_pairs_df(spark, [(2, 3)]))
    assert arrow_reads and len(reps) == 3
    _assert_state(g, [(0, 1), (1, 2), (0, 2), (3, 4), (5, 6)])
