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
    """A batch larger than driver_threshold must take the distributed path
    (quotient CC + spanning forest), never the driver collect — the driver
    solver is monkeypatched to fail loudly if hit."""
    import elektra_spark.dynamic.updates as upd

    pairs = [(0, 1), (10, 11)]
    g = DynamicGraph.create(catalog, edges_from_pairs(spark, pairs))

    def boom(pdf):
        raise AssertionError("driver path must not run above threshold")

    monkeypatch.setattr(upd, "_solve_contracted_driver", boom)
    adds = [(1, 10), (11, 20), (20, 21), (30, 31)]
    g.batch_add_edges(spark.createDataFrame(adds, "src long, dst long"), driver_threshold=0)
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
    labels and forest."""
    import elektra_spark.dynamic.updates as upd
    from elektra_spark.operators import driver_tier

    star = [(0, i) for i in range(1, 9)]
    cc = upd.connected_components

    def delete_all(name, k):
        g = DynamicGraph.create(SnapshotCatalog(spark, str(tmp_path / name)), edges_from_pairs(spark, star))
        calls = []
        with monkeypatch.context() as m:
            m.setattr(driver_tier, "DRIVER_ROWS_MAX", k)
            m.setattr(upd, "connected_components", lambda *a, **kw: calls.append(a) or cc(*a, **kw))
            g.batch_delete_edges(spark.createDataFrame(star, "src long, dst long"))
        return bool(calls), _labels(g), sorted((r["src"], r["dst"]) for r in g.forest().collect())

    driver = delete_all("driver", driver_tier.DRIVER_ROWS_MAX)
    distributed = delete_all("distributed", 4)  # 0 edges, 9 vertices
    assert driver[0] is False and distributed[0] is True
    assert distributed[1:] == driver[1:] == ({v: v for v in range(9)}, [])
