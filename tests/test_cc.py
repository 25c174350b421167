"""Connected components vs union-find oracle, on the reference's own fixture
graphs (FIXTURES.md §3; scenarios from elektra
test/tests/test_parallel_batch_connected.h) and on random + transcript graphs.
"""

import random

import pytest
from pyspark.sql import functions as F

from elektra_spark.ingest.graph_io import edges_from_pairs
from elektra_spark.operators.cc import batch_connected, component_sizes, connected_components

from .oracles import cc_oracle

THREE_EDGES = [(0, 1), (1, 2), (3, 4)]  # test_parallel_batch_connected.h:62-96
CLIQUE5_PLUS_PATH = [(a, b) for a in range(5) for b in range(a + 1, 5)] + [(5, 6), (6, 7)]
HOUSE = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 1), (1, 4), (3, 4)]


def _labels_dict(df):
    return {r["vid"]: r["component"] for r in df.collect()}


@pytest.mark.parametrize("kernel", ["df", "csr"])
@pytest.mark.parametrize("pairs", [THREE_EDGES, CLIQUE5_PLUS_PATH, HOUSE], ids=["three", "clique5path", "house"])
def test_cc_fixture_graphs(spark, kernel, pairs):
    edges = edges_from_pairs(spark, pairs)
    got = _labels_dict(connected_components(edges, kernel=kernel))
    assert got == cc_oracle(pairs)


@pytest.mark.parametrize("kernel", ["df", "csr"])
def test_cc_random_graph(spark, kernel):
    rng = random.Random(0)  # deterministic seed, mirroring mt19937{0} in the reference
    n = 200
    pairs = list({(min(a, b), max(a, b)) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(150)) if a != b})
    edges = edges_from_pairs(spark, pairs)
    vertices = spark.range(n).select(F.col("id").alias("vid"))
    got = _labels_dict(connected_components(edges, vertices=vertices, kernel=kernel))
    assert got == cc_oracle(pairs, vids=range(n))


@pytest.mark.parametrize("kernel", ["bsp", "CSR", "bogus"])
def test_cc_rejects_unknown_kernel(spark, kernel):
    edges = edges_from_pairs(spark, HOUSE)
    with pytest.raises(ValueError, match=r"auto\|csr\|df"):
        connected_components(edges, kernel=kernel)


def test_cc_long_chain_converges_fast(spark):
    """A 512-vertex path must converge in O(log n) supersteps, not O(n) —
    pointer jumping is load-bearing for conversation chains up to length 200."""
    pairs = [(i, i + 1) for i in range(511)]
    edges = edges_from_pairs(spark, pairs)
    steps = []
    got = _labels_dict(
        connected_components(edges, kernel="df", on_superstep=lambda s, c, t: steps.append(c))
    )
    assert got == cc_oracle(pairs)
    assert len(steps) <= 12, f"too many supersteps for a chain: {len(steps)}"


def test_batch_connected_three_edges(spark):
    """Boolean query vector semantics of elektra BatchConnected
    (test_parallel_batch_connected.h:62-96)."""
    edges = edges_from_pairs(spark, THREE_EDGES)
    vertices = spark.range(5).select(F.col("id").alias("vid"))
    labels = connected_components(edges, vertices=vertices)
    queries = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (0, 3), (0, 4), (3, 4), (2, 3), (2, 4)], "u long, v long"
    )
    got = {(r["u"], r["v"]): r["connected"] for r in batch_connected(labels, queries).collect()}
    assert got == {
        (0, 1): True, (0, 2): True, (1, 2): True,
        (0, 3): False, (0, 4): False, (3, 4): True, (2, 3): False, (2, 4): False,
    }


def test_component_sizes(spark):
    edges = edges_from_pairs(spark, CLIQUE5_PLUS_PATH)
    labels = connected_components(edges)
    sizes = {r["component"]: r["size"] for r in component_sizes(labels).collect()}
    assert sizes == {0: 5, 5: 3}


def test_component_edges_covers_both_endpoint_roles(spark):
    """component_edges semi-joins on src only; that is complete because both
    endpoints of an intra-component edge share the component by definition.
    This pins that reasoning: a component whose member appears only as dst of
    some edges must still see every one of its edges."""
    from elektra_spark.operators.cc import component_edges

    pairs = [(0, 5), (1, 5), (2, 5), (0, 1), (7, 8)]  # 5 only ever a dst
    edges = edges_from_pairs(spark, pairs)
    labels = connected_components(edges)
    got = sorted((r["src"], r["dst"]) for r in component_edges(labels, edges, 0).collect())
    assert got == sorted([(0, 5), (1, 5), (2, 5), (0, 1)])
    got2 = sorted((r["src"], r["dst"]) for r in component_edges(labels, edges, 7).collect())
    assert got2 == [(7, 8)]


def test_cc_pre_partitioned_matches_shuffled(spark):
    """pre_partitioned=True must be correct under ANY input partitioning —
    the quotient absorbs cross-partition structure; clustering only changes
    the quotient size."""
    rng = random.Random(5)
    n = 150
    pairs = list({(min(a, b), max(a, b)) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(120)) if a != b})
    edges = edges_from_pairs(spark, pairs).repartition(7)  # adversarial layout
    got = _labels_dict(connected_components(edges, kernel="csr", pre_partitioned=True))
    assert got == cc_oracle(pairs)


def test_cc_transcript_graph(spark):
    """CC on the derived transcript link graph vs oracle (both kernels agree)."""
    from elektra_spark.ingest.edges import derive_graph
    from elektra_spark.ingest.transcripts import synth_transcripts

    t = synth_transcripts(spark, n_conversations=30, seed=42)
    g = derive_graph(t)
    pairs = [(r["src"], r["dst"]) for r in g.edges.collect()]
    vids = [r["vid"] for r in g.vertices.collect()]
    expected = cc_oracle(pairs, vids=vids)
    got = _labels_dict(connected_components(g.edges, vertices=g.vertices, kernel="csr"))
    assert got == expected

    # df kernel cross-checked on a smaller instance (its superstep count is
    # O(log n) but each superstep is a full shuffle round — the csr kernel is
    # the scale path; df is the reference implementation)
    t2 = synth_transcripts(spark, n_conversations=6, seed=7)
    g2 = derive_graph(t2)
    pairs2 = [(r["src"], r["dst"]) for r in g2.edges.collect()]
    vids2 = [r["vid"] for r in g2.vertices.collect()]
    got2 = _labels_dict(connected_components(g2.edges, vertices=g2.vertices, kernel="df"))
    assert got2 == cc_oracle(pairs2, vids=vids2)
