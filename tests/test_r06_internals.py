"""Focused tests for round-6 optimization internals: FastSV root hooking in
the shared min-label kernel, the single-pass CC quotient merge, the packed
vs fallback key paths in link prediction, and the int32-narrowed vs wide-vid
df PageRank superstep. Each pins that an optimized path and its general
fallback produce identical results."""

import math
import random

import pytest
from pyspark.sql import functions as F

from elektra_spark.ingest.graph_io import edges_from_pairs
from elektra_spark.operators.cc import _np_min_labels, connected_components

from .oracles import cc_oracle

BIG = 1 << 32  # vid offset that defeats the 31-bit key packing


def test_np_min_labels_matches_brute_on_adversarial_chains():
    """Root hooking must still produce exact min labels on the shapes that
    made vertex-only hooking diameter-bound: long paths with the minimum in
    the middle, and interleaved chains."""
    import numpy as np

    cases = [
        # path with min at one end, at the middle, and value-shuffled
        [(i, i + 1) for i in range(400)],
        [(i + 200, i + 201) for i in range(-200, 200)],
        [(400 - i, 399 - i) for i in range(400)],
        # two interleaved chains + a star
        [(i, i + 2) for i in range(300)] + [(500, i) for i in range(0, 50, 7)],
    ]
    for pairs in cases:
        src = np.array([a for a, _ in pairs])
        dst = np.array([b for _, b in pairs])
        vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        lbl = _np_min_labels(inv[: len(src)], inv[len(src):], len(vids))
        want = cc_oracle([(int(a), int(b)) for a, b in pairs])
        got = {int(v): int(c) for v, c in zip(vids, vids[lbl])}
        assert got == want


@pytest.mark.parametrize("parts", [2, 7])
def test_cc_csr_quotient_merge_cross_partition(spark, parts):
    """Partition counts chosen so range partitions slice every component:
    a vid's label can be stale in one partition while its home partition
    resolves it lower — the self-row link in _merge_cc_kernel must carry
    the resolution (the correctness argument in its docstring)."""
    rng = random.Random(7)
    # components that span the whole vid range: stripes i ~ i+97
    pairs = sorted({(i, i + 97) for i in range(0, 900, 3)} | {
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(1000), rng.randrange(1000)) for _ in range(120))
        if a != b
    })
    edges = edges_from_pairs(spark, pairs)
    got = {
        r["vid"]: r["component"]
        for r in connected_components(edges, kernel="csr", num_partitions=parts).collect()
    }
    assert got == cc_oracle(pairs)


def test_adamic_adar_fallback_path_wide_vids(spark):
    """vids above 2^31 must take the two-column fallback (no packed key)
    and produce exactly the shifted result of the packed path."""
    from elektra_spark.operators.linkpred import adamic_adar

    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 1), (1, 4), (3, 4), (4, 5)]
    small = adamic_adar(edges_from_pairs(spark, pairs), max_pivot_degree=10, top_k=100)
    big = adamic_adar(
        edges_from_pairs(spark, [(a + BIG, b + BIG) for a, b in pairs]),
        max_pivot_degree=10,
        top_k=100,
    )
    s = sorted((r["a"], r["b"], r["common_neighbors"], r["aa_score"]) for r in small.collect())
    b = sorted(
        (r["a"] - BIG, r["b"] - BIG, r["common_neighbors"], r["aa_score"])
        for r in big.collect()
    )
    assert s == b and len(s) > 0


@pytest.mark.parametrize("top", [2**31 - 1, 2**31])
def test_copurchase_packed_distinct_matches_pairs(spark, tmp_path, top):
    """``_copurchase_graph`` packs (src, dst) into one long for its distinct
    while every l_partkey < 2^31 (top = 2^31 - 1) and falls back to the
    two-column distinct above (top = 2^31); both give the Python pair set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    rows = [(1, 5), (1, 7), (1, top), (2, 7), (2, 5), (2, top), (3, top - 1), (3, top), (3, 3), (4, 9)]
    pq.write_table(
        pa.table({"l_orderkey": pa.array([o for o, _ in rows], pa.int64()),
                  "l_partkey": pa.array([p for _, p in rows], pa.int64())}),
        tmp_path / "lineitem.parquet",
    )
    parts = {}
    for o, p in rows:
        parts.setdefault(o, set()).add(p)
    want = {(min(a, b), max(a, b)) for ps in parts.values() for a in ps for b in ps if a != b}
    got = [(r["src"], r["dst"]) for r in entry._copurchase_graph(spark, str(tmp_path)).collect()]
    assert sorted(got) == sorted(want)


def test_pagerank_df_wide_vids_matches_narrow(spark):
    """The int32-narrowed df superstep and the wide-vid (long) path must
    agree: shifting every vid by 2^32 changes only the ids."""
    from elektra_spark.operators.pagerank import pagerank

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (0, 5)]
    r1 = {
        r["vid"]: r["rank"]
        for r in pagerank(edges_from_pairs(spark, pairs), n_iter=5, kernel="df").collect()
    }
    r2 = {
        r["vid"] - BIG: r["rank"]
        for r in pagerank(
            edges_from_pairs(spark, [(a + BIG, b + BIG) for a, b in pairs]),
            n_iter=5,
            kernel="df",
        ).collect()
    }
    assert set(r1) == set(r2)
    for v in r1:
        assert math.isclose(r1[v], r2[v], rel_tol=0, abs_tol=1e-12)
