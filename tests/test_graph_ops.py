"""LPA, triangle counting, spanning forest, degrees vs oracles."""

import random

import pytest
from pyspark.sql import functions as F

from elektra_spark.ingest.graph_io import edges_from_pairs
from elektra_spark.operators.degrees import degrees
from elektra_spark.operators.forest import spanning_forest
from elektra_spark.operators.lpa import label_propagation
from elektra_spark.operators.triangles import triangle_count

from .oracles import hits_oracle, lpa_oracle, spanning_forest_invariants, triangle_count_oracle

HOUSE = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 1), (1, 4), (3, 4)]
CLIQUE5_PLUS_PATH = [(a, b) for a in range(5) for b in range(a + 1, 5)] + [(5, 6), (6, 7)]
SPANNING_K5ISH = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]


def _random_graph(seed, n, m):
    rng = random.Random(seed)
    return list({(min(a, b), max(a, b)) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(m)) if a != b})


@pytest.mark.parametrize("pairs,rounds", [(HOUSE, 3), (CLIQUE5_PLUS_PATH, 4), (_random_graph(5, 60, 120), 5)],
                         ids=["house", "clique5path", "random"])
def test_lpa_matches_oracle(spark, pairs, rounds):
    edges = edges_from_pairs(spark, pairs)
    got = {r["vid"]: r["label"] for r in label_propagation(edges, rounds=rounds).collect()}
    assert got == lpa_oracle(pairs, rounds=rounds)


@pytest.mark.parametrize(
    "pairs,seeds,rounds",
    [
        (HOUSE, {0: 100, 3: 200}, 3),
        (CLIQUE5_PLUS_PATH, {0: 7}, 2),  # path tail 7 unreached in 2 rounds → -1
        (_random_graph(17, 60, 90), {1: 10, 2: 20, 3: 30}, 4),
    ],
    ids=["house", "clique-short", "random"],
)
def test_seeded_lpa_matches_oracle(spark, pairs, seeds, rounds):
    from elektra_spark.operators.lpa import seeded_label_propagation

    from .oracles import seeded_lpa_oracle

    edges = edges_from_pairs(spark, pairs)
    sd = spark.createDataFrame(list(seeds.items()), "vid long, label long")
    got = {r["vid"]: r["label"] for r in seeded_label_propagation(edges, sd, rounds=rounds).collect()}
    want = seeded_lpa_oracle(pairs, seeds, rounds=rounds)
    assert got == want
    assert -1 in got.values() or all(v != -1 for v in want.values())


@pytest.mark.parametrize("pairs", [HOUSE, CLIQUE5_PLUS_PATH, SPANNING_K5ISH, _random_graph(11, 80, 200)],
                         ids=["house", "clique5path", "k5ish", "random"])
def test_triangle_count(spark, pairs):
    edges = edges_from_pairs(spark, pairs)
    got = triangle_count(edges).collect()[0]["n_triangles"]
    assert got == triangle_count_oracle(pairs)


@pytest.mark.parametrize("pairs", [SPANNING_K5ISH, HOUSE, _random_graph(7, 100, 160)],
                         ids=["k5ish", "house", "random"])
def test_spanning_forest_invariants(spark, pairs):
    """elektra test_spanning_tree.h:26-63 semantics: |F| = n - #components,
    forest ⊆ edges, acyclic, spans (CheckRep MST invariant)."""
    edges = edges_from_pairs(spark, pairs)
    forest = [(r["src"], r["dst"]) for r in spanning_forest(edges).collect()]
    spanning_forest_invariants(forest, pairs)


def test_spanning_forest_deterministic(spark):
    pairs = _random_graph(3, 50, 90)
    edges = edges_from_pairs(spark, pairs)
    f1 = sorted((r["src"], r["dst"]) for r in spanning_forest(edges).collect())
    f2 = sorted((r["src"], r["dst"]) for r in spanning_forest(edges).collect())
    assert f1 == f2


def test_degrees(spark):
    edges = edges_from_pairs(spark, HOUSE)
    got = {r["vid"]: r["degree"] for r in degrees(edges).collect()}
    assert got == {0: 2, 1: 4, 2: 3, 3: 3, 4: 2}


# ------------------------------------------------- BFS / k-core / HITS
def _bfs_oracle(pairs, seeds, max_hops):
    """Plain-python multi-source BFS with the bounded-hop contract."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = set(adj) | set(seeds)
    dist = {v: 0 for v in seeds}
    frontier = set(seeds)
    for step in range(1, max_hops + 1):
        frontier = {n for v in frontier for n in adj.get(v, ()) if n not in dist}
        for n in frontier:
            dist[n] = step
        if not frontier:
            break
    return {v: dist.get(v, -1) for v in verts}


def _kcore_oracle(pairs, k):
    """Synchronous peel to the fixpoint → {vid: within-core degree}."""
    edges = set(pairs)
    while True:
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        removed = {v for v, d in deg.items() if d < k}
        if not removed:
            return {v: d for v, d in deg.items() if d >= k}
        edges = {(a, b) for a, b in edges if a not in removed and b not in removed}


@pytest.mark.parametrize(
    "pairs,seeds,max_hops",
    [
        (HOUSE, [0], 8),
        (CLIQUE5_PLUS_PATH + [(10, 11)], [0], 8),  # (10,11) unreachable → -1
        (CLIQUE5_PLUS_PATH, [0, 7], 1),  # bound tighter than eccentricity
        (_random_graph(7, 80, 130), [0, 1, 2], 6),
    ],
    ids=["house", "disconnected", "bounded", "random"],
)
def test_hop_distance_matches_oracle(spark, pairs, seeds, max_hops):
    from elektra_spark.operators.bfs import hop_distance

    edges = edges_from_pairs(spark, pairs)
    verts = sorted({v for e in pairs for v in e} | set(seeds))
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    got = {r["vid"]: r["dist"] for r in hop_distance(edges, seeds, vertices=vdf, max_hops=max_hops).collect()}
    assert got == _bfs_oracle(pairs, seeds, max_hops)


@pytest.mark.parametrize(
    "pairs,k",
    [
        (HOUSE, 2),  # whole house is the 2-core
        (CLIQUE5_PLUS_PATH, 2),  # path dangles off the clique → peeled
        (CLIQUE5_PLUS_PATH, 4),  # only the K5 survives
        (CLIQUE5_PLUS_PATH, 5),  # empty core
        (_random_graph(13, 70, 160), 3),
    ],
    ids=["house2", "clique2", "clique4", "empty", "random3"],
)
def test_k_core_matches_oracle(spark, pairs, k):
    from elektra_spark.operators.kcore import k_core

    edges = edges_from_pairs(spark, pairs)
    got = {r["vid"]: r["deg"] for r in k_core(edges, k=k).collect()}
    want = _kcore_oracle(pairs, k)
    assert got == want
    # fixpoint invariant: every member keeps ≥ k within-core neighbors
    assert all(d >= k for d in got.values()) or not got


def test_hits_matches_oracle(spark):
    from elektra_spark.operators.hits import hits

    pairs = _random_graph(17, 50, 110)  # canonical a<b pairs = directed a→b
    verts = sorted({v for e in pairs for v in e})
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    rows = hits(edges, vertices=vdf, n_iter=6).collect()
    hub_o, auth_o = hits_oracle(pairs, verts, 6)
    for r in rows:
        assert abs(r["hub"] - hub_o[r["vid"]]) < 1e-9
        assert abs(r["auth"] - auth_o[r["vid"]]) < 1e-9
    assert abs(sum(r["hub"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["auth"] for r in rows) - 1.0) < 1e-9


def _katz_oracle(pairs, verts, alpha, beta, n_iter):
    """Directed truncated Katz iteration (pairs are src→dst)."""
    x = {v: beta for v in verts}
    for _ in range(n_iter):
        raw = {}
        for a, b in pairs:
            raw[b] = raw.get(b, 0.0) + x[a]
        x = {v: beta + alpha * raw.get(v, 0.0) for v in verts}
    return x


@pytest.mark.parametrize("pairs,n_iter", [(HOUSE, 4), (_random_graph(23, 50, 110), 6)],
                         ids=["house", "random"])
def test_katz_matches_oracle(spark, pairs, n_iter):
    from elektra_spark.operators.katz import katz_centrality

    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs})  # edges_from_pairs emits canonical a<b = directed a→b
    verts = sorted({v for e in canon for v in e})
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    rows = katz_centrality(edges, vertices=vdf, alpha=0.05, beta=1.0, n_iter=n_iter).collect()
    want = _katz_oracle(canon, verts, 0.05, 1.0, n_iter)
    assert len(rows) == len(verts)
    for r in rows:
        assert abs(r["katz"] - want[r["vid"]]) < 1e-9
    # vertices with no in-edges hold exactly the beta base
    sinks = set(verts) - {b for _, b in canon}
    for r in rows:
        if r["vid"] in sinks:
            assert r["katz"] == 1.0


def _brandes_oracle(pairs, sources, max_hops):
    """Hop-bounded source-restricted Brandes on the undirected graph."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = sorted(adj)
    bc = {v: 0.0 for v in verts}
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        levels = [[s]]
        while len(levels) - 1 < max_hops:
            nxt = sorted({w for v in levels[-1] for w in adj.get(v, ()) if w not in dist})
            if not nxt:
                break
            d = len(levels)
            for w in nxt:
                dist[w] = d
                sigma[w] = sum(sigma[u] for u in adj[w] if dist.get(u) == d - 1)
            levels.append(nxt)
        delta = {v: 0.0 for v in dist}
        for i in range(len(levels) - 2, -1, -1):
            for v in levels[i]:
                for w in adj[v]:
                    if dist.get(w) == i + 1:
                        delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for v, d in delta.items():
            if v != s:
                bc[v] += d
    return bc


@pytest.mark.parametrize(
    "pairs,sources,max_hops",
    [
        (HOUSE, [0, 1, 2, 3, 4], 8),  # all sources, bound slack → classic Brandes
        (HOUSE, [0], 2),  # binding hop bound truncates the DAG
        (CLIQUE5_PLUS_PATH, [0, 7], 8),  # path through the bridge vertex 5/6
        (_random_graph(29, 60, 120), [0, 1, 2, 3], 4),
    ],
    ids=["house-all", "house-bounded", "bridge", "random"],
)
def test_betweenness_matches_brandes(spark, pairs, sources, max_hops):
    from elektra_spark.operators.betweenness import betweenness

    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    verts = sorted({v for e in canon for v in e})
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    rows = betweenness(edges, sources, vertices=vdf, max_hops=max_hops).collect()
    want = _brandes_oracle(canon, sources, max_hops)
    assert len(rows) == len(verts)
    for r in rows:
        assert abs(r["bc"] - want[r["vid"]]) < 1e-9, (r["vid"], r["bc"], want[r["vid"]])


def test_kcore_oracle_unroll_depth_converges():
    """The contract twin unrolls KCORE_SQL_ROUNDS synchronous peel rounds;
    assert the sf0.01 instance actually reaches its fixpoint within that
    budget (rounds past the fixpoint are no-ops, so any depth ≥ the
    instance's is exact)."""
    import os

    import duckdb

    sf_dir = os.environ.get("ELEKTRA_SF_DIR", "/root/testdata/sf0.01")
    li = f"{sf_dir}/lineitem.parquet"
    if not os.path.exists(li):
        pytest.skip(f"no contract-scale data at {sf_dir}")
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
    con.execute(f"CREATE TABLE e AS {entry._COPURCHASE_SQL}")
    con.execute("CREATE TABLE b AS SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e")
    con.execute("CREATE TABLE v AS SELECT DISTINCT src AS vid FROM b")
    rounds = 0
    while rounds <= entry.KCORE_SQL_ROUNDS:
        rounds += 1
        con.execute(
            """CREATE OR REPLACE TABLE d AS SELECT b.src AS vid, count(*) AS deg FROM b
               JOIN v p ON b.src = p.vid JOIN v q ON b.dst = q.vid GROUP BY b.src"""
        )
        n_rem = con.sql(
            f"SELECT count(*) FROM v LEFT JOIN d USING (vid) WHERE coalesce(deg, 0) < {entry.KCORE_K}"
        ).fetchone()[0]
        if n_rem == 0:
            break
        con.execute(f"CREATE OR REPLACE TABLE v AS SELECT vid FROM d WHERE deg >= {entry.KCORE_K}")
    assert rounds <= entry.KCORE_SQL_ROUNDS, (
        f"k-core oracle unroll depth {entry.KCORE_SQL_ROUNDS} < peel depth {rounds} at {sf_dir}"
    )


# --------------------------- clustering coeff / link prediction / SSSP / PPR
def _tri_per_vertex_oracle(pairs):
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    t = {v: 0 for v in nbr}
    # count each triangle once per member via canonical a<b<c enumeration
    vs = sorted(nbr)
    for a in vs:
        for b in (x for x in nbr[a] if x > a):
            for c in nbr[a] & nbr[b]:
                if c > b:
                    t[a] += 1
                    t[b] += 1
                    t[c] += 1
    return t, {v: len(ns) for v, ns in nbr.items()}


@pytest.mark.parametrize("pairs", [HOUSE, CLIQUE5_PLUS_PATH, _random_graph(23, 60, 140)],
                         ids=["house", "clique5path", "random"])
def test_local_clustering_coefficient(spark, pairs):
    from elektra_spark.operators.triangles import local_clustering_coefficient

    edges = edges_from_pairs(spark, pairs)
    tri, deg = _tri_per_vertex_oracle(pairs)
    rows = local_clustering_coefficient(edges).collect()
    assert {r["vid"] for r in rows} == set(deg)
    for r in rows:
        v = r["vid"]
        assert r["degree"] == deg[v]
        assert r["n_triangles"] == tri[v]
        want = 2.0 * tri[v] / (deg[v] * (deg[v] - 1.0)) if deg[v] >= 2 else 0.0
        assert abs(r["coeff"] - round(want, 6)) < 1e-9


def _adamic_adar_oracle(pairs, max_pivot_degree):
    import math

    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    piv = {v for v, ns in nbr.items() if 2 <= len(ns) <= max_pivot_degree}
    scores = {}
    for w in piv:
        invw = 1.0 / math.log(len(nbr[w]))
        ns = sorted(nbr[w])
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                cn, aa = scores.get((a, b), (0, 0.0))
                scores[(a, b)] = (cn + 1, aa + invw)
    existing = {(min(a, b), max(a, b)) for a, b in pairs}
    return {p: s for p, s in scores.items() if p not in existing}


@pytest.mark.parametrize("pairs,cap", [(HOUSE, 10), (CLIQUE5_PLUS_PATH, 10),
                                       (_random_graph(31, 50, 120), 6)],
                         ids=["house", "clique5path", "random-capped"])
def test_adamic_adar_matches_oracle(spark, pairs, cap):
    from elektra_spark.operators.linkpred import adamic_adar

    edges = edges_from_pairs(spark, pairs)
    want = _adamic_adar_oracle(pairs, cap)
    got = adamic_adar(edges, max_pivot_degree=cap, top_k=10_000).collect()
    assert len(got) == len(want)
    for r in got:
        cn, aa = want[(r["a"], r["b"])]
        assert r["common_neighbors"] == cn
        assert abs(r["aa_score"] - round(aa, 6)) < 1e-9
    # the top-k cut is the documented total order
    key = [(-r["aa_score"], r["a"], r["b"]) for r in got]
    assert key == sorted(key)


def _sssp_oracle(pairs, seeds, max_hops, w):
    """Hop-bounded Bellman–Ford over the undirected weighted graph."""
    verts = {v for e in pairs for v in e} | set(seeds)
    dist = {v: 0 for v in seeds}
    for _ in range(max_hops):
        nxt = dict(dist)
        for a, b in pairs:
            for u, v in ((a, b), (b, a)):
                if u in dist and dist[u] + w(a, b) < nxt.get(v, float("inf")):
                    nxt[v] = dist[u] + w(a, b)
        if nxt == dist:
            break
        dist = nxt
    return {v: dist.get(v, -1) for v in verts}


@pytest.mark.parametrize(
    "pairs,seeds,max_hops",
    [(HOUSE, [0], 8), (CLIQUE5_PLUS_PATH + [(10, 11)], [0], 8),
     (CLIQUE5_PLUS_PATH, [0, 7], 2), (_random_graph(41, 70, 120), [0, 1], 6)],
    ids=["house", "disconnected", "bounded", "random"],
)
def test_weighted_distance_matches_oracle(spark, pairs, seeds, max_hops):
    from elektra_spark.operators.bfs import weighted_distance

    edges = edges_from_pairs(spark, pairs)
    verts = sorted({v for e in pairs for v in e} | set(seeds))
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    got = {r["vid"]: r["dist"] for r in
           weighted_distance(edges, seeds, vertices=vdf, max_hops=max_hops).collect()}
    assert got == _sssp_oracle(pairs, seeds, max_hops, lambda a, b: 1 + (a + b) % 5)


# --------------------------- edge support / k-truss / bipartite / assortativity
def _support_oracle(pairs):
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    return {(min(a, b), max(a, b)): len(nbr[a] & nbr[b]) for a, b in pairs}


def _truss_oracle(pairs, k):
    edges = {(min(a, b), max(a, b)) for a, b in pairs}
    while True:
        sup = _support_oracle(edges)
        keep = {e for e in edges if sup[e] >= k - 2}
        if keep == edges:
            return {e: sup[e] for e in edges}
        edges = keep


@pytest.mark.parametrize("pairs", [HOUSE, CLIQUE5_PLUS_PATH, _random_graph(43, 40, 160)],
                         ids=["house", "clique5path", "random"])
def test_edge_support_matches_oracle(spark, pairs):
    from elektra_spark.operators.truss import edge_support

    edges = edges_from_pairs(spark, pairs)
    got = {(r["src"], r["dst"]): r["support"] for r in edge_support(edges).collect()}
    assert got == _support_oracle({(min(a, b), max(a, b)) for a, b in pairs})


@pytest.mark.parametrize(
    "pairs,k",
    [
        (HOUSE, 3),            # the triangle pair survives, the (1,4)-(3,4) ears peel
        (CLIQUE5_PLUS_PATH, 5),  # only the K5 (support 3 everywhere) survives
        (CLIQUE5_PLUS_PATH, 6),  # empty truss
        (_random_graph(47, 30, 120), 4),
    ],
    ids=["house3", "clique5", "empty", "random4"],
)
def test_k_truss_matches_oracle(spark, pairs, k):
    from elektra_spark.operators.truss import k_truss

    edges = edges_from_pairs(spark, pairs)
    got = {(r["src"], r["dst"]): r["support"] for r in k_truss(edges, k=k).collect()}
    assert got == _truss_oracle(pairs, k)
    assert all(s >= k - 2 for s in got.values()) or not got


def _bipartite_oracle(pairs, verts):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp, verdict, size = {}, {}, {}
    for v in sorted(verts):
        if v in comp:
            continue
        color, ok, stack, members = {v: 0}, True, [v], []
        while stack:
            u = stack.pop()
            members.append(u)
            for w in adj.get(u, ()):
                if w not in color:
                    color[w] = 1 - color[u]
                    stack.append(w)
                elif color[w] == color[u]:
                    ok = False
        rep = min(members)
        for m in members:
            comp[m] = rep
        verdict[rep], size[rep] = ok, len(members)
    return {r: (size[r], verdict[r]) for r in verdict}


@pytest.mark.parametrize(
    "pairs",
    [
        [(0, 1), (1, 2), (2, 3), (3, 0)],          # even cycle → bipartite
        [(0, 1), (1, 2), (2, 0)],                  # odd cycle → not
        HOUSE,                                     # triangles → not
        [(0, 1), (0, 2), (0, 3), (5, 6)],          # star + edge → both bipartite
        _random_graph(53, 40, 60),
    ],
    ids=["even-cycle", "odd-cycle", "house", "star", "random"],
)
def test_bipartite_components_matches_oracle(spark, pairs):
    from elektra_spark.operators.bipartite import bipartite_components

    edges = edges_from_pairs(spark, pairs)
    verts = {v for e in pairs for v in e}
    got = {r["component"]: (r["n_vertices"], r["is_bipartite"])
           for r in bipartite_components(edges).collect()}
    assert got == _bipartite_oracle(pairs, verts)


def test_degree_assortativity_matches_formula(spark):
    import math

    from elektra_spark.operators.degrees import degree_assortativity

    pairs = _random_graph(61, 50, 130)
    edges = edges_from_pairs(spark, pairs)
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xy = [(deg[a], deg[b]) for a, b in pairs] + [(deg[b], deg[a]) for a, b in pairs]
    n = len(xy)
    sx = sum(x for x, _ in xy); sy = sum(y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    sxx = sum(x * x for x, _ in xy); syy = sum(y * y for _, y in xy)
    want = (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    row = degree_assortativity(edges).collect()[0]
    assert row["n_endpoints"] == n
    assert abs(row["assortativity"] - round(want, 6)) < 1e-9


def test_truss_oracle_unroll_depth_converges():
    """TRUSS_SQL_ROUNDS must exceed the sf0.01 instance's peel depth (plus a
    no-op round) so the unrolled twin's final support relation equals the
    within-truss support — same pinning as the k-core twin."""
    import os

    import duckdb

    sf_dir = os.environ.get("ELEKTRA_SF_DIR", "/root/testdata/sf0.01")
    li = f"{sf_dir}/lineitem.parquet"
    if not os.path.exists(li):
        pytest.skip(f"no contract-scale data at {sf_dir}")
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
    con.execute(f"CREATE TABLE e AS {entry._COPURCHASE_SQL}")
    k = entry.TRUSS_K
    rounds = 0
    prev = con.execute("SELECT count(*) FROM e").fetchone()[0]
    while True:
        rounds += 1
        assert rounds <= entry.TRUSS_SQL_ROUNDS, (
            f"peel depth exceeds TRUSS_SQL_ROUNDS={entry.TRUSS_SQL_ROUNDS}"
        )
        con.execute(
            """CREATE OR REPLACE TABLE s AS
               WITH t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
                          FROM e e1 JOIN e e2 ON e1.dst = e2.src
                          JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
               m AS (SELECT a AS src, b AS dst FROM t
                     UNION ALL SELECT b, c FROM t UNION ALL SELECT a, c FROM t)
               SELECT src, dst, count(*) AS support FROM m GROUP BY src, dst"""
        )
        con.execute(
            f"""CREATE OR REPLACE TABLE e AS
                SELECT src, dst FROM s WHERE support >= {k - 2}"""
        )
        cur = con.execute("SELECT count(*) FROM e").fetchone()[0]
        if cur == prev:
            break
        prev = cur
    assert prev > 0, "contract TRUSS_K peels the sf0.01 graph to empty — pick a smaller k"
    # depth must leave at least one unrolled round as the fixpoint no-op
    assert rounds < entry.TRUSS_SQL_ROUNDS


@pytest.mark.parametrize(
    "seed,frac",
    [(71, 3), (73, 4), (79, 2)],
    ids=["third", "quarter", "half"],
)
def test_triangle_count_delta_identity(spark, seed, frac):
    """Incremental identity T(old ∪ new) = T(old) + Δ on random splits —
    the engine's inclusion–exclusion delta vs from-scratch recounts."""
    from elektra_spark.operators.triangles import triangle_count, triangle_count_delta

    pairs = _random_graph(seed, 40, 220)
    new_p = [e for e in pairs if (e[0] + e[1]) % frac == 0]
    old_p = [e for e in pairs if (e[0] + e[1]) % frac != 0]
    if not new_p or not old_p:
        pytest.skip("degenerate split")
    old = edges_from_pairs(spark, old_p)
    new = edges_from_pairs(spark, new_p)
    delta = triangle_count_delta(old, new).collect()[0]["delta_triangles"]
    t_old = triangle_count(old).collect()[0]["n_triangles"]
    assert t_old + delta == triangle_count_oracle(pairs)
    assert t_old == triangle_count_oracle(old_p)


def test_triangle_count_delta_delete_symmetry(spark):
    """Deletes reuse the insert identity: T(G) − Δ(G∖D, D) = T(G∖D)."""
    from elektra_spark.operators.triangles import triangle_count, triangle_count_delta

    pairs = _random_graph(83, 35, 200)
    deleted = [e for e in pairs if (e[0] * 7 + e[1]) % 5 == 0]
    remaining = [e for e in pairs if (e[0] * 7 + e[1]) % 5 != 0]
    g_rem = edges_from_pairs(spark, remaining)
    g_del = edges_from_pairs(spark, deleted)
    t_full = triangle_count(edges_from_pairs(spark, pairs)).collect()[0]["n_triangles"]
    delta = triangle_count_delta(g_rem, g_del).collect()[0]["delta_triangles"]
    assert t_full - delta == triangle_count_oracle(remaining)


# ------------------------------------------------------------------ coreness
def _coreness_oracle(pairs):
    """Batagelj–Zaveršnik min-degree peel: core(v) = the running peel level
    when v is removed — the textbook sequential coreness, independent of the
    engine's h-index iteration."""
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in nbr.items()}
    core, level = {}, 0
    while deg:
        v = min(deg, key=lambda x: (deg[x], x))
        level = max(level, deg[v])
        core[v] = level
        for u in nbr[v]:
            if u in deg and u != v:
                deg[u] -= 1
                nbr[u].discard(v)
        del deg[v]
    return core


@pytest.mark.parametrize(
    "pairs",
    [HOUSE, CLIQUE5_PLUS_PATH, _random_graph(29, 70, 180), _random_graph(31, 50, 60)],
    ids=["house", "clique5path", "dense", "sparse"],
)
def test_coreness_matches_peel_oracle(spark, pairs):
    from elektra_spark.operators.coreness import coreness

    edges = edges_from_pairs(spark, pairs)
    got = {r["vid"]: r["coreness"] for r in coreness(edges).collect()}
    assert got == _coreness_oracle(pairs)


def test_coreness_oracle_unroll_depth_converges():
    """The contract twin unrolls CORENESS_SQL_ROUNDS h-index rounds; assert
    the sf0.01 instance reaches its fixpoint within that budget (the fixpoint
    is stable, so any depth ≥ the instance's is exact)."""
    import os

    import duckdb

    sf_dir = os.environ.get("ELEKTRA_SF_DIR", "/root/testdata/sf0.01")
    li = f"{sf_dir}/lineitem.parquet"
    if not os.path.exists(li):
        pytest.skip(f"no contract-scale data at {sf_dir}")
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
    con.execute(f"CREATE TABLE e AS {entry._COPURCHASE_SQL}")
    con.execute("CREATE TABLE b AS SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e")
    con.execute("CREATE TABLE c AS SELECT src AS vid, count(*)::BIGINT AS c FROM b GROUP BY src")
    depth = None
    for i in range(1, entry.CORENESS_SQL_ROUNDS + 1):
        con.execute(
            """CREATE OR REPLACE TABLE n AS
               WITH g AS (SELECT b.src AS vid, p.c AS cn, count(*) AS k
                          FROM b JOIN c p ON b.dst = p.vid GROUP BY b.src, p.c)
               SELECT vid, max(least(cn, cum))::BIGINT AS c FROM (
                 SELECT vid, cn, sum(k) OVER (PARTITION BY vid ORDER BY cn DESC) AS cum FROM g)
               GROUP BY vid"""
        )
        changed = con.sql("SELECT count(*) FROM n JOIN c USING (vid) WHERE n.c <> c.c").fetchone()[0]
        con.execute("CREATE OR REPLACE TABLE c AS SELECT * FROM n")
        if changed == 0:
            depth = i
            break
    assert depth is not None, (
        f"coreness oracle unroll depth {entry.CORENESS_SQL_ROUNDS} below the instance's convergence depth at {sf_dir}"
    )


# --------------------------------------------------- strongly connected components
def _scc_oracle(dedges, verts):
    """Mutual-reachability brute force: scc(u) = min mutually reachable vid."""
    reach = {u: {u} for u in verts}
    changed = True
    while changed:
        changed = False
        for a, b in dedges:
            new = reach[b] - reach[a]
            if new:
                reach[a] |= new
                changed = True
    return {u: min(v for v in verts if v in reach[u] and u in reach[v]) for u in verts}


def _random_digraph(seed, n, m):
    rng = random.Random(seed)
    return list({(a, b) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(m)) if a != b})


@pytest.mark.parametrize(
    "dedges",
    [
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)],                       # cycle + tail
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1), (7, 6), (0, 7)],  # shared-path cycles
        [(5, 6), (6, 7), (7, 5), (5, 0), (0, 1), (1, 0), (2, 5)],       # cycle reaching a smaller-vid SCC
        [(0, 1), (1, 2), (0, 2), (3, 2)],                               # pure DAG → all singletons
        _random_digraph(11, 30, 70),
        _random_digraph(29, 50, 90),
    ],
    ids=["cycle-tail", "shared-cycles", "nested-min", "dag", "random30", "random50"],
)
def test_scc_matches_mutual_reachability_oracle(spark, dedges):
    from elektra_spark.operators.scc import strongly_connected_components

    verts = sorted({v for e in dedges for v in e})
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    edf = spark.createDataFrame(dedges, "src long, dst long")
    got = {r["vid"]: r["scc"] for r in strongly_connected_components(edf, vertices=vdf).collect()}
    assert got == _scc_oracle(dedges, verts)


def test_min_forward_reach_small_blocks(spark):
    """Force multi-block bucketing so the cross-block global pull is exercised
    (fixture-scale graphs otherwise fit one block and converge locally)."""
    from elektra_spark.operators.scc import min_forward_reach

    dedges = _random_digraph(7, 40, 80)
    verts = sorted({v for e in dedges for v in e})
    reach = {u: {u} for u in verts}
    changed = True
    while changed:
        changed = False
        for a, b in dedges:
            new = reach[b] - reach[a]
            if new:
                reach[a] |= new
                changed = True
    exp = {u: min(reach[u]) for u in verts}
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    edf = spark.createDataFrame(dedges, "src long, dst long")
    got = {r["vid"]: r["label"] for r in min_forward_reach(edf, vdf, block=8).collect()}
    assert got == exp


# --------------------------- jaccard / harmonic / modularity / sampled triangles
def _jaccard_oracle(pairs, max_pivot_degree):
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    piv = {v for v, ns in nbr.items() if 2 <= len(ns) <= max_pivot_degree}
    cn = {}
    for w in piv:
        ns = sorted(nbr[w])
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                cn[(a, b)] = cn.get((a, b), 0) + 1
    existing = {(min(a, b), max(a, b)) for a, b in pairs}
    return {
        p: (c, c / (len(nbr[p[0]]) + len(nbr[p[1]]) - c))
        for p, c in cn.items()
        if p not in existing
    }


@pytest.mark.parametrize("pairs,cap", [(HOUSE, 10), (CLIQUE5_PLUS_PATH, 10),
                                       (_random_graph(31, 50, 120), 6)],
                         ids=["house", "clique5path", "random-capped"])
def test_jaccard_similarity_matches_oracle(spark, pairs, cap):
    from elektra_spark.operators.linkpred import jaccard_similarity

    edges = edges_from_pairs(spark, pairs)
    want = _jaccard_oracle(pairs, cap)
    got = jaccard_similarity(edges, max_pivot_degree=cap, top_k=10_000).collect()
    assert len(got) == len(want)
    for r in got:
        cn, js = want[(r["a"], r["b"])]
        assert r["common_neighbors"] == cn
        assert abs(r["jaccard_score"] - round(js, 6)) < 1e-9
    key = [(-r["jaccard_score"], r["a"], r["b"]) for r in got]
    assert key == sorted(key)


def _harmonic_oracle(pairs, landmarks, max_hops):
    """Exact per-landmark BFS + exact-fraction inverse-distance sum."""
    from fractions import Fraction

    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    verts = set(nbr) | set(landmarks)
    acc = {v: Fraction(0) for v in verts}
    for l in set(landmarks):
        dist = {l: 0}
        frontier = [l]
        for step in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in nbr.get(u, ()):
                    if v not in dist:
                        dist[v] = step
                        nxt.append(v)
            frontier = nxt
        for v, d in dist.items():
            if d > 0:
                acc[v] += Fraction(1, d)
    return {v: round(float(s), 6) for v, s in acc.items()}


@pytest.mark.parametrize(
    "pairs,landmarks,max_hops",
    [(HOUSE, [0], 8), (CLIQUE5_PLUS_PATH + [(10, 11)], [0, 10], 8),
     (CLIQUE5_PLUS_PATH, [0, 7], 2), (_random_graph(47, 60, 110), [0, 1, 2], 5)],
    ids=["house", "disconnected", "bounded", "random"],
)
def test_harmonic_centrality_matches_oracle(spark, pairs, landmarks, max_hops):
    from elektra_spark.operators.bfs import harmonic_centrality

    edges = edges_from_pairs(spark, pairs)
    verts = sorted({v for e in pairs for v in e} | set(landmarks))
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    got = {r["vid"]: r["harmonic"] for r in
           harmonic_centrality(edges, landmarks, vertices=vdf, max_hops=max_hops).collect()}
    want = _harmonic_oracle(pairs, landmarks, max_hops)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def _modularity_oracle(pairs, labels):
    edges = {(min(a, b), max(a, b)) for a, b in pairs}
    m = len(edges)
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    intra = sum(1 for a, b in edges if labels[a] == labels[b])
    deg_c = {}
    for v, d in deg.items():
        deg_c[labels[v]] = deg_c.get(labels[v], 0) + d
    b_sum = sum(d * d for d in deg_c.values())
    return len(deg_c), intra, round(intra / m - b_sum / (4.0 * m * m), 6)


@pytest.mark.parametrize("pairs,rounds", [(HOUSE, 2), (CLIQUE5_PLUS_PATH, 3),
                                          (_random_graph(53, 60, 130), 2)],
                         ids=["house", "clique5path", "random"])
def test_modularity_matches_formula(spark, pairs, rounds):
    from elektra_spark.operators.lpa import modularity

    edges = edges_from_pairs(spark, pairs)
    lab = lpa_oracle(pairs, rounds=rounds)
    labdf = spark.createDataFrame([(v, l) for v, l in lab.items()], "vid long, label long")
    row = modularity(edges, labdf).collect()[0]
    nc, intra, q = _modularity_oracle(pairs, lab)
    assert row["n_communities"] == nc
    assert row["intra_edges"] == intra
    assert abs(row["modularity"] - q) < 1e-9


def test_modularity_perfect_partition(spark):
    # two disjoint triangles, labeled by component: Q = 1 - 1/2 = 0.5
    pairs = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    from elektra_spark.operators.lpa import modularity

    edges = edges_from_pairs(spark, pairs)
    lab = spark.createDataFrame([(v, v // 10) for v in [0, 1, 2, 10, 11, 12]], "vid long, label long")
    row = modularity(edges, lab).collect()[0]
    assert row["n_communities"] == 2
    assert row["intra_edges"] == 6
    assert abs(row["modularity"] - 0.5) < 1e-9


@pytest.mark.parametrize("pairs,p", [(CLIQUE5_PLUS_PATH, 1000), (_random_graph(59, 80, 300), 400)],
                         ids=["full-sample", "p0.4"])
def test_triangle_count_sampled(spark, pairs, p):
    from elektra_spark.operators.triangles import triangle_count_sampled

    edges = edges_from_pairs(spark, pairs)
    row = triangle_count_sampled(edges, p_permille=p).collect()[0]
    canon = {(min(a, b), max(a, b)) for a, b in pairs}
    kept = {(a, b) for a, b in canon if (a * 1000003 + b * 997) % 1000 < p}
    assert row["n_sampled_edges"] == len(kept)
    assert row["n_triangles_sampled"] == triangle_count_oracle(sorted(kept))
    scale = (1000.0 / p) ** 3
    assert abs(row["estimated_triangles"] - round(row["n_triangles_sampled"] * scale, 6)) < 1e-9
    # p = 1 is the identity: the estimate IS the exact count
    if p == 1000:
        assert row["estimated_triangles"] == float(triangle_count_oracle(pairs))


def test_scc_antitopological_chain_terminates(spark):
    """Regression: a chain whose vids DECREASE along the edges keeps round-1
    raw-vid coloring at color ≡ 1 (one extracted SCC per round — 120 rounds
    for 120 vertices, past max_rounds=50). The scrambled-key rounds must
    finish it in expected O(log n) FW–BW rounds with every vertex its own
    singleton SCC."""
    from elektra_spark.operators.scc import strongly_connected_components

    n = 120
    dedges = [(i, i - 1) for i in range(n, 1, -1)]  # n→n-1→…→1
    vdf = spark.createDataFrame([(v,) for v in range(1, n + 1)], "vid long")
    edf = spark.createDataFrame(dedges, "src long, dst long")
    got = {r["vid"]: r["scc"] for r in strongly_connected_components(edf, vertices=vdf).collect()}
    assert got == {v: v for v in range(1, n + 1)}


def test_scc_antitopological_with_cycles(spark):
    """Decreasing-vid chain plus two embedded cycles: the scrambled rounds
    must still extract complete SCCs (min-vid labels), not just singletons."""
    from elektra_spark.operators.scc import strongly_connected_components

    n = 60
    dedges = [(i, i - 1) for i in range(n, 1, -1)] + [(10, 20), (35, 50)]
    verts = sorted({v for e in dedges for v in e})
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    edf = spark.createDataFrame(dedges, "src long, dst long")
    got = {r["vid"]: r["scc"] for r in strongly_connected_components(edf, vertices=vdf).collect()}
    assert got == _scc_oracle(dedges, verts)


def test_empty_graph_degenerate_guards(spark):
    """Empty edge tables return empty results instead of raising
    (coreness: None-sum TypeError; hits with vertices=None: 1/0)."""
    from elektra_spark.operators.coreness import coreness
    from elektra_spark.operators.hits import hits

    empty = spark.createDataFrame([], "src long, dst long")
    assert coreness(empty).count() == 0
    assert hits(empty).count() == 0


def test_bipartite_large_vids(spark):
    """Regression: the double-cover decode must use integer division — with
    float division, vids above 2^53 round-trip through double and the
    even/odd cover join keys mismatch, mis-reporting an odd cycle as
    bipartite."""
    from elektra_spark.operators.bipartite import bipartite_components

    base = (1 << 53) + 101  # odd triangle at vids where 2v+1 exceeds 2^54
    pairs = [(base, base + 2), (base + 2, base + 4), (base, base + 4)]
    edges = edges_from_pairs(spark, pairs)
    rows = bipartite_components(edges).collect()
    assert len(rows) == 1
    assert not rows[0]["is_bipartite"]


# --------------------------- random walks / maximal independent set
def _walk_hash(walk_id, step, nbr):
    from elektra_spark.operators.walks import WALK_MOD, _A, _B, _C

    return ((walk_id % WALK_MOD) * _A % WALK_MOD + step * _B % WALK_MOD
            + (nbr % WALK_MOD) * _C % WALK_MOD) % WALK_MOD


def _walks_oracle(pairs, seeds, walk_length):
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    rows = set()
    for s in seeds:
        v = s
        rows.add((s, 0, s))
        for t in range(1, walk_length + 1):
            ns = nbr.get(v)
            if not ns:
                break
            v = min(ns, key=lambda u: (_walk_hash(s, t, u), u))
            rows.add((s, t, v))
    return rows


@pytest.mark.parametrize("pairs,seeds,length",
                         [(HOUSE, [0, 3], 6), (CLIQUE5_PLUS_PATH + [(10, 11)], [0, 7, 10], 5),
                          (_random_graph(61, 50, 100), [0, 1, 2, 3], 8)],
                         ids=["house", "deadend", "random"])
def test_random_walks_match_oracle(spark, pairs, seeds, length):
    from elektra_spark.operators.walks import random_walks

    edges = edges_from_pairs(spark, pairs)
    sdf = spark.createDataFrame([(v,) for v in seeds], "vid long")
    got = {(r["walk_id"], r["step"], r["vid"])
           for r in random_walks(edges, sdf, walk_length=length).collect()}
    assert got == _walks_oracle(pairs, seeds, length)


def _biased_walks_oracle(pairs, seeds, walk_length):
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    rows = set()
    for s in seeds:
        prev, v = s, s
        rows.add((s, 0, s))
        for t in range(1, walk_length + 1):
            ns = nbr.get(v)
            if not ns:
                break
            def key(u):
                cls = 2 if u == prev else (0 if u in nbr.get(prev, ()) else 1)
                return (cls, _walk_hash(s, t, u), u)
            prev, v = v, min(ns, key=key)
            rows.add((s, t, v))
    return rows


@pytest.mark.parametrize("pairs,seeds,length",
                         [(HOUSE, [0, 3], 6), (CLIQUE5_PLUS_PATH + [(10, 11)], [0, 7, 10], 5),
                          (_random_graph(61, 50, 100), [0, 1, 2, 3], 8)],
                         ids=["house", "deadend", "random"])
def test_biased_walks_match_oracle(spark, pairs, seeds, length):
    from elektra_spark.operators.walks import biased_walks

    edges = edges_from_pairs(spark, pairs)
    sdf = spark.createDataFrame([(v,) for v in seeds], "vid long")
    got = {(r["walk_id"], r["step"], r["vid"])
           for r in biased_walks(edges, sdf, walk_length=length).collect()}
    assert got == _biased_walks_oracle(pairs, seeds, length)


def test_biased_walks_second_order_semantics(spark):
    """Structural node2vec contract on a triangle + tail: step 2 must close
    the triangle (class-0 candidate beats any hash), and a degree-1 dead
    end still backtracks (class 2 chosen when it is the only move)."""
    from elektra_spark.operators.walks import biased_walks

    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (10, 11)]
    edges = edges_from_pairs(spark, pairs)
    sdf = spark.createDataFrame([(0,), (10,)], "vid long")
    got = {(r["walk_id"], r["step"]): r["vid"]
           for r in biased_walks(edges, sdf, walk_length=2).collect()}
    first = got[(0, 1)]
    assert first in (1, 2)
    # from (prev=0, v=first) the other triangle vertex is prev-adjacent
    # (class 0); backtrack to 0 is class 2; for v=2 the tail vertex 3 is
    # class 1 — the triangle edge must win regardless of hash values
    assert got[(0, 2)] == (2 if first == 1 else 1)
    assert got[(10, 1)] == 11 and got[(10, 2)] == 10  # forced backtrack


def _mis_oracle(pairs, verts, max_rounds=64):
    nbr = {v: set() for v in verts}
    for a, b in pairs:
        nbr[a].add(b)
        nbr[b].add(a)
    undecided = set(verts)
    mis = set()
    for rnd in range(1, max_rounds + 1):
        if not undecided:
            break
        pri = {v: (_walk_hash(0, rnd, v), v) for v in undecided}
        winners = {v for v in undecided
                   if all(pri[v] < pri[u] for u in nbr[v] if u in undecided)}
        mis |= winners
        undecided -= winners | {u for w in winners for u in nbr[w]}
    assert not undecided
    return mis


@pytest.mark.parametrize("pairs", [HOUSE, CLIQUE5_PLUS_PATH,
                                   [(i, i + 1) for i in range(40)],  # path: adversarial for fixed priorities
                                   _random_graph(67, 60, 150)],
                         ids=["house", "clique5path", "path40", "random"])
def test_maximal_independent_set(spark, pairs):
    from elektra_spark.operators.walks import maximal_independent_set

    edges = edges_from_pairs(spark, pairs)
    got = {r["vid"] for r in maximal_independent_set(edges).collect() if r["in_mis"]}
    want = _mis_oracle(pairs, sorted({v for e in pairs for v in e}))
    assert got == want
    # independence + maximality (the two defining properties), re-checked
    # directly so the test does not only trust the oracle replica
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    assert all(not (nbr[v] & got) for v in got)
    assert all(v in got or (nbr[v] & got) for v in nbr)


def test_mis_oracle_unroll_depth_converges():
    """The contract twin unrolls MIS_SQL_ROUNDS Luby rounds; assert the
    sf0.01 copurchase instance retires every vertex within that budget
    (rounds past the empty undecided set are no-ops)."""
    import os

    import duckdb

    sf_dir = os.environ.get("ELEKTRA_SF_DIR", "/root/testdata/sf0.01")
    li = f"{sf_dir}/lineitem.parquet"
    if not os.path.exists(li):
        pytest.skip(f"no contract-scale data at {sf_dir}")
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
    con.execute(f"CREATE TABLE e AS {entry._COPURCHASE_SQL}")
    con.execute("CREATE TABLE b AS SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e")
    con.execute("CREATE TABLE u AS SELECT DISTINCT src AS vid FROM b")
    rounds = 0
    while con.sql("SELECT count(*) FROM u").fetchone()[0] > 0:
        rounds += 1
        assert rounds <= entry.MIS_SQL_ROUNDS, (
            f"MIS oracle unroll depth {entry.MIS_SQL_ROUNDS} < Luby depth at {sf_dir}"
        )
        h = entry._walk_hash_sql("0", rounds, "vid")
        con.execute(f"CREATE OR REPLACE TABLE p AS SELECT vid, {h} AS h FROM u")
        con.execute(
            """CREATE OR REPLACE TABLE w AS
               SELECT p.vid FROM p LEFT JOIN (
                 SELECT vid, hd, nvid FROM (
                   SELECT ps.vid, pd.h AS hd, b.dst AS nvid,
                          row_number() OVER (PARTITION BY ps.vid ORDER BY pd.h, b.dst) AS rn
                   FROM b JOIN p ps ON b.src = ps.vid JOIN p pd ON b.dst = pd.vid) WHERE rn = 1
               ) n USING (vid)
               WHERE n.vid IS NULL OR (p.h, p.vid) < (n.hd, n.nvid)"""
        )
        con.execute(
            """CREATE OR REPLACE TABLE u AS SELECT u.vid FROM u
               WHERE u.vid NOT IN (SELECT vid FROM w)
                 AND u.vid NOT IN (SELECT b.dst FROM b JOIN w ON b.src = w.vid)"""
        )


def _diameter_oracle(pairs, max_hops):
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)

    def bfs(s):
        dist = {s: 0}
        frontier = [s]
        for step in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in nbr[u]:
                    if v not in dist:
                        dist[v] = step
                        nxt.append(v)
            frontier = nxt
        return dist

    start = min(nbr)
    d1 = bfs(start)
    far1 = min(d1, key=lambda v: (-d1[v], v))
    d2 = bfs(far1)
    far2 = min(d2, key=lambda v: (-d2[v], v))
    return (start, far1, d1[far1], far2, d2[far2])


@pytest.mark.parametrize("pairs,hops",
                         [(HOUSE, 10), ([(i, i + 1) for i in range(30)], 40),
                          ([(i, i + 1) for i in range(30)], 8),  # bound below true ecc
                          (_random_graph(71, 60, 120), 20)],
                         ids=["house", "path", "capped", "random"])
def test_pseudo_diameter(spark, pairs, hops):
    from elektra_spark.operators.bfs import pseudo_diameter

    edges = edges_from_pairs(spark, pairs)
    row = pseudo_diameter(edges, max_hops=hops).collect()[0]
    want = _diameter_oracle(pairs, hops)
    assert (row["start"], row["far1"], row["ecc_start"], row["far2"], row["pseudo_diameter"]) == want
    # on a path the double sweep is exact: pseudo-diameter == true diameter
    if pairs == [(i, i + 1) for i in range(30)] and hops >= 30:
        assert row["pseudo_diameter"] == 30


def _eigen_oracle(pairs, verts, n_iter):
    """Undirected L1-normalized power iteration."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    x = {v: 1.0 / len(verts) for v in verts}
    for _ in range(n_iter):
        raw = {v: sum(x[u] for u in adj.get(v, ())) for v in verts}
        tot = sum(raw.values()) or 1.0
        x = {v: raw[v] / tot for v in verts}
    return x


def test_eigenvector_matches_oracle(spark):
    from elektra_spark.operators.eigenvector import eigenvector_centrality

    pairs = _random_graph(31, 50, 110)
    verts = sorted({v for e in pairs for v in e} | {999})  # 999 isolated → 0
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    rows = eigenvector_centrality(edges, vertices=vdf, n_iter=6).collect()
    want = _eigen_oracle(pairs, [v for v in verts if v != 999], 6)
    want[999] = 0.0
    assert len(rows) == len(verts)
    for r in rows:
        assert abs(r["score"] - want[r["vid"]]) < 1e-9
    assert abs(sum(r["score"] for r in rows) - 1.0) < 1e-9


def test_betweenness_no_vertices_covers_deepest_level(spark):
    """Without `vertices`, every vertex reached at depth ≥ 1 gets a row —
    including the deepest level's zero-delta vertices."""
    from elektra_spark.operators.betweenness import betweenness

    edges = edges_from_pairs(spark, [(0, 1), (1, 2)])  # path 0-1-2
    got = {r["vid"]: r["bc"] for r in betweenness(edges, [0], max_hops=2).collect()}
    assert set(got) == {1, 2}  # source 0 excluded, deepest vertex 2 present
    assert got[1] == 1.0 and got[2] == 0.0


def _c4_trace_oracle(pairs):
    """Independent method: dense numpy A^4 trace identity."""
    import numpy as np

    verts = sorted({v for e in pairs for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    A = np.zeros((len(verts), len(verts)), dtype=np.int64)
    for a, b in pairs:
        A[idx[a], idx[b]] = A[idx[b], idx[a]] = 1
    deg = A.sum(axis=1)
    tr4 = np.trace(np.linalg.matrix_power(A, 4))
    return int((tr4 - 2 * (deg**2).sum() + 2 * len(pairs)) // 8)


@pytest.mark.parametrize(
    "pairs,want",
    [
        ([(0, 1), (1, 2), (2, 3), (3, 0)], 1),  # C4 itself
        ([(a, b) for a in range(4) for b in range(a + 1, 4)], 3),  # K4: 3 rectangles
        (HOUSE, None),
        (_random_graph(37, 40, 120), None),
    ],
    ids=["c4", "k4", "house", "random"],
)
def test_four_cycle_count(spark, pairs, want):
    from elektra_spark.operators.triangles import four_cycle_count

    edges = edges_from_pairs(spark, pairs)
    got = four_cycle_count(edges).collect()[0]["n_four_cycles"]
    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    assert got == _c4_trace_oracle(canon)
    if want is not None:
        assert got == want


def test_closeness_matches_oracle(spark):
    from elektra_spark.operators.bfs import closeness_centrality

    pairs = _random_graph(41, 40, 70) + [(100, 101)]  # extra far component
    landmarks = [0, 1, 2]
    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    verts = sorted({v for e in canon for v in e} | set(landmarks))
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    got = {r["vid"]: r["closeness"] for r in
           closeness_centrality(edges, landmarks, vertices=vdf, max_hops=6).collect()}
    want = {}
    for v in verts:
        ds = [_bfs_oracle(canon, [l], 6).get(v, -1) for l in landmarks]
        ds = [d for d in ds if d > 0]
        want[v] = round(len(ds) / sum(ds), 6) if ds else 0.0
    assert got == want
    assert got[100] == 0.0  # unreached component scores 0


def test_project_bipartite_weights_and_guards(spark):
    from elektra_spark.operators.projection import project_bipartite

    rel = [
        (1, 10), (1, 11), (1, 12),           # group 1 → 3 pairs, weight 1 each
        (2, 10), (2, 11),                    # (10,11) again → weight 2
        (3, 10), (3, 11), (3, 12), (3, 13),  # size 4 → dropped by cap 3
        (4, 20), (4, 20),                    # duplicate membership collapses
    ]
    df = spark.createDataFrame(rel, "src long, dst long")
    got = {(r["src"], r["dst"]): r["weight"]
           for r in project_bipartite(df, max_group_size=3).collect()}
    assert got == {(10, 11): 2, (10, 12): 1, (11, 12): 1}
    # min_weight filter
    got2 = {(r["src"], r["dst"]): r["weight"]
            for r in project_bipartite(df, min_weight=2, max_group_size=3).collect()}
    assert got2 == {(10, 11): 2}
    # no cap → group 3's pairs appear
    got3 = {(r["src"], r["dst"]): r["weight"] for r in project_bipartite(df).collect()}
    assert got3[(10, 13)] == 1 and got3[(10, 11)] == 3


def test_conductance_matches_hand_computation(spark):
    from elektra_spark.operators.lpa import conductance

    # two triangles joined by one bridge edge; m = 7
    pairs = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    labels = [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)]
    edges = edges_from_pairs(spark, pairs)
    lab = spark.createDataFrame(labels, "vid long, label long")
    got = {r["label"]: (r["cut_edges"], r["volume"], r["conductance"])
           for r in conductance(edges, lab).collect()}
    # each community: cut 1 (the bridge), volume 7, min(7, 14-7)=7 → 1/7
    assert got == {0: (1, 7, round(1 / 7, 6)), 1: (1, 7, round(1 / 7, 6))}
    # whole graph one community → cut 0, denom 0 → 0.0
    one = spark.createDataFrame([(v, 9) for v in range(6)], "vid long, label long")
    got1 = conductance(edges, one).collect()
    assert len(got1) == 1 and got1[0]["conductance"] == 0.0 and got1[0]["cut_edges"] == 0


def _salsa_oracle(pairs, verts, n_iter):
    """Directed L1-normalized SALSA iteration (pairs are src→dst): each
    spread divides by the sending endpoint's out-(in-)degree."""
    od, idg = {}, {}
    for a, b in pairs:
        od[a] = od.get(a, 0) + 1
        idg[b] = idg.get(b, 0) + 1
    hub = {v: 1.0 / len(verts) for v in verts}
    auth = {v: 0.0 for v in verts}
    for _ in range(n_iter):
        raw = {}
        for a, b in pairs:
            raw[b] = raw.get(b, 0.0) + hub[a] / od[a]
        tot = sum(raw.values()) or 1.0
        auth = {v: raw.get(v, 0.0) / tot for v in verts}
        raw = {}
        for a, b in pairs:
            raw[a] = raw.get(a, 0.0) + auth[b] / idg[b]
        tot = sum(raw.values()) or 1.0
        hub = {v: raw.get(v, 0.0) / tot for v in verts}
    return hub, auth


def test_salsa_matches_oracle(spark):
    from elektra_spark.operators.salsa import salsa

    pairs = _random_graph(29, 50, 110)
    verts = sorted({v for e in pairs for v in e})
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    rows = salsa(edges, vertices=vdf, n_iter=6).collect()
    hub_o, auth_o = _salsa_oracle(pairs, verts, 6)
    for r in rows:
        assert abs(r["hub"] - hub_o[r["vid"]]) < 1e-9
        assert abs(r["auth"] - auth_o[r["vid"]]) < 1e-9
    assert abs(sum(r["hub"] for r in rows) - 1.0) < 1e-9


def test_salsa_degree_normalization_vs_hits(spark):
    """The defining SALSA property: two hubs pointing at disjoint authority
    sets get EQUAL hub scores regardless of fanout (each spreads one unit of
    walk mass), where HITS would weight the bigger-fanout hub higher."""
    from elektra_spark.operators.hits import hits
    from elektra_spark.operators.salsa import salsa

    # hub 0 → 5 authorities, hub 1 → 2 authorities, disjoint
    pairs = [(0, i) for i in range(10, 15)] + [(1, i) for i in range(20, 22)]
    edges = edges_from_pairs(spark, pairs)
    s = {r["vid"]: r["hub"] for r in salsa(edges, n_iter=8).collect()}
    h = {r["vid"]: r["hub"] for r in hits(edges, n_iter=8).collect()}
    assert abs(s[0] - s[1]) < 1e-9      # SALSA: fanout-independent
    assert h[0] > h[1] + 1e-6           # HITS: fanout-weighted


# ------------------------------------------------------------------ hyperball
def _exact_balls(pairs, verts, hops):
    """Exact |B(v, h)| per vertex per hop by BFS — the accuracy yardstick."""
    adj = {v: set() for v in verts}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for v in verts:
        seen, frontier = {v}, {v}
        out[(v, 0)] = 1
        for h in range(1, hops + 1):
            frontier = {u for f in frontier for u in adj[f]} - seen
            seen |= frontier
            out[(v, h)] = len(seen)
    return out


def test_hyperball_accuracy_and_monotonicity(spark):
    """HyperBall estimates track exact ball sizes: per-hop AGGREGATE
    neighborhood function within the m=64 HLL error band (~13% stderr →
    assert 25%), per-vertex estimates non-decreasing in hop, and hop-0
    estimates ≈ 1 (a fresh counter holds exactly one element)."""
    from elektra_spark.operators.anf import hyperball

    pairs = _random_graph(37, 300, 900)
    verts = sorted({v for e in pairs for v in e})
    hops = 4
    rows = hyperball(edges_from_pairs(spark, pairs), hops=hops).collect()
    est = {(r["vid"], r["hop"]): r["ball_est"] for r in rows}
    exact = _exact_balls(pairs, verts, hops)
    assert len(rows) == len(verts) * (hops + 1)
    for v in verts:
        assert abs(est[(v, 0)] - 1.0) < 0.1
        for h in range(1, hops + 1):
            assert est[(v, h)] >= est[(v, h - 1)] - 1e-9, "ball estimates must be monotone"
    for h in range(1, hops + 1):
        tot_e = sum(est[(v, h)] for v in verts)
        tot_x = sum(exact[(v, h)] for v in verts)
        assert abs(tot_e - tot_x) / tot_x < 0.25, (h, tot_e, tot_x)


def test_hyperball_contract_depth():
    """ANF_HOPS covers the contract graph: the register multiset reaches its
    fixpoint AT hop ANF_HOPS (the last unrolled hop is the first no-op — the
    depth is sufficient, with no wasted rounds in the twin)."""
    import os

    import duckdb

    import __spark_entry__ as entry

    sf_dir = os.environ.get("ELEKTRA_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.exists(f"{sf_dir}/lineitem.parquet"):
        pytest.skip(f"no contract-scale data at {sf_dir}")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
    )
    # probe off the shared CTE chain directly — string-surgery on the final
    # SELECT of _hyperball_sql() silently no-opped when its text changed,
    # turning this test into a flaky first-row comparison
    ctes = entry._hyperball_ctes()
    h = entry.ANF_HOPS

    def diff(a: int, b: int) -> int:
        return con.execute(
            ctes + f"\n  SELECT count(*) FROM (SELECT * FROM r{a} EXCEPT SELECT * FROM r{b}) q"
        ).fetchone()[0]

    same_last = diff(h, h - 1)
    assert same_last == 0, f"registers still changing at hop {h}; raise ANF_HOPS"
    moved = diff(h - 1, h - 2)
    assert moved > 0, f"fixpoint already at hop {h - 2}; ANF_HOPS wastes twin rounds"


def test_hyperball_rejects_bad_m(spark):
    from elektra_spark.operators.anf import hyperball

    edges = edges_from_pairs(spark, HOUSE)
    with pytest.raises(ValueError):
        hyperball(edges, m=48)
    with pytest.raises(ValueError):
        hyperball(edges, m=512)


# ---------------------------------------------------------------- widest path
def _widest_oracle(pairs, seeds, max_hops, w):
    from elektra_spark.operators.bfs import WIDEST_SOURCE_W

    verts = sorted({v for e in pairs for v in e} | set(seeds))
    width = {v: WIDEST_SOURCE_W for v in seeds}
    for _ in range(max_hops):
        nxt = dict(width)
        for a, b in pairs:
            for u, v in ((a, b), (b, a)):
                if u in width and min(width[u], w(a, b)) > nxt.get(v, -1):
                    nxt[v] = min(width[u], w(a, b))
        if nxt == width:
            break
        width = nxt
    return {v: width.get(v, -1) for v in verts}


@pytest.mark.parametrize(
    "pairs,seeds,max_hops",
    [(HOUSE, [0], 8), (CLIQUE5_PLUS_PATH + [(10, 11)], [0], 8),
     (CLIQUE5_PLUS_PATH, [0, 7], 2), (_random_graph(43, 70, 120), [0, 1], 6)],
    ids=["house", "disconnected", "bounded", "random"],
)
def test_widest_path_matches_oracle(spark, pairs, seeds, max_hops):
    from elektra_spark.operators.bfs import widest_path

    edges = edges_from_pairs(spark, pairs)
    verts = sorted({v for e in pairs for v in e} | set(seeds))
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    got = {r["vid"]: r["width"] for r in
           widest_path(edges, seeds, vertices=vdf, max_hops=max_hops).collect()}
    assert got == _widest_oracle(pairs, seeds, max_hops, lambda a, b: 1 + (a + b) % 5)


def test_widest_path_prefers_bottleneck_over_length(spark):
    """Defining property: a longer path with fatter edges beats a short
    thin one. 0-1 direct weight w(0,1)=1+(0+1)%5=2; detour 0-4-9-1 has
    weights w(0,4)=5, w(4,9)=4, w(9,1)=1+10%5=1 — pick vids so the detour
    bottleneck exceeds the direct edge."""
    from elektra_spark.operators.bfs import widest_path

    # w(a,b) = 1+(a+b)%5: direct 0-6 → 2; detour 0-4 (5), 4-10 (5) , 10-6 → 1+16%5=2
    # choose: 0-6 direct w=2 ; 0-9 w=5, 9-10 w=5, 10-6 w=2 → bottleneck 2 (tie)
    # simplest decisive case: 0-1 (w=2) vs 0-4 (w=5) → 4-5 (w=5) → 5-1 (w=2): still 2.
    # use explicit weight column instead
    rows = [(0, 1, 1), (0, 2, 9), (2, 3, 9), (3, 1, 8)]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {r["vid"]: r["width"] for r in widest_path(df, [0], weight="w").collect()}
    assert got[1] == 8  # via the fat detour, not the direct w=1 edge


def test_partition_advisor_range_beats_hash_on_chains(spark):
    """On a pure chain graph with dense contiguous vids, range layout cuts
    exactly P-1-ish boundary edges while hash cuts ~1 - 1/P of all edges —
    the quantitative claim behind the engine's dense-vid derivation."""
    from elektra_spark.operators.partition_advisor import edge_cut_advisor

    n = 1024
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = {(r["strategy"], r["p"]): r for r in edge_cut_advisor(edges, n, [8, 32]).collect()}
    assert len(out) == 4
    for p in (8, 32):
        rng, hsh = out[("range", p)], out[("hash", p)]
        assert rng["n_edges"] == n - 1 and hsh["n_edges"] == n - 1
        # contiguous blocks: only edges straddling a block boundary are cut
        assert rng["cut_edges"] == p - 1
        # uniform hash: expected cut 1 - 1/p; allow wide slack, require the gap
        assert hsh["cut_frac"] > 0.5
        assert rng["cut_frac"] < 0.05 < hsh["cut_frac"]


def test_partition_advisor_rejects_bad_args(spark):
    from elektra_spark.operators.partition_advisor import edge_cut_advisor

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        edge_cut_advisor(edges, 0, [8])
    with pytest.raises(ValueError):
        edge_cut_advisor(edges, 2, [])
    with pytest.raises(ValueError):
        edge_cut_advisor(edges, 2, [0])


def test_maximal_matching_disjoint_and_maximal(spark):
    """Structural contract on a mixed instance (chain + star + clique + an
    isolated edge): matched edges are vertex-disjoint, and no alive edge
    remains — every unmatched edge touches a matched vertex."""
    from elektra_spark.operators.matching import maximal_matching

    chain = [(i, i + 1) for i in range(20)]
    star = [(100, 100 + i) for i in range(1, 8)]
    clique = [(a, b) for a in range(200, 206) for b in range(a + 1, 206)]
    extra = [(300, 301)]
    edges = spark.createDataFrame(chain + star + clique + extra, "src long, dst long")
    got = [(r["src"], r["dst"]) for r in maximal_matching(edges).collect()]

    used = [v for e in got for v in e]
    assert len(used) == len(set(used))  # vertex-disjoint
    matched_v = set(used)
    for u, v in chain + star + clique + extra:
        assert u in matched_v or v in matched_v, (u, v)  # maximal
    assert (300, 301) in got  # isolated edge always matches


def test_maximal_matching_chain_round_depth(spark):
    """The md5 priority keeps rounds logarithmic on the adversarial case —
    a long (v, v+1) reply chain, where a linear-in-vid hash is locally
    monotone and would peel one edge per run per round."""
    from elektra_spark.operators.matching import maximal_matching

    rounds = []
    chain = spark.createDataFrame([(i, i + 1) for i in range(512)], "src long, dst long")
    out = maximal_matching(
        chain, on_superstep=lambda r, n, s: rounds.append((r, n))
    ).collect()
    assert len(out) >= 512 // 3  # a maximal matching on a path is >= m/3... loose floor
    assert len(rounds) <= 12, rounds  # ~log-round convergence, not O(n)


def test_matching_contract_depth():
    """MATCHING_SQL_ROUNDS covers the contract instance: alive empties at
    round MATCHING_SQL_ROUNDS - 1 (the spare unrolled round is the first
    no-op), and was still non-empty the round before."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry._matching_sql()
    ctes = sql[: sql.rfind("\n  SELECT src, dst FROM (")]
    con = duckdb.connect()
    h = entry.MATCHING_SQL_ROUNDS

    def alive(r: int) -> int:
        return con.execute(ctes + f"\n  SELECT count(*) FROM a{r}").fetchone()[0]

    assert alive(h - 1) == 0, f"alive still non-empty at round {h - 1}; raise MATCHING_SQL_ROUNDS"
    assert alive(h - 2) > 0, f"fixpoint before round {h - 2}; MATCHING_SQL_ROUNDS wastes twin rounds"


def test_msf_contract_depth():
    """MSF_SQL_ROUNDS covers the contract instance: the per-round selected
    set empties at round MSF_SQL_ROUNDS (the first no-op) and was still
    non-empty the round before."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry._msf_sql()
    ctes = sql[: sql.rfind("\n  SELECT DISTINCT src, dst, w FROM (")]
    con = duckdb.connect()
    h = entry.MSF_SQL_ROUNDS

    def selected(r: int) -> int:
        return con.execute(ctes + f"\n  SELECT count(*) FROM sel{r}").fetchone()[0]

    assert selected(h) == 0, f"still selecting at round {h}; raise MSF_SQL_ROUNDS"
    assert selected(h - 1) > 0, f"fixpoint before round {h - 1}; MSF_SQL_ROUNDS wastes twin rounds"


def test_msf_matches_kruskal(spark):
    """minimum_spanning_forest equals a sequential Kruskal sweep (UnionFind
    oracle) on a mixed random instance — exact edge set, plus the forest
    invariants (acyclic, spans, |F| = n − #components)."""
    import numpy as np

    from elektra_spark.operators.forest import minimum_spanning_forest
    from tests.oracles import UnionFind

    rng = np.random.RandomState(7)
    n = 400
    # two clusters + isolated vertices; duplicate-free canonical edges
    raw = set()
    for _ in range(1200):
        a, b = int(rng.randint(0, n // 2)), int(rng.randint(0, n // 2))
        if a != b:
            raw.add((min(a, b), max(a, b)))
    for _ in range(300):
        a, b = int(rng.randint(n // 2, n - 20)), int(rng.randint(n // 2, n - 20))
        if a != b:
            raw.add((min(a, b), max(a, b)))
    edges = [(s, d, int(rng.randint(0, 50))) for s, d in sorted(raw)]  # ties on purpose

    # Kruskal under the same total (w, src, dst) order
    uf = UnionFind(range(n))
    expected = {(s, d, w) for w, s, d in sorted((w, s, d) for s, d, w in edges) if uf.union(s, d)}

    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {(r.src, r.dst, r.w) for r in minimum_spanning_forest(df, num_partitions=8).collect()}
    assert got == expected


def test_single_linkage_equivalence(spark):
    """Kruskal/single-linkage equivalence on a random weighted instance:
    CC over (MSF edges with w ≤ τ) equals CC over (ALL edges with w ≤ τ),
    for several τ cuts of the same cached forest."""
    import numpy as np

    from elektra_spark.operators.cc import connected_components
    from elektra_spark.operators.forest import minimum_spanning_forest

    rng = np.random.RandomState(11)
    n = 300
    raw = {(min(a, b), max(a, b)) for a, b in rng.randint(0, n, size=(900, 2)) if a != b}
    edges = [(int(s), int(d), int(rng.randint(0, 1000))) for s, d in sorted(raw)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "vid long")
    msf = minimum_spanning_forest(df, num_partitions=8).cache()
    for tau in (150, 500, 900):
        via_msf = {
            (r.vid, r.component)
            for r in connected_components(
                msf.filter(F.col("w") <= tau).select("src", "dst"), vertices=verts
            ).collect()
        }
        direct = {
            (r.vid, r.component)
            for r in connected_components(
                df.filter(F.col("w") <= tau).select("src", "dst"), vertices=verts
            ).collect()
        }
        assert via_msf == direct, f"single-linkage mismatch at tau={tau}"


def test_temporal_earliest_arrival(spark):
    """Time-respecting semantics: a path may only use non-decreasing edge
    times, so a structurally reachable vertex behind a time-INVERTED edge
    pair stays unreached; earliest arrival is the min over admissible
    paths, not the min over all paths."""
    from elektra_spark.operators.temporal import earliest_arrival

    #  0 -(t=10)-> 1 -(t=20)-> 2      : reachable, arrival 20
    #  0 -(t=30)-> 3 -(t=5)->  4      : 4 blocked (5 < 30)
    #  0 -(t=50)-> 2                  : worse arrival for 2, must lose to 20
    #  5 isolated                      : -1
    te = spark.createDataFrame(
        [(0, 1, 10), (1, 2, 20), (0, 3, 30), (3, 4, 5), (0, 2, 50)],
        "src long, dst long, t long",
    )
    verts = spark.createDataFrame([(i,) for i in range(6)], "vid long")
    got = {r.vid: r.arrival for r in earliest_arrival(te, [0], vertices=verts, max_hops=4).collect()}
    assert got == {0: 0, 1: 10, 2: 20, 3: 30, 4: -1, 5: -1}

    # hop bound is contractual: with max_hops=1 vertex 2 only gets the
    # direct t=50 edge
    got1 = {r.vid: r.arrival for r in earliest_arrival(te, [0], vertices=verts, max_hops=1).collect()}
    assert got1[2] == 50 and got1[1] == 10


def test_temporal_latest_departure(spark):
    """Reverse-and-negate reduction: departure(v) is the max FIRST-edge time
    over time-respecting paths into the target set; a time-inverted pair
    blocks, targets are excluded from the output."""
    from elektra_spark.operators.temporal import latest_departure

    #  0 -(10)-> 1 -(20)-> 2 (target): leave 0 by 10, leave 1 by 20
    #  3 -(30)-> 4 -(5)-> 2 (target): 3 blocked (5 < 30); 4 leaves at 5
    #  0 -(7)->  2 direct: departure(0) = max(10, 7) = 10
    te = spark.createDataFrame(
        [(0, 1, 10), (1, 2, 20), (3, 4, 30), (4, 2, 5), (0, 2, 7)],
        "src long, dst long, t long",
    )
    verts = spark.createDataFrame([(i,) for i in range(5)], "vid long")
    got = {r.vid: r.departure for r in latest_departure(te, [2], vertices=verts, max_hops=4).collect()}
    assert got == {0: 10, 1: 20, 3: -1, 4: 5}


def test_coloring_valid_and_greedy(spark):
    """JP coloring: proper (no monochrome edge) on a mixed instance; a
    K5 clique uses exactly 5 colors; a star uses 2; isolated vertices get
    color 0."""
    from elektra_spark.operators.coloring import greedy_coloring

    chain = [(i, i + 1) for i in range(30)]
    star = [(100, 100 + i) for i in range(1, 9)]
    k5 = [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]
    edges = spark.createDataFrame(chain + star + k5, "src long, dst long")
    verts = spark.createDataFrame([(v,) for v in
        list(range(31)) + [100 + i for i in range(9)] + list(range(200, 205)) + [999]
    ], "vid long")
    col = {r["vid"]: r["color"] for r in greedy_coloring(edges, vertices=verts).collect()}
    assert len(col) == 31 + 9 + 5 + 1
    for u, v in chain + star + k5:
        assert col[u] != col[v], (u, v)
    assert sorted({col[v] for v in range(200, 205)}) == [0, 1, 2, 3, 4]
    assert len({col[100 + i] for i in range(9)}) == 2
    assert col[999] == 0


def test_coloring_deterministic_across_runs(spark):
    from elektra_spark.operators.coloring import greedy_coloring

    edges = spark.createDataFrame([(i, (i * 7) % 40) for i in range(40) if i != (i * 7) % 40],
                                  "src long, dst long")
    a = sorted((r["vid"], r["color"]) for r in greedy_coloring(edges).collect())
    b = sorted((r["vid"], r["color"]) for r in greedy_coloring(edges).collect())
    assert a == b


def test_coloring_contract_depth():
    """COLORING_SQL_ROUNDS covers the contract instance: uncolored empties
    at round COLORING_SQL_ROUNDS - 1 (the spare round is the first no-op)."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry._coloring_sql()
    ctes = sql[: sql.rfind("\n  SELECT vid, color FROM col")]
    con = duckdb.connect()
    h = entry.COLORING_SQL_ROUNDS

    def uncolored(r: int) -> int:
        return con.execute(ctes + f"\n  SELECT count(*) FROM u{r}").fetchone()[0]

    assert uncolored(h - 1) == 0, f"still uncolored at round {h - 1}; raise COLORING_SQL_ROUNDS"
    assert uncolored(h - 2) > 0, f"fixpoint before round {h - 2}; COLORING_SQL_ROUNDS wastes twin rounds"


# ---------------------------------------------------------------- motif census

# arcs over {0,1,2}: mutual 0<->1, cycle 0->1->2->0, shortcut 0->2.
# By hand: reciprocal arcs = {01, 10, 20, 02} (the shortcut pairs with the
# cycle's closing arc); one directed 3-cycle (0,1,2);
# transitive triples (i->j, j->k, i->k): (0,1,2), (1,0,2), (1,2,0).
MOTIF_TOY = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2)]


def _digraph(spark, arcs):
    df = spark.createDataFrame([(int(a), int(b)) for a, b in arcs], "src long, dst long")
    return df.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _motif_oracle(arcs):
    """Brute-force census over the distinct self-loop-free arc set."""
    a = {(u, v) for u, v in arcs if u != v}
    rec = sum(1 for (u, v) in a if (v, u) in a)
    cyc = sum(1 for (i, j) in a for k in range(max(max(p) for p in a) + 1)
              if (j, k) in a and (k, i) in a and i != k) // 3
    ffl = sum(1 for (i, j) in a for k in range(max(max(p) for p in a) + 1)
              if (j, k) in a and (i, k) in a and i != k)
    return len(a), rec, cyc, ffl


def test_motif_census_toy(spark):
    from elektra_spark.operators.motifs import motif_census

    row = motif_census(_digraph(spark, MOTIF_TOY)).collect()[0]
    assert (row["n_arcs"], row["n_reciprocal_arcs"]) == (5, 4)
    assert row["reciprocity"] == pytest.approx(0.8, abs=1e-9)
    assert (row["n_cyclic_triangles"], row["n_transitive_triangles"]) == (1, 3)


def _random_digraph(seed, n, m):
    rng = random.Random(seed)
    return list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


@pytest.mark.parametrize("seed,n,m", [(7, 12, 60), (11, 25, 180)], ids=["dense12", "sparse25"])
def test_motif_census_matches_bruteforce(spark, seed, n, m):
    from elektra_spark.operators.motifs import motif_census

    arcs = [(a, b) for a, b in _random_digraph(seed, n, m) if a != b]
    row = motif_census(_digraph(spark, arcs)).collect()[0]
    na, rec, cyc, ffl = _motif_oracle(arcs)
    assert row["n_arcs"] == na
    assert row["n_reciprocal_arcs"] == rec
    assert row["n_cyclic_triangles"] == cyc
    assert row["n_transitive_triangles"] == ffl


def test_motif_census_acyclic_graph(spark):
    """A DAG (chain + shortcuts) has zero cycles and zero reciprocity but
    real feed-forward triangles — the degenerate fields stay exact."""
    from elektra_spark.operators.motifs import motif_census

    arcs = [(i, i + 1) for i in range(6)] + [(0, 2), (2, 4)]
    row = motif_census(_digraph(spark, arcs)).collect()[0]
    assert row["n_reciprocal_arcs"] == 0 and row["reciprocity"] == 0.0
    assert row["n_cyclic_triangles"] == 0
    assert row["n_transitive_triangles"] == 2  # (0,1,2) and (2,3,4)


# ------------------------------------------------------- influence spread (IC)

def test_influence_p1000_is_directed_bfs(spark):
    """At p=1000 every arc is live, so the cascade is exact directed BFS:
    chain 0->1->2->3 from seed 0 under a 2-round horizon activates one
    vertex per round and never reaches 3."""
    from elektra_spark.operators.influence import influence_spread

    arcs = _digraph(spark, [(0, 1), (1, 2), (2, 3)])
    got = {r["round"]: r["n_activated"]
           for r in influence_spread(arcs, [0], p_permille=1000, max_rounds=2).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_influence_respects_direction(spark):
    from elektra_spark.operators.influence import influence_spread

    arcs = _digraph(spark, [(0, 1), (1, 2)])
    got = {r["round"]: r["n_activated"]
           for r in influence_spread(arcs, [2], p_permille=1000, max_rounds=4).collect()}
    assert got == {0: 1}  # nothing flows against the arcs


def test_influence_monotone_in_p_and_deterministic(spark):
    """live(p1) is a subset of live(p2) for p1 < p2 under the shared coin,
    so total activation is monotone in p; the same draw is reproducible
    across calls and partitionings."""
    from elektra_spark.operators.influence import influence_spread, live_arcs

    arcs = _digraph(spark, _random_digraph(3, 40, 300))
    totals = {}
    for p in (200, 600, 1000):
        rows = influence_spread(arcs, [0, 7, 21], p_permille=p, max_rounds=6).collect()
        totals[p] = sum(r["n_activated"] for r in rows)
    assert totals[200] <= totals[600] <= totals[1000]

    a = sorted(map(tuple, live_arcs(arcs, 600).collect()))
    b = sorted(map(tuple, live_arcs(arcs.repartition(7), 600).collect()))
    assert a == b and 0 < len(a) < arcs.count()


def test_influence_salt_varies_draw(spark):
    from elektra_spark.operators.influence import live_arcs

    arcs = _digraph(spark, _random_digraph(9, 40, 300))
    a = set(map(tuple, live_arcs(arcs, 500, salt=0).collect()))
    b = set(map(tuple, live_arcs(arcs, 500, salt=1).collect()))
    assert a != b  # independent Monte-Carlo draws


def test_influence_rejects_bad_p(spark):
    from elektra_spark.operators.influence import live_arcs

    arcs = _digraph(spark, [(0, 1)])
    with pytest.raises(ValueError):
        live_arcs(arcs, 0)
    with pytest.raises(ValueError):
        live_arcs(arcs, 1001)


# ----------------------------------------------------- 1-WL refinement

def _wl_oracle(pairs, init, rounds):
    """Independent python 1-WL: md5(color || '|' || sorted ','-joined
    neighbor colors) per round — the same contract wl.py promises."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    colors = {v: md5(str(c)) for v, c in init.items()}
    for _ in range(rounds):
        colors = {
            v: md5(colors[v] + "|" + ",".join(sorted(colors[n] for n in adj.get(v, ()))))
            for v in colors
        }
    return colors


def test_wl_colors_match_python_oracle(spark):
    from elektra_spark.operators.wl import wl_colors

    pairs = _random_graph(7, 40, 90)
    vids = sorted({v for e in pairs for v in e})
    init = {v: f"c{v % 3}" for v in vids}
    edges = edges_from_pairs(spark, pairs)
    verts = spark.createDataFrame([(v, init[v]) for v in vids], "vid long, color string")
    got = {r["vid"]: r["color"] for r in wl_colors(edges, verts, rounds=3).collect()}
    assert got == _wl_oracle(pairs, init, 3)


def test_wl_sum_mode_refines_path_vs_star(spark):
    """agg='sum' still separates a path-of-4 center from a star-of-4 center
    (same degree multiset at distance 0/1 for leaves, different at round 2)."""
    from elektra_spark.operators.wl import wl_colors

    path = [(0, 1), (1, 2), (2, 3)]
    star = [(10, 11), (10, 12), (10, 13)]
    edges = edges_from_pairs(spark, path + star)
    vids = [0, 1, 2, 3, 10, 11, 12, 13]
    verts = spark.createDataFrame([(v, "x") for v in vids], "vid long, color string")
    got = {r["vid"]: r["color"] for r in wl_colors(edges, verts, rounds=2, agg="sum").collect()}
    # path interior vertices (1,2) must differ from the star center (10)
    assert got[1] != got[10] and got[2] != got[10]
    # star leaves are mutually structurally identical
    assert got[11] == got[12] == got[13]
    # path endpoints are a symmetric pair
    assert got[0] == got[3]


def test_structure_fingerprint_groups_identical_shapes(spark):
    """Conversations with the same (role, tool) sequence share a fingerprint
    even with different texts/timestamps; any structural edit separates."""
    import datetime

    from elektra_spark.operators.wl import structure_fingerprint

    ts = datetime.datetime(2026, 1, 1)
    rows = []
    seqs = {
        "a": [("user", None), ("assistant", "bash"), ("user", None)],
        "b": [("user", None), ("assistant", "bash"), ("user", None)],   # == a
        "c": [("user", None), ("assistant", "read"), ("user", None)],   # tool differs
        "d": [("user", None), ("assistant", "bash")],                   # shorter
    }
    for cid, seq in seqs.items():
        for i, (role, tool) in enumerate(seq):
            rows.append((cid, i, role, f"text {cid} {i}", tool, ts + datetime.timedelta(seconds=i)))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {r["conv_id"]: r for r in structure_fingerprint(t, rounds=3).collect()}
    assert got["a"]["wl_fp"] == got["b"]["wl_fp"]
    assert got["a"]["n_same_structure"] == 2 and got["b"]["n_same_structure"] == 2
    assert len({got[c]["wl_fp"] for c in "acd"}) == 3
    assert got["c"]["n_same_structure"] == 1 and got["d"]["n_same_structure"] == 1


# ----------------------------------------------------- multilevel coarsening

def test_contract_matching_invariants(spark):
    """Coarse graph of (match → contract): vertex count shrinks by exactly
    |matching|, total weight counts the surviving inter-group fine edges,
    and the contraction equals a python contraction of the same matching."""
    from elektra_spark.operators.matching import contract_matching, maximal_matching

    pairs = _random_graph(23, 60, 150)
    edges = edges_from_pairs(spark, pairs)
    m = [(r["src"], r["dst"]) for r in maximal_matching(edges).collect()]
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in contract_matching(edges, spark.createDataFrame(m, "src long, dst long")).collect()
    }
    rep = {d: s for s, d in m}
    want = {}
    for a, b in pairs:
        ca, cb = rep.get(a, a), rep.get(b, b)
        if ca != cb:
            k = (min(ca, cb), max(ca, cb))
            want[k] = want.get(k, 0) + 1
    assert got == want
    # every matched dst was contracted away
    assert not {v for e in got for v in e} & {d for _, d in m}


def test_coarsen_levels_shrink_and_preserve_weight(spark):
    from elektra_spark.operators.matching import coarsen

    pairs = _random_graph(31, 80, 240)
    edges = edges_from_pairs(spark, pairs)
    l1 = coarsen(edges, levels=1).collect()
    l2 = coarsen(edges, levels=2).collect()
    v1 = {v for r in l1 for v in (r["src"], r["dst"])}
    v2 = {v for r in l2 for v in (r["src"], r["dst"])}
    assert len(v2) < len(v1) < len({v for e in pairs for v in e})
    # weight only leaves the graph through self-loop (intra-group) drops
    assert sum(r["weight"] for r in l2) <= sum(r["weight"] for r in l1) <= len(pairs)


def _k4_brute(pairs):
    from itertools import combinations

    es = {(min(a, b), max(a, b)) for a, b in pairs}
    vs = sorted({v for e in es for v in e})
    return sum(
        1
        for q in combinations(vs, 4)
        if all((min(a, b), max(a, b)) in es for a, b in combinations(q, 2))
    )


@pytest.mark.parametrize(
    "pairs,want",
    [
        ([(a, b) for a in range(4) for b in range(a + 1, 4)], 1),  # K4 itself
        ([(a, b) for a in range(5) for b in range(a + 1, 5)], 5),  # K5: C(5,4)
        ([(0, 1), (1, 2), (2, 3), (3, 0)], 0),  # C4: no chords, no clique
        (_random_graph(43, 30, 170), None),  # dense enough for real K4s
    ],
    ids=["k4", "k5", "c4", "random"],
)
def test_four_clique_count(spark, pairs, want):
    from elektra_spark.operators.triangles import four_clique_count

    got = four_clique_count(edges_from_pairs(spark, pairs)).collect()[0]["n_four_cliques"]
    assert got == _k4_brute(pairs)
    if want is not None:
        assert got == want


def _absorb_oracle(arcs, absorbing, verts, rounds):
    out = {}
    for s, d in arcs:
        out.setdefault(s, []).append(d)
    h = {v: (1.0 if v in absorbing else 0.0) for v in verts}
    for _ in range(rounds):
        nh = {}
        for v in verts:
            if v in absorbing:
                nh[v] = 1.0
            elif out.get(v):
                nh[v] = sum(h[u] for u in out[v]) / len(out[v])
            else:
                nh[v] = 0.0
        h = nh
    return {v: round(p, 6) for v, p in h.items()}


def test_absorption_matches_python_oracle(spark):
    """Directed diamond + cycle + dangling branch vs a direct replay."""
    from elektra_spark.operators.absorption import absorption_probability

    # 0→1→9(abs), 0→2→3→0 (cycle back), 4→5 dangling, 6 isolated, 9 abs
    arcs = [(0, 1), (0, 2), (1, 9), (2, 3), (3, 0), (4, 5), (6, 7)]
    verts = list(range(10))
    absorbing = {9}
    adf = spark.createDataFrame(arcs, "src long, dst long")
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    absdf = spark.createDataFrame([(9,)], "vid long")
    for rounds in (1, 3, 6):
        got = {
            r["vid"]: r["h"]
            for r in absorption_probability(adf, absdf, vdf, rounds=rounds).collect()
        }
        assert got == _absorb_oracle(arcs, absorbing, verts, rounds)
    # sanity: absorbing pinned to 1, unreachable stays 0, cycle vertex in (0,1)
    assert got[9] == 1.0 and got[4] == 0.0 and 0 < got[0] < 1


def test_absorption_monotone_in_horizon(spark):
    """Hitting probability is nondecreasing in the horizon."""
    from elektra_spark.operators.absorption import absorption_probability

    arcs = [(i, i + 1) for i in range(6)] + [(2, 6), (6, 2)]
    adf = spark.createDataFrame(arcs, "src long, dst long")
    vdf = spark.createDataFrame([(v,) for v in range(7)], "vid long")
    absdf = spark.createDataFrame([(5,)], "vid long")
    prev = None
    for rounds in (1, 2, 4, 8):
        cur = {
            r["vid"]: r["h"]
            for r in absorption_probability(adf, absdf, vdf, rounds=rounds).collect()
        }
        if prev is not None:
            assert all(cur[v] >= prev[v] for v in cur)
        prev = cur


def test_absorption_rejects_zero_rounds(spark):
    from elektra_spark.operators.absorption import absorption_probability

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    v = spark.createDataFrame([(0,), (1,)], "vid long")
    with pytest.raises(ValueError):
        absorption_probability(df, v.limit(1), v, rounds=0)


def test_vertex_cover_guarantee(spark):
    """Matched-endpoints cover: every edge covered, |C| = 2|M| (the 2-approx
    certificate), and cover vertices are exactly the matched vertices."""
    from elektra_spark.operators.matching import maximal_matching

    pairs = _random_graph(17, 40, 90)
    edges = edges_from_pairs(spark, pairs)
    m = [(r["src"], r["dst"]) for r in maximal_matching(edges).collect()]
    cover = {v for e in m for v in e}
    assert len(cover) == 2 * len(m)  # matching is vertex-disjoint
    for a, b in pairs:
        assert a in cover or b in cover, (a, b)


def test_feature_propagation_matches_numpy(spark):
    """(I+A)^k sum-push vs a dense NumPy replay, exact int equality."""
    import numpy as np

    from elektra_spark.operators.featprop import propagate_features

    rng = np.random.RandomState(7)
    n, d = 12, 5
    x = rng.randint(-1000, 1000, size=(n, d)).astype(np.int64)
    pairs = _random_graph(9, n, 20)
    adj = np.zeros((n, n), dtype=np.int64)
    for a, b in pairs:
        adj[a, b] = adj[b, a] = 1
    feats = spark.createDataFrame(
        [(v, j + 1, int(x[v, j])) for v in range(n) for j in range(d)],
        "vid long, dim int, h long",
    )
    edges = edges_from_pairs(spark, pairs)
    for rounds in (1, 3):
        got = {
            (r.vid, r.dim): r.h
            for r in propagate_features(feats, edges, rounds=rounds).collect()
        }
        m = np.linalg.matrix_power(np.eye(n, dtype=np.int64) + adj, rounds)
        want = m @ x
        assert got == {(v, j + 1): int(want[v, j]) for v in range(n) for j in range(d)}


def test_feature_propagation_partition_invariance(spark):
    from elektra_spark.operators.featprop import propagate_features

    pairs = _random_graph(11, 30, 60)
    feats = spark.createDataFrame(
        [(v, 1, v * 31 % 97) for v in range(30)], "vid long, dim int, h long"
    )
    edges = edges_from_pairs(spark, pairs)
    a = sorted(propagate_features(feats, edges, rounds=2).collect())
    b = sorted(
        propagate_features(feats.repartition(11), edges.repartition(7), rounds=2).collect()
    )
    assert a == b


def _scan_oracle(pairs, eps_pm, mu):
    import itertools

    es = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    vs = sorted({v for e in es for v in e})
    nbr = {v: set() for v in vs}
    for a, b in es:
        nbr[a].add(b)
        nbr[b].add(a)
    sim = set()
    for a, b in es:
        num = len((nbr[a] | {a}) & (nbr[b] | {b}))
        if num * num * 1_000_000 >= eps_pm * eps_pm * (len(nbr[a]) + 1) * (len(nbr[b]) + 1):
            sim.add((a, b))
    en = {v: 1 for v in vs}
    for a, b in sim:
        en[a] += 1
        en[b] += 1
    core = {v for v in vs if en[v] >= mu}
    # CC over core-core sim edges
    comp = {v: v for v in core}

    def find(x):
        while comp[x] != x:
            comp[x] = comp[comp[x]]
            x = comp[x]
        return x

    for a, b in sim:
        if a in core and b in core:
            ra, rb = find(a), find(b)
            if ra != rb:
                comp[max(ra, rb)] = min(ra, rb)
    lab = {v: find(v) for v in core}
    out = {}
    for v in vs:
        if v in core:
            out[v] = ("core", lab[v])
        else:
            cands = [lab[u] for (a, b) in sim for v2, u in ((a, b), (b, a)) if v2 == v and u in core]
            out[v] = ("border", min(cands)) if cands else ("outlier", -1)
    return out


def test_scan_structure(spark):
    """Two triangles bridged by a chain + a hub: triangles cluster, the hub
    is an outlier — checked against a python SCAN oracle and structurally."""
    from elektra_spark.operators.scan import scan_clusters

    tri_a = [(0, 1), (1, 2), (0, 2)]
    tri_b = [(3, 4), (4, 5), (3, 5)]
    bridge = [(2, 6), (6, 3)]
    # hub touches everything AND ten private leaves — the leaves dilute every
    # σ(hub, ·) below ε, which is exactly how big tool hubs fall out at scale
    hub = [(10, v) for v in (0, 1, 2, 3, 4, 5, 6)] + [(10, v) for v in range(20, 30)]
    pairs = tri_a + tri_b + bridge + hub
    got = {
        r.vid: (r.role, r.cluster)
        for r in scan_clusters(edges_from_pairs(spark, pairs), 700, 2).collect()
    }
    assert got == _scan_oracle(pairs, 700, 2)
    assert got[10] == ("outlier", -1)  # the hub matches nobody
    roles = {}
    for v, (role, _) in got.items():
        roles.setdefault(role, set()).add(v)
    assert {0, 1, 2} <= roles.get("core", set()) and {3, 4, 5} <= roles.get("core", set())
    assert got[0][1] != got[3][1]  # the two triangles are separate clusters


def test_scan_random_matches_oracle(spark):
    from elektra_spark.operators.scan import scan_clusters

    pairs = _random_graph(23, 30, 70)
    got = {
        r.vid: (r.role, r.cluster)
        for r in scan_clusters(edges_from_pairs(spark, pairs), 500, 3).collect()
    }
    assert got == _scan_oracle(pairs, 500, 3)


def test_scan_rejects_bad_params(spark):
    from elektra_spark.operators.scan import scan_clusters

    e = edges_from_pairs(spark, [(0, 1)])
    with pytest.raises(ValueError):
        scan_clusters(e, 0, 2)
    with pytest.raises(ValueError):
        scan_clusters(e, 500, 1)


def _louvain_oracle(pairs, rounds):
    import hashlib

    def pri(t, v):
        return (int(hashlib.md5(f"lmv:{t}:{v}".encode()).hexdigest()[:12], 16), v)

    es = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    vs = sorted({v for e in es for v in e})
    nbr = {v: [] for v in vs}
    for a, b in es:
        nbr[a].append(b)
        nbr[b].append(a)
    deg = {v: len(nbr[v]) for v in vs}
    m2 = 2 * len(es)
    lab = {v: v for v in vs}
    for t in range(rounds):
        tot = {}
        for v in vs:
            tot[lab[v]] = tot.get(lab[v], 0) + deg[v]
        new = {}
        for v in vs:
            if not all(pri(t, v) < pri(t, u) for u in nbr[v]):
                new[v] = lab[v]
                continue
            kic = {}
            for u in nbr[v]:
                kic[lab[u]] = kic.get(lab[u], 0) + 1
            kic.setdefault(lab[v], 0)
            new[v] = max(
                kic.items(),
                key=lambda it: (
                    m2 * it[1] - deg[v] * (tot.get(it[0], 0) - (deg[v] if it[0] == lab[v] else 0)),
                    -it[0],
                ),
            )[0]
        lab = new
    return lab


def test_louvain_matches_python_oracle(spark):
    from elektra_spark.operators.louvain import louvain_moves

    pairs = _random_graph(31, 30, 70)
    for rounds in (1, 4):
        got = {
            r.vid: r.community
            for r in louvain_moves(edges_from_pairs(spark, pairs), rounds=rounds).collect()
        }
        assert got == _louvain_oracle(pairs, rounds), rounds


def test_louvain_two_cliques_separate(spark):
    """Two K4s joined by one bridge: moves settle into exactly two
    communities split along the bridge."""
    from elektra_spark.operators.louvain import louvain_moves

    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    got = {
        r.vid: r.community
        for r in louvain_moves(edges_from_pairs(spark, k4a + k4b + [(3, 10)]), rounds=8).collect()
    }
    assert len({got[v] for v in range(4)}) == 1
    assert len({got[v] for v in range(10, 14)}) == 1
    assert got[0] != got[10]


def test_sweep_cut_finds_planted_cluster(spark):
    """Two dense cliques joined by one bridge, scores seeded in clique A:
    the sweep curve's minimum-conductance prefix is exactly clique A."""
    from elektra_spark.operators.sweep import sweep_cut

    ka = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    kb = [(a, b) for a in range(10, 16) for b in range(a + 1, 16)]
    pairs = ka + kb + [(5, 10)]
    edges = edges_from_pairs(spark, pairs)
    # a PPR-shaped score: high inside clique A, tiny outside
    scores = spark.createDataFrame(
        [(v, 1.0 - v * 0.01) for v in range(6)] + [(v, 0.001) for v in range(10, 16)],
        "vid long, rank double",
    )
    curve = sweep_cut(edges, scores).collect()
    best = min(curve, key=lambda r: (r.conductance, r.k))
    members = {r.vid for r in curve if r.k <= best.k}
    assert members == set(range(6))
    assert best.cut == 1  # only the bridge crosses
    # python oracle for the whole curve
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    m2 = sum(deg.values())
    order = sorted(
        [(1.0 - v * 0.01, v) for v in range(6)] + [(0.001, v) for v in range(10, 16)],
        key=lambda t: (-t[0] / deg[t[1]], t[1]),
    )
    pref = []
    for r in sorted(curve, key=lambda r: r.k):
        pref.append(order[r.k - 1][1])
        s = set(pref)
        vol = sum(deg[v] for v in s)
        internal = sum(1 for a, b in pairs if a in s and b in s)
        cut = vol - 2 * internal
        assert (r.vid, r.vol, r.cut) == (pref[-1], vol, cut), r.k
        assert r.conductance == round(cut / min(vol, m2 - vol), 6)


def _densest_oracle(pairs, eps_pm):
    es = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    verts = {v for e in es for v in e}
    edges = list(es)
    r, best, sched, removed = 0, (0, 1, -1), [], {}
    while verts:
        deg = {}
        for s, d in edges:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
        n, m = len(verts), len(edges)
        sched.append((r, n, m))
        if m * best[1] > best[0] * n:
            best = (m, n, r)
        rm = {v for v in verts if deg.get(v, 0) * n * 1000 <= 2 * (1000 + eps_pm) * m}
        for v in rm:
            removed[v] = r
        verts -= rm
        edges = [(s, d) for s, d in edges if s not in rm and d not in rm]
        r += 1
        assert r < 64
    return {v: (rr, rr >= best[2]) for v, rr in removed.items()}


def test_densest_subgraph_planted_core(spark):
    """A K12 planted in a sparse random graph: the peel's best round is the
    clique (density ~5.5 vs ~1.6 overall) — checked against a python replay
    and structurally."""
    from elektra_spark.operators.densest import densest_subgraph

    k12 = [(a, b) for a in range(100, 112) for b in range(a + 1, 112)]
    sparse = [(a, b) for a, b in _random_graph(53, 80, 120)]
    pairs = k12 + sparse + [(0, 100)]  # connect the core to the fringe
    got = {
        r.vid: (r.removed_round, r.in_densest)
        for r in densest_subgraph(edges_from_pairs(spark, pairs), eps_permille=100).collect()
    }
    assert got == _densest_oracle(pairs, 100)
    densest = {v for v, (_, ind) in got.items() if ind}
    assert set(range(100, 112)) <= densest
    # the dense answer is clique-dominated, not the whole graph
    assert len(densest) < len(got) / 2


def test_densest_subgraph_pins_contract_round_count(spark):
    """The R-MAT contract instance's peel depth stays within
    DENSEST_SQL_ROUNDS (the twin's unroll budget)."""
    import __spark_entry__ as em
    from elektra_spark.ingest.rmat import rmat_edges
    from elektra_spark.operators.densest import densest_subgraph

    e = rmat_edges(spark, n_edges=em.RMAT_EDGES, scale=em.RMAT_SCALE)
    got = densest_subgraph(e.select("src", "dst"), eps_permille=em.DENSEST_EPS_PERMILLE)
    max_round = got.agg({"removed_round": "max"}).collect()[0][0]
    assert max_round < em.DENSEST_SQL_ROUNDS


def test_appr_mass_conservation_and_locality(spark):
    """Integer forward push: total p+r mass equals the initial seed units
    EXACTLY (floor remainders never leak), support stays local on a long
    chain, and the settled vector correlates with seed proximity."""
    from elektra_spark.operators.appr import APPR_UNIT, appr_push

    chain = [(i, i + 1) for i in range(200)]
    edges = edges_from_pairs(spark, chain)
    seeds = spark.createDataFrame([(100,)], "vid long")
    got = appr_push(edges, seeds, alpha_permille=150, eps_units=1000, rounds=8).collect()
    total = sum(r.p_units + r.r_units for r in got)
    assert total == APPR_UNIT  # exact conservation, to the unit
    touched = {r.vid for r in got}
    assert touched <= set(range(92, 109))  # 8 rounds → ≤ 8 hops from seed
    p = {r.vid: r.p_units for r in got}
    assert p[100] > p.get(99, 0) > p.get(97, 0)


def test_appr_partition_invariance(spark):
    from elektra_spark.operators.appr import appr_push

    pairs = _random_graph(61, 50, 120)
    edges = edges_from_pairs(spark, pairs)
    seeds = spark.createDataFrame([(0,), (7,)], "vid long")
    a = sorted(
        (r.vid, r.p_units, r.r_units)
        for r in appr_push(edges, seeds, rounds=5).collect()
    )
    b = sorted(
        (r.vid, r.p_units, r.r_units)
        for r in appr_push(edges.repartition(11), seeds, rounds=5).collect()
    )
    assert a == b


def test_appr_rejects_bad_params(spark):
    from elektra_spark.operators.appr import appr_push

    e = edges_from_pairs(spark, [(0, 1)])
    s = spark.createDataFrame([(0,)], "vid long")
    with pytest.raises(ValueError):
        appr_push(e, s, alpha_permille=0)
    with pytest.raises(ValueError):
        appr_push(e, s.filter("vid > 5"))


def test_louvain_modularity_beats_singletons_and_lpa_floor(spark):
    """The gain-argmax partition scores positive modularity on a
    community-structured graph (singletons score ≤ 0 by construction)."""
    from elektra_spark.operators.louvain import louvain_moves
    from elektra_spark.operators.lpa import modularity

    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = edges_from_pairs(spark, k4a + k4b + [(3, 10)])
    labels = louvain_moves(edges, rounds=8).select("vid", F.col("community").alias("label"))
    q = modularity(edges, labels).collect()[0]
    singles = edges.selectExpr("src as vid").union(edges.selectExpr("dst as vid")).distinct()
    q0 = modularity(edges, singles.select("vid", F.col("vid").alias("label"))).collect()[0]
    assert q["modularity"] > 0.3 > q0["modularity"]
    assert q["n_communities"] == 2
