"""PageRank vs NumPy power-iteration oracle — allclose 1e-6 (north rule)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from elektra_spark.ingest.graph_io import edges_from_pairs
from elektra_spark.operators.pagerank import pagerank

from .oracles import pagerank_oracle

HOUSE = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 1), (1, 4), (3, 4)]


def _ranks_dict(df):
    return {r["vid"]: r["rank"] for r in df.collect()}


# "auto" takes the driver tier on these small graphs; with the tier off it
# would pick bsp (dense vids), so the "bsp" leg is its Spark counterpart
KERNELS = ["df", "bsp", "auto"]


@pytest.mark.parametrize("kernel", KERNELS)
def test_pagerank_house(spark, kernel):
    edges = edges_from_pairs(spark, HOUSE)
    got = _ranks_dict(pagerank(edges, n_iter=30, kernel=kernel))
    want = pagerank_oracle(HOUSE, range(5), iters=30)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("kernel", KERNELS)
def test_pagerank_with_dangling(spark, kernel):
    """Isolated vertices hold dangling mass that must be redistributed."""
    pairs = [(0, 1), (1, 2)]
    edges = edges_from_pairs(spark, pairs)
    vertices = spark.range(5).select(F.col("id").alias("vid"))  # 3,4 isolated
    got = _ranks_dict(pagerank(edges, vertices=vertices, n_iter=25, kernel=kernel))
    want = pagerank_oracle(pairs, range(5), iters=25)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("kernel", KERNELS)
def test_pagerank_directed(spark, kernel):
    """Directed ranks: 3 is a sink (its mass is redistributed as dangling),
    4 has no in-edge (base rank only) and 5 is isolated (both)."""
    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (4, 0), (4, 2)]
    # not edges_from_pairs: it canonicalizes to src < dst, losing direction
    edges = spark.createDataFrame(pairs, "src long, dst long")
    vertices = spark.range(6).select(F.col("id").alias("vid"))
    got = _ranks_dict(
        pagerank(edges, vertices=vertices, n_iter=25, directed=True, kernel=kernel)
    )
    want = pagerank_oracle(pairs, range(6), iters=25, directed=True)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("kernel", ["csr", "CSR", "bogus"])
def test_pagerank_rejects_unknown_kernel(spark, kernel):
    edges = edges_from_pairs(spark, HOUSE)
    with pytest.raises(ValueError, match=r"auto\|bsp\|df"):
        pagerank(edges, n_iter=1, kernel=kernel)


def test_pagerank_transcript_graph(spark):
    from elektra_spark.ingest.edges import derive_graph
    from elektra_spark.ingest.transcripts import synth_transcripts

    t = synth_transcripts(spark, n_conversations=12, seed=42)
    g = derive_graph(t)
    pairs = [(r["src"], r["dst"]) for r in g.edges.collect()]
    vids = [r["vid"] for r in g.vertices.collect()]
    got = _ranks_dict(pagerank(g.edges, vertices=g.vertices, n_iter=20))
    want = pagerank_oracle(pairs, vids, iters=20)
    diffs = [abs(got[v] - want[v]) for v in want]
    assert max(diffs) < 1e-6
    # hub skew sanity: tool vertices should rank high
    top = sorted(got, key=got.get, reverse=True)[:3]
    tool_vids = {r["vid"] for r in g.vertices.filter(F.col("kind") == "tool").collect()}
    assert tool_vids & set(top), "expected a tool hub among top-ranked vertices"


def test_pagerank_transcript_convergence(spark):
    """North-star acceptance, stated at *convergence* (BASELINE.json: per-
    vertex scores match the power-iteration oracle within allclose 1e-6 at
    convergence): run the engine until its own 30-superstep block delta is
    below 1e-9 (1000x the comparison tolerance), run the NumPy oracle to its
    own 1e-12 fixpoint, and compare — no shared fixed iteration count, each
    side converges independently. Cited from SURVEY.md §2.8 (VERDICT r3
    item 7)."""
    import numpy as np

    from elektra_spark.ingest.edges import derive_graph
    from elektra_spark.ingest.transcripts import synth_transcripts

    t = synth_transcripts(spark, n_conversations=12, seed=42)
    g = derive_graph(t)
    pairs = [(r["src"], r["dst"]) for r in g.edges.collect()]
    vids = [r["vid"] for r in g.vertices.collect()]

    # engine: 30-superstep blocks, resumed via init_ranks (also exercising
    # the mid-run resume path), until the rank vector stops moving — a block
    # delta below 1e-9 is convergence at 1000x the comparison tolerance
    prev, got, ranks_df = None, None, None
    for block in range(4):
        ranks_df = pagerank(
            g.edges, vertices=g.vertices, n_iter=30, kernel="df",
            init_ranks=ranks_df, start_step=30 * block,
        )
        got = _ranks_dict(ranks_df)
        if prev is not None and max(abs(got[v] - prev[v]) for v in got) < 1e-9:
            break
        prev = got
    assert prev is not None and max(abs(got[v] - prev[v]) for v in got) < 1e-9, (
        "engine did not converge within 120 supersteps"
    )

    want = pagerank_oracle(pairs, vids, iters=500, tol=1e-12)
    diffs = [abs(got[v] - want[v]) for v in want]
    assert max(diffs) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_kernels_agree(spark):
    from elektra_spark.ingest.edges import derive_graph
    from elektra_spark.ingest.transcripts import synth_transcripts

    t = synth_transcripts(spark, n_conversations=8, seed=3)
    g = derive_graph(t)
    r_df = _ranks_dict(pagerank(g.edges, vertices=g.vertices, n_iter=10, kernel="df"))
    r_bsp = _ranks_dict(pagerank(g.edges, vertices=g.vertices, n_iter=10, kernel="bsp"))
    assert set(r_df) == set(r_bsp)
    assert max(abs(r_df[v] - r_bsp[v]) for v in r_df) < 1e-12


def test_pagerank_bsp_resume(spark):
    """bsp mid-run resume: 5 supersteps, then 5 more via init_ranks +
    start_step (exercising the ping-pong state-file index parity across the
    restart boundary), must equal 10 straight supersteps exactly."""
    from elektra_spark.ingest.edges import derive_graph
    from elektra_spark.ingest.transcripts import synth_transcripts

    g = derive_graph(synth_transcripts(spark, n_conversations=6, seed=7))
    full = _ranks_dict(pagerank(g.edges, vertices=g.vertices, n_iter=10, kernel="bsp"))
    half = pagerank(g.edges, vertices=g.vertices, n_iter=5, kernel="bsp")
    resumed = _ranks_dict(
        pagerank(
            g.edges, vertices=g.vertices, n_iter=5, kernel="bsp",
            init_ranks=half, start_step=5,
        )
    )
    assert set(full) == set(resumed)
    assert max(abs(full[v] - resumed[v]) for v in full) < 1e-15


def test_pagerank_bsp_hub_mirror_path(spark):
    """Force the bsp kernel's hybrid-cut MIRROR path (sources whose
    cross-bucket fanout exceeds BSP_MIRROR_K ship one value row; their edges
    live resident at the target): two hubs at the top of a dense vid range,
    each linked to every chain vertex, a few-bucket layout so the hubs'
    fanout into every remote bucket is ≫ K. Duplicate hub edges included —
    the mirror value must be applied once per resident edge. bsp must match
    df exactly."""
    n = 120
    hub1, hub2 = n, n + 1
    edges = [(i, i + 1) for i in range(n - 1)]
    edges += [(i, hub1) for i in range(n)]
    edges += [(i, hub2) for i in range(0, n, 2)]
    edges += [(7, hub1), (7, hub1)]  # duplicate edges through the mirror path
    df_edges = spark.createDataFrame(edges, "src long, dst long")
    r_df = _ranks_dict(pagerank(df_edges, n_iter=12, kernel="df"))
    r_bsp = _ranks_dict(pagerank(df_edges, n_iter=12, kernel="bsp", num_buckets=5))
    assert set(r_df) == set(r_bsp)
    assert max(abs(r_df[v] - r_bsp[v]) for v in r_df) < 1e-12
    assert abs(sum(r_bsp.values()) - 1.0) < 1e-9


def test_pagerank_bsp_shared_prep_dir(spark, tmp_path):
    """bsp_prep_dir: second run over the same graph must skip the prep
    (marker present, no re-write of the encoded blocks) and produce
    bit-identical ranks; a bucket-count change must invalidate the marker
    and re-prep rather than silently mis-bucket."""
    import glob
    import os

    from elektra_spark.ingest.edges import derive_graph
    from elektra_spark.ingest.transcripts import synth_transcripts

    g = derive_graph(synth_transcripts(spark, n_conversations=6, seed=7))
    prep = str(tmp_path / "prep")
    r1 = _ranks_dict(
        pagerank(g.edges, vertices=g.vertices, n_iter=8, kernel="bsp",
                 num_buckets=3, bsp_prep_dir=prep)
    )
    # prep is namespaced by geometry: one subtree for B=3, marker inside
    [sub] = glob.glob(os.path.join(prep, "g3x*"))
    assert os.path.exists(os.path.join(sub, "_PREP_DONE"))
    enc = os.path.join(sub, "enc_0_inv_owned.npy")
    enc_mtime = os.path.getmtime(enc)
    r2 = _ranks_dict(
        pagerank(g.edges, vertices=g.vertices, n_iter=8, kernel="bsp",
                 num_buckets=3, bsp_prep_dir=prep)
    )
    assert os.path.getmtime(enc) == enc_mtime
    assert r1 == r2  # bit-identical, prep skipped
    r3 = _ranks_dict(
        pagerank(g.edges, vertices=g.vertices, n_iter=8, kernel="bsp",
                 num_buckets=4, bsp_prep_dir=prep)
    )
    assert glob.glob(os.path.join(prep, "g4x*"))  # own subtree, fresh prep
    assert set(r3) == set(r1)
    assert max(abs(r1[v] - r3[v]) for v in r1) < 1e-12  # same result


def test_pagerank_bsp_stale_prep_refreshed(spark, tmp_path):
    """Input-identity contract: mutating the edge table under the SAME
    geometry (same vertex universe, same bucket count — the case the old
    (B, n_slots, n) marker could not see) must re-prep into a fresh subtree
    and rank the NEW graph, not silently reuse the stale CSR blocks."""
    import glob
    import os

    from pyspark.sql import functions as F

    n = 40
    verts = spark.range(n).select(F.col("id").alias("vid"))
    e1 = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    # same vid universe, same count of edges, different wiring
    e2 = spark.createDataFrame(
        [(i, (i + 3) % n) for i in range(n - 1)] + [(0, n // 2)],
        "src long, dst long",
    )
    prep = str(tmp_path / "prep")
    r1 = _ranks_dict(
        pagerank(e1, vertices=verts, n_iter=8, kernel="bsp",
                 num_buckets=3, bsp_prep_dir=prep)
    )
    subs_before = set(glob.glob(os.path.join(prep, "g3x*")))
    assert len(subs_before) == 1
    r2 = _ranks_dict(
        pagerank(e2, vertices=verts, n_iter=8, kernel="bsp",
                 num_buckets=3, bsp_prep_dir=prep)
    )
    # a second fingerprint-keyed subtree, and the ranks match the df kernel
    # on the NEW graph (i.e. the stale blocks were not reused)
    subs_after = set(glob.glob(os.path.join(prep, "g3x*")))
    assert len(subs_after) == 2 and subs_before < subs_after
    want = _ranks_dict(pagerank(e2, vertices=verts, n_iter=8, kernel="df"))
    assert max(abs(r2[v] - want[v]) for v in want) < 1e-12
    assert r1 != r2


def test_bsp_storage_contract_multi_executor(spark, monkeypatch):
    """Multi-executor session + host-local bucket state must fail LOUDLY at
    kernel entry (the silent-missing-state hazard VERDICT r4 flagged); a
    non-tmpfs prep_dir is trusted as shared storage and passes."""
    import elektra_spark.operators.pagerank as pr

    assert pr._bsp_executor_count(spark) <= 1  # local mode: one JVM
    # single executor: anything goes
    pr._bsp_assert_storage(spark, None)
    pr._bsp_assert_storage(spark, "/dev/shm/x")
    monkeypatch.setattr(pr, "_bsp_executor_count", lambda s: 4)
    with pytest.raises(RuntimeError, match="state-residency|SHARED storage"):
        pr._bsp_assert_storage(spark, None)
    with pytest.raises(RuntimeError, match="SHARED storage"):
        pr._bsp_assert_storage(spark, "/dev/shm/scratch")
    with pytest.raises(RuntimeError, match="SHARED storage"):
        pr._bsp_assert_storage(spark, "/tmp/scratch")
    pr._bsp_assert_storage(spark, "/mnt/shared/prep")  # non-tmpfs: trusted


def test_pagerank_bsp_cross_jvm_placement(tmp_path):
    """Cross-JVM state handoff over the shared prep/state directory — the
    placement simulation VERDICT r4 asked for: JVM 1 (a subprocess) preps
    the graph and runs 4 supersteps with per-superstep durable commits;
    JVM 2 (this process's session) resumes 4 more supersteps against the
    SAME directory. Every CSR/mask block JVM 2's workers mmap was written by
    JVM 1's — exactly the executor-migration case when side_dir is shared
    storage. The resumed ranks must equal 8 straight supersteps bit-for-bit,
    and the prep must NOT have been redone."""
    import glob
    import os
    import subprocess
    import sys
    import textwrap

    from elektra_spark.checkpoint import CheckpointedRun
    from elektra_spark.session import get_spark

    edges_path = str(tmp_path / "edges")
    prep = str(tmp_path / "prep")
    cat = str(tmp_path / "catalog")
    script = tmp_path / "jvm1.py"
    script.write_text(textwrap.dedent(f"""
        import os
        os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
        from pyspark.sql import functions as F
        from elektra_spark.session import get_spark
        from elektra_spark.checkpoint import CheckpointedRun
        from elektra_spark.ingest.edges import derive_graph
        from elektra_spark.ingest.transcripts import synth_transcripts
        from elektra_spark.operators.pagerank import pagerank

        spark = get_spark(app_name="bsp-jvm1")
        spark.sparkContext.setLogLevel("ERROR")
        g = derive_graph(synth_transcripts(spark, n_conversations=6, seed=7))
        g.edges.write.mode("overwrite").parquet({edges_path!r})
        g.vertices.select("vid").write.mode("overwrite").parquet({edges_path!r} + "_v")
        run = CheckpointedRun(spark, {cat!r}, run_id="xjvm")
        pagerank(g.edges, vertices=g.vertices, n_iter=4, kernel="bsp",
                 num_buckets=3, bsp_prep_dir={prep!r},
                 checkpoint=run.checkpoint_fn("ranks"))
        assert run.latest_step("ranks") == 4
        spark.stop()
    """))
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [sys.executable, str(script)], cwd="/root/repo", env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    spark = get_spark(app_name="elektra-tests")  # the running test session
    [sub] = glob.glob(os.path.join(prep, "g3x*"))
    enc_mtimes = {p: os.path.getmtime(p) for p in glob.glob(os.path.join(sub, "enc_*.npy"))}
    assert enc_mtimes, "JVM 1 left no encoded blocks behind"

    run = CheckpointedRun(spark, cat, run_id="xjvm")
    assert run.latest_step("ranks") == 4
    edges = spark.read.parquet(edges_path)
    verts = spark.read.parquet(edges_path + "_v")
    resumed = _ranks_dict(
        pagerank(edges, vertices=verts, n_iter=4, kernel="bsp", num_buckets=3,
                 bsp_prep_dir=prep, init_ranks=run.load("ranks"), start_step=4)
    )
    # prep reused across the JVM boundary, not redone
    assert {p: os.path.getmtime(p) for p in enc_mtimes} == enc_mtimes
    full = _ranks_dict(
        pagerank(edges, vertices=verts, n_iter=8, kernel="bsp", num_buckets=3)
    )
    assert set(full) == set(resumed)
    assert max(abs(full[v] - resumed[v]) for v in full) < 1e-15


def _ppr_oracle(pairs, verts, seeds, n_iter, damping=0.85):
    """Seed-restart power iteration: dangling mass returns to the seeds."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    s = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in verts}
    r = dict(s)
    for _ in range(n_iter):
        dm = sum(r[v] for v in verts if v not in adj)
        contrib = {v: 0.0 for v in verts}
        for u, ns in adj.items():
            share = r[u] / len(ns)
            for v in ns:
                contrib[v] += share
        r = {v: (1 - damping) * s[v] + damping * (contrib[v] + dm * s[v]) for v in verts}
    return r


def test_personalized_pagerank_matches_oracle(spark):
    import random

    from elektra_spark.ingest.graph_io import edges_from_pairs
    from elektra_spark.operators.ppr import personalized_pagerank

    rng = random.Random(9)
    pairs = sorted({(min(a, b), max(a, b))
                    for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(70)) if a != b})
    verts = sorted({v for e in pairs for v in e} | {38, 39, 99})  # 99 isolated → dangling
    seeds = [0, 5]
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    sdf = spark.createDataFrame([(v,) for v in seeds], "vid long")
    rows = personalized_pagerank(edges, sdf, vertices=vdf, n_iter=8).collect()
    want = _ppr_oracle(pairs, verts, set(seeds), 8)
    assert len(rows) == len(verts)
    for r in rows:
        assert abs(r["rank"] - want[r["vid"]]) < 1e-12
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9  # mass conservation


def test_personalized_pagerank_localizes_to_seeds(spark):
    """Two disjoint cliques; seeding one must keep ~all mass there."""
    from elektra_spark.ingest.graph_io import edges_from_pairs
    from elektra_spark.operators.ppr import personalized_pagerank

    k1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    edges = edges_from_pairs(spark, k1 + k2)
    sdf = spark.createDataFrame([(0,)], "vid long")
    rows = personalized_pagerank(edges, sdf, n_iter=10).collect()
    far = sum(r["rank"] for r in rows if r["vid"] >= 10)
    assert far == 0.0  # no path — the restart vector pins all mass in clique 1


def _wpr_oracle(pairs, verts, n_iter, damping=0.85, w=lambda a, b: 1 + (a + b) % 5):
    """Weighted power iteration: scatter ∝ w/W_out, dangling mass uniform."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, []).append((b, w(a, b)))
        adj.setdefault(b, []).append((a, w(a, b)))
    wout = {u: float(sum(wt for _, wt in ns)) for u, ns in adj.items()}
    n = len(verts)
    r = {v: 1.0 / n for v in verts}
    for _ in range(n_iter):
        dm = sum(r[v] for v in verts if v not in wout)
        contrib = {v: 0.0 for v in verts}
        for u, ns in adj.items():
            for v, wt in ns:
                contrib[v] += r[u] * (wt / wout[u])
        r = {v: (1 - damping) / n + damping * (contrib[v] + dm / n) for v in verts}
    return r


def test_weighted_pagerank_matches_oracle(spark):
    import random

    from elektra_spark.ingest.graph_io import edges_from_pairs
    from elektra_spark.operators.ppr import weighted_pagerank

    rng = random.Random(29)
    pairs = sorted({(min(a, b), max(a, b))
                    for a, b in ((rng.randrange(35), rng.randrange(35)) for _ in range(60)) if a != b})
    verts = sorted({v for e in pairs for v in e} | {77})  # 77 isolated → dangling
    edges = edges_from_pairs(spark, pairs)
    vdf = spark.createDataFrame([(v,) for v in verts], "vid long")
    rows = weighted_pagerank(edges, vertices=vdf, n_iter=7).collect()
    want = _wpr_oracle(pairs, verts, 7)
    assert len(rows) == len(verts)
    for r in rows:
        assert abs(r["rank"] - want[r["vid"]]) < 1e-12
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9


def test_weighted_pagerank_uniform_weight_equals_unweighted(spark):
    """With a constant weight column the weighted kernel must reduce to the
    uniform kernel's fixpoint schedule."""
    from pyspark.sql import functions as F

    from elektra_spark.ingest.graph_io import edges_from_pairs
    from elektra_spark.operators.pagerank import pagerank
    from elektra_spark.operators.ppr import weighted_pagerank

    pairs = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (1, 4), (4, 5)]
    edges = edges_from_pairs(spark, pairs)
    wedges = edges.withColumn("wt", F.lit(2.0))
    a = {r["vid"]: r["rank"] for r in pagerank(edges, n_iter=6, kernel="df").collect()}
    b = {r["vid"]: r["rank"] for r in weighted_pagerank(wedges, weight="wt", n_iter=6).collect()}
    assert set(a) == set(b)
    for v in a:
        assert abs(a[v] - b[v]) < 1e-12


def test_personalized_pagerank_rejects_unknown_seed(spark):
    """A seed outside the vertex universe would silently lose its 1/|S|
    teleport share — the operator must refuse instead."""
    import pytest as _pytest

    from elektra_spark.ingest.graph_io import edges_from_pairs
    from elektra_spark.operators.ppr import personalized_pagerank

    edges = edges_from_pairs(spark, [(0, 1), (1, 2)])
    sdf = spark.createDataFrame([(0,), (999,)], "vid long")
    with _pytest.raises(ValueError, match="absent from the vertex universe"):
        personalized_pagerank(edges, sdf, n_iter=2)


def test_warm_start_after_update_beats_cold(spark):
    """Warm-start PageRank after a batch edge update (init_ranks = old
    fixpoint) must land closer to the new graph's fixpoint than the same
    superstep budget from uniform — the incremental-recompute claim behind
    dynamic_pagerank_transcript. Both paths use the identical engine
    schedule; the fixpoint is the NumPy oracle run to convergence."""
    # hub graph: fixpoint far from uniform, so a cold uniform start is far
    # off while the old fixpoint stays close under a small edge update (a
    # near-uniform-fixpoint graph like a plain chain would not separate them)
    old_pairs = [(0, i) for i in range(1, 41)] + [(1, 2), (3, 4), (5, 6)]
    # delete (1,2) — both endpoints stay hub-attached, so the vid universe
    # derived from the edge set is unchanged
    new_pairs = [p for p in old_pairs if p != (1, 2)] + [(7, 8), (2, 3)]

    k = 4  # post-update superstep budget
    old_edges = edges_from_pairs(spark, old_pairs)
    new_edges = edges_from_pairs(spark, new_pairs)
    ranks_old = pagerank(old_edges, n_iter=40)  # ≈ old fixpoint
    warm = _ranks_dict(
        pagerank(new_edges, n_iter=k, start_step=40, init_ranks=ranks_old)
    )
    cold = _ranks_dict(pagerank(new_edges, n_iter=k))
    want = pagerank_oracle(new_pairs, range(41), iters=300)

    err_warm = max(abs(warm[v] - want[v]) for v in want)
    err_cold = max(abs(cold[v] - want[v]) for v in want)
    assert err_warm < err_cold / 2, (err_warm, err_cold)
    assert err_warm < 1e-3
