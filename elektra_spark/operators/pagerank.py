"""PageRank — rank-scatter supersteps with dangling-mass correction.

Not present in the reference (it is a connectivity suite); mandated by the
north rule (SURVEY.md §2.7). Semantics fixed to match the NumPy
power-iteration oracle bit-for-bit in structure (same damping, same uniform
dangling redistribution, same iteration count), with per-vertex agreement
``allclose 1e-6``.

Superstep (BSP):
    contrib[dst]  = Σ_{(src,dst)∈adj} rank[src] / deg[src]
    dangling_mass = Σ_{deg[v]=0} rank[v]            (scalar accumulator)
    rank'[v]      = (1−d)/n + d·(contrib[v] + dangling_mass/n)

``kernel='auto'`` (the default) runs a graph of at most
``driver_tier.SMALL_GRAPH_MAX`` edges and vertices on the driver in NumPy
when nothing else was asked for (no checkpointer, no ``bsp_prep_dir``):
:func:`_pagerank_small`, the same power iteration with no Spark superstep
(:mod:`.driver_tier`). Larger graphs, and any call with a checkpointer or a
prep dir, run one of two Spark kernels with identical results — ``bsp`` for
dense vid spaces, ``df`` otherwise:

- ``bsp`` — **the scale/robustness path** (north-star wording: "edges
  materialized as per-partition CSR blocks inside pandas/Arrow UDFs so each
  superstep is a vectorized sparse gather-scatter"): vid-range buckets with
  mmap-shared CSR blocks (encoded once by the init job) and rank state in
  per-bucket files overwritten in place; per superstep Spark moves only the
  cross-bucket messages, minimized by a PowerGraph-style hybrid cut —
  contributions combined per (target, dst) for low-fanout sources, values
  shipped for high-fanout (tool-hub) sources whose edges live resident at
  the target (~10k rows vs 33M edge-messages on the 16.6M-edge bench
  graph; naive per-edge messaging was 1.9M rows with 50% landing on the
  hub-owning bucket). Requires dense non-negative vids (derive_graph
  guarantees them). See :func:`_pagerank_bsp` and :func:`_load_bsp_bucket`
  for the full design + cluster mapping.
- ``df`` — pure JVM / pure Catalyst: the adjacency (pre-joined with source
  degrees, materialized once, cached with its partitioning) is joined with
  the rank table and summed JVM-side. The sum is map-side combinable
  (partial aggregation), so hub vertices do not create hot reducers;
  whole-stage codegen keeps the arithmetic vectorized. Works for any vid
  space; this is the north rule's literal "repeated rank-scatter join", and
  the kernel whose 1→4-core scaling the bench gates (its per-superstep work
  is large enough at bench scale to exercise parallel shuffle/agg).

Kernel choice (measured round 4 under tools/kernel_probe.py): on the
4.1M-edge transcript graph, steady-state superstep df 13.5 s / 3.8-4.9 s at
1/4 cores (healthy weather; 17-65 s at 4 cores in pathological windows —
its superstep touches ~300 MB of fresh pages per round and the measuring
host periodically serialized first-touch faults at ~10-100 MB/s). A third,
hash-bucketed Python CSR kernel measured 14.0 s / 5.6 s on the same graph —
behind df, because each superstep crossed into Python and merged back in
the JVM — and was removed. bsp on the 4× larger 16.6M-edge graph: 1.2-1.4 s
at 1 core / ~1.6 s at 4 (≈24M edge-messages/s on ONE core; ~0.4 s of that is
the gather-scatter, the rest fixed per-job cost, which is why its
core-scaling ratio is reported but not gated at local scale) — bsp is ~40×
faster per edge than df, and its steady state allocates nothing fresh,
making it immune to the fault-stall weather that made df bimodal. Numbers +
window protocol in BENCH/BASELINE.md.

The heavy relation (adjacency) is shuffled/bucketed **once**; supersteps
move only rank-sized (df) or message-sized (bsp) relations. Each
superstep's ranks are checkpointed/committed to truncate lineage (and, via
the resumable checkpointer or the bsp state files, to survive restarts).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import CheckpointFn, EphemeralCheckpointer, SuperstepHook, supersteps
from . import driver_tier
from .universe import graph_input

# Worker-resident CSR block cache for the bsp kernel: lives at module
# scope so it survives across tasks within a reused Python worker (the
# function shipped per task references it by module global;
# ``spark.python.worker.reuse`` keeps the process alive). Keyed by side-file
# dir, then bucket; a pagerank() call on another prep dir resets it,
# bounding worker memory to one graph.
_CSR_CACHE: dict = {"dir": None, "buckets": {}}


def _bsp_range(b: int, n_slots: int, n_buckets: int) -> tuple[int, int]:
    """Owned slot range of bucket ``b`` under the assignment function
    ``bucket(vid) = vid * B // n_slots`` (the exact inverse of the SQL-side
    integer division — both sides MUST use this one function or boundary vids
    mis-bucket)."""
    lo = -(-b * n_slots // n_buckets)
    hi = -(-(b + 1) * n_slots // n_buckets)
    return lo, hi


BSP_MIRROR_K = 8  # cross-fanout threshold above which a source is mirrored

# host-local roots that cannot satisfy the multi-executor state-residency
# contract (every executor must see the same side_dir — _pagerank_bsp)
_HOST_LOCAL_ROOTS = ("/dev/shm", "/tmp", "/var/tmp")


def _bsp_executor_count(spark) -> int:
    """Number of distinct JVMs holding block managers (1 in local mode).
    Best-effort via the internal status API; a failure reads as 1 (the
    per-task missing-state error in :func:`_rw_state` is the backstop)."""
    try:
        return int(spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size())
    except Exception:
        return 1


def _bsp_assert_storage(spark, prep_dir: str | None) -> None:
    """Fail LOUDLY at kernel entry when the session has multiple executors
    but the bucket-state directory is host-local — the configuration under
    which stage tasks would silently read missing/stale state once the
    scheduler places a bucket on a different machine (the contract
    :func:`_pagerank_bsp` documents). Local mode (one JVM) always passes.
    A shared-looking ``prep_dir`` is trusted (we cannot probe remote mounts
    from the driver); the per-task :func:`_rw_state` error is the backstop
    if the trust was misplaced."""
    if _bsp_executor_count(spark) <= 1:
        return
    real = os.path.realpath(prep_dir) if prep_dir is not None else None
    # path-component match, not bare prefix: /tmpshared or /var/tmp2 must
    # not be misclassified as the host-local /tmp / /var/tmp
    local = real is None or any(
        real == root or real.startswith(root + os.sep) for root in _HOST_LOCAL_ROOTS
    )
    if local:
        where = prep_dir if prep_dir is not None else "an ephemeral tmpfs dir"
        raise RuntimeError(
            f"bsp kernel on a multi-executor session with host-local bucket "
            f"state ({where}): per-bucket rank/CSR files must be visible to "
            f"every executor. Pass bsp_prep_dir on SHARED storage, or use "
            f"kernel='df' (no resident state). State-residency "
            f"contract: _pagerank_bsp docstring."
        )


def _load_bsp_bucket(side_dir: str, bucket: int, n_slots: int, n_buckets: int):
    """Load + encode one vid-range bucket for the bsp kernel (once per
    reused worker; resident thereafter).

    Ownership is arithmetic on dense vid slots: bucket b owns
    ``[b*n_slots//B, (b+1)*n_slots//B)``; local index = vid - lo. Edges are
    split three ways (the PowerGraph-style hybrid cut, chosen per
    (source, target-bucket) group so per-superstep message rows collapse to
    ~thousands — measured: naive per-cross-edge messages were 1.9M rows on
    the 16.6M-edge bench graph with 50% landing on the tool-hub bucket):

    - **in-range** (dst owned here): int32 local codes, bincount-scattered.
    - **combined cross** (source's fanout into the target bucket ≤
      ``BSP_MIRROR_K``): contributions are pre-aggregated per (tb, dst) with
      a load-time unique coding — many low-degree sources pointing at the
      same remote dst (e.g. conversation vertices → a tool hub) become ONE
      message row per source bucket.
    - **mirrored** (fanout > K, e.g. a tool hub scattering to thousands of
      remote dsts): the edges live resident at the TARGET (read from the
      ``mirror/`` dataset, written once at prep, partitioned by tb) and the
      source ships a single ``(tb, src, w)`` value row per superstep —
      fanout many → 1.

    The ``mask_<b>.bin`` membership file (written by the init job) marks
    which slots are real universe vertices — slots outside the universe must
    stay at rank 0 or the base term would leak mass to ghosts.

    Encoding runs ONCE per bucket, inside the parallel init job
    (:func:`_encode_bsp_edges` → ``.npy`` side files on tmpfs); workers
    then ``np.load(mmap_mode='r')`` the arrays. Memory-mapping is what makes
    task→worker assignment irrelevant: any of the reused Python workers can
    pick up any bucket's task and read the shared page-cache copy zero-cost,
    instead of re-parsing parquet + re-sorting per (worker, bucket) pair —
    measured: the re-encode misses kept 4-core supersteps at 5-13 s for six
    rounds at B=16, vs ~1 s warm.
    """
    import numpy as np

    if _CSR_CACHE["dir"] != side_dir:
        _CSR_CACHE["dir"] = side_dir
        _CSR_CACHE["buckets"] = {}
    blk = _CSR_CACHE["buckets"].get(bucket)
    if blk is not None:
        return blk
    lo, hi = _bsp_range(bucket, n_slots, n_buckets)
    n_owned = hi - lo
    mask = np.fromfile(os.path.join(side_dir, f"mask_{bucket}.bin"), dtype=np.uint8).view(bool)
    arrs = [
        np.load(os.path.join(side_dir, f"enc_{bucket}_{name}.npy"), mmap_mode="r")
        for name in _BSP_ENC_NAMES
    ]
    blk = (lo, n_owned, mask, *arrs)
    _CSR_CACHE["buckets"][bucket] = blk
    return blk


_BSP_ENC_NAMES = (
    "inv_owned", "src_in", "dst_in",
    "src_cross", "cross_code", "ucross_tb", "ucross_dst",
    "mir_src_local", "mir_tb",
    "u_msrc", "m_code", "m_dst_local",
)


_BSP_EDGE_ENC = _BSP_ENC_NAMES[:9]  # edge-derived arrays (source-side pass)
_BSP_MIRROR_ENC = _BSP_ENC_NAMES[9:]  # mirror arrays (target-side pass)


def _encode_bsp_edges(side_dir: str, bucket: int, src, dst, deg, n_slots: int, n_buckets: int):
    """Source-side encoding pass over one bucket's adjacency arrays (see
    :func:`_load_bsp_bucket` for the layout and the hybrid-cut rules).
    Writes the nine edge-derived ``.npy`` side files and RETURNS the
    bucket's mirrored cross edges (global src, global dst, target bucket)
    for the target-side pass — the fanout classification is computed once
    here, not re-derived by a parallel SQL rule. The arrays arrive straight
    from the prep shuffle (guide §2.4: the former flow wrote the bucketed
    adjacency to parquet and immediately read it back just to get it into
    this function)."""
    import numpy as np

    lo, hi = _bsp_range(bucket, n_slots, n_buckets)
    src_local = (src - lo).astype(np.int32)
    inv_owned = np.zeros(hi - lo)
    inv_owned[src_local] = 1.0 / deg  # duplicates write the same value
    in_m = (dst >= lo) & (dst < hi)
    src_in = src_local[in_m]
    dst_in = (dst[in_m] - lo).astype(np.int32)
    c_src = src_local[~in_m]
    c_dst = dst[~in_m]
    c_tb = c_dst * n_buckets // n_slots
    # per-(src, tb) fanout decides combined vs mirrored
    pair = c_src.astype(np.int64) * n_buckets + c_tb
    u_pair, pair_inv, pair_cnt = np.unique(pair, return_inverse=True, return_counts=True)
    mirrored = pair_cnt[pair_inv] > BSP_MIRROR_K
    mir_pairs = u_pair[pair_cnt > BSP_MIRROR_K]
    mir_src_local = (mir_pairs // n_buckets).astype(np.int32)
    mir_tb = (mir_pairs % n_buckets).astype(np.int32)
    src_cross = c_src[~mirrored]
    # combined-cross coding: one output row per distinct (tb, dst)
    tbdst = c_tb[~mirrored] * (n_slots + 1) + c_dst[~mirrored]
    u_tbdst, cross_code = np.unique(tbdst, return_inverse=True)
    cross_code = cross_code.astype(np.int32)
    ucross_tb = (u_tbdst // (n_slots + 1)).astype(np.int32)
    ucross_dst = (u_tbdst % (n_slots + 1)).astype(np.int64)
    local = locals()
    for name in _BSP_EDGE_ENC:
        np.save(os.path.join(side_dir, f"enc_{bucket}_{name}.npy"), local[name])
    return (
        lo + c_src[mirrored].astype(np.int64),
        c_dst[mirrored],
        c_tb[mirrored].astype(np.int32),
    )


def _encode_bsp_mirror(side_dir: str, bucket: int, msrc, mdst, n_slots: int, n_buckets: int):
    """Target-side encoding pass: remote high-fanout sources whose dsts are
    owned here, delivered by the prep shuffle keyed on target bucket."""
    import numpy as np

    lo, _hi = _bsp_range(bucket, n_slots, n_buckets)
    u_msrc, m_code = np.unique(msrc, return_inverse=True)
    m_code = m_code.astype(np.int32)
    m_dst_local = (mdst - lo).astype(np.int32)
    local = locals()
    for name in _BSP_MIRROR_ENC:
        np.save(os.path.join(side_dir, f"enc_{bucket}_{name}.npy"), local[name])


def _backfill_bsp_encodes(side_dir: str, bucket: int, n_owned: int) -> None:
    """Write the empty-default encode files a bucket that received no edges
    (or no mirror rows) in the prep shuffle never produced — the loader
    reads all twelve arrays unconditionally."""
    import numpy as np

    defaults = {
        "inv_owned": np.zeros(n_owned),
        "ucross_dst": np.empty(0, np.int64),
        "u_msrc": np.empty(0, np.int64),
    }
    for name in _BSP_ENC_NAMES:
        path = os.path.join(side_dir, f"enc_{bucket}_{name}.npy")
        if not os.path.exists(path):
            np.save(path, defaults.get(name, np.empty(0, np.int32)))


def _rank_update(w, src, dst, n: int, base: float, damping: float, extra=()):
    """One power-iteration step over ``n`` dense slots, shared by bsp stage B
    and the driver tier: bincount-scatter the weighted ranks ``w``
    (rank / out-degree) along ``src → dst``, add the ``extra`` contribution
    vectors in order (bsp's received messages), then
    ``base + damping · contrib``. ``base`` carries the teleport and dangling
    terms, ``(1−d)/n + d·dangling_mass/n``."""
    import numpy as np

    contrib = np.bincount(dst, weights=w[src], minlength=n)
    for c in extra:
        contrib = contrib + c
    return base + damping * contrib


def _rw_state(path: str, arr=None, count: int = 0):
    """Read or in-place-overwrite a raw float64 state file. Overwrite (not
    recreate) is the point: tmpfs pages stay allocated across supersteps, so
    steady-state IO is pure memcpy through the page cache — no fresh-page
    faults, which is what makes the bsp superstep immune to this sandbox's
    fault-stall weather (BENCH/BASELINE.md).

    A missing state file on the read path is a broken state-residency
    contract (a task ran on an executor that cannot see ``side_dir`` —
    see :func:`_pagerank_bsp`): fail loudly naming the contract rather than
    letting Spark retry into the same wall."""
    import numpy as np

    if arr is None:
        try:
            with open(path, "rb") as f:
                return np.fromfile(f, dtype=np.float64, count=count)
        except FileNotFoundError:
            raise RuntimeError(
                f"bsp bucket state file missing: {path}. The bsp kernel keeps "
                "per-bucket rank state in side files under side_dir; every "
                "executor that can run this bucket's task must see the same "
                "directory. On a multi-executor cluster pass bsp_prep_dir on "
                "SHARED storage (NFS/lustre/fuse mount) — host-local tmpfs is "
                "single-machine only (state-residency contract, "
                "_pagerank_bsp docstring)."
            ) from None
    mode = "r+b" if os.path.exists(path) else "w+b"
    with open(path, mode) as f:
        arr.astype(np.float64, copy=False).tofile(f)
    return None


def _pagerank_bsp(
    spark,
    adj_deg: DataFrame,
    universe: DataFrame,
    n: int,
    n_slots: int,
    damping: float,
    n_iter: int,
    buckets: int,
    loop,
    start_step: int,
    init_ranks: DataFrame | None,
    prep_dir: str | None = None,
    input_fp: str = "",
    no_dangling: bool = False,
) -> DataFrame:
    """Message-minimal BSP executor for dense-vid graphs (the transcript link
    graph: derive_graph emits dense vids, ingest/edges.py docstring).

    Per superstep, Spark moves ONLY the hybrid-cut-minimized cross-bucket
    message rows (range-bucketed by vid, a chain-structured conversation
    graph keeps ~boundary + tool-hub flows cross-bucket; combining +
    mirroring collapse those to ~10k rows vs 33M edge-messages on the
    16.6M-edge bench graph — :func:`_load_bsp_bucket`) plus B stat rows;
    rank state lives in per-bucket files overwritten in place, and CSR
    blocks are mmap-shared across the reused Python workers. This is the
    classic Pregel/PowerGraph layout (vertex state partition-resident, only
    messages move, high-degree vertices mirrored).

    **State-residency contract (cluster deployment).** Within one superstep
    there is NO cross-task file handoff: both stages only *read* the current
    rank file and only the bucket's stage-B task *writes* the next one — the
    superstep's only inter-task dataflow is the shuffled message relation.
    Across supersteps, bucket ``b``'s rank file written at step ``s`` must be
    readable by whichever executor runs ``b``'s tasks at step ``s+1`` (Spark
    does not pin partition→executor placement across jobs), so on a
    multi-executor cluster ``side_dir`` MUST be shared storage: pass
    ``prep_dir`` on a shared filesystem (the same place the one-time CSR
    encoding lives). The kernel enforces this loudly — a multi-executor
    session with host-local scratch raises at entry
    (:func:`_bsp_assert_storage`), and a task that cannot see its bucket's
    state file raises a contract-naming ``RuntimeError`` (:func:`_rw_state`)
    instead of computing on missing state. On local[N] (one host) any tmpfs
    dir satisfies the contract. Independently of the working state, a
    durable checkpointer (:mod:`elektra_spark.checkpoint`, ``durable=True``)
    gets a catalog commit of the full rank table after every superstep — the
    kill-and-resume contract; a resumed run re-buckets from that snapshot
    (``init_ranks``/``start_step``) and needs no prior side files.

    Superstep = ONE Spark job chaining two Arrow stages:
      stage A (per source bucket): read the bucket's current rank file,
        emit the minimized cross rows (tb, dst, c) + mirror value rows + one
        row per target bucket carrying this bucket's dangling mass (reads
        only — writes nothing; on a universe ``_prepare`` proved
        dangling-free, ``no_dangling``, one zero row to its own bucket);
      stage B (per target bucket): read the same current rank file, sum the
        B dangling partials it received (``math.fsum``, so every bucket
        gets the same scalar whatever order the shuffle delivers),
        bincount-scatter the bucket's own in-range contributions over the
        resident CSR, add the received message rows, apply the
        damping/dangling formula (:func:`_rank_update`), ping-pong-write the
        next rank file, emit (bucket, sum_rank, max_delta).
    The partial rows also guarantee every target bucket a stage-B group, so
    no driver round-trip sits between the stages — same dangling-mass
    semantics as the df kernel.
    """
    import math

    import numpy as np

    B = buckets
    _bsp_assert_storage(spark, prep_dir)
    # A caller-provided prep_dir makes the heavy one-time graph encoding
    # (bucket-partitioned edge/mirror/univ datasets + per-bucket .npy CSR
    # blocks) REUSABLE across sessions: on a cluster the prep is one full-
    # parallelism job whose output every later (differently sized) job mmaps;
    # locally it lets the bench prep once at local[32] and measure supersteps
    # at local[1]/local[4] without re-paying minutes of single-core prep per
    # JVM. The namespace folds in (B, n_slots, n) AND the caller-supplied
    # input fingerprint (edge count + xxhash64 checksum, computed in
    # pagerank() — one column-pruned scan): a changed edge table gets a
    # FRESH subtree instead of silently ranking the old graph, and re-encode
    # never happens in place — np.save truncates, which would clobber the
    # very inodes that long-lived Python workers hold mmap'd (_CSR_CACHE is
    # keyed by dir+bucket), so separate paths keep every live cache coherent.
    marker_val = f"{B},{n_slots},{n}{input_fp}"
    if prep_dir is not None:
        geo = f"g{B}x{n_slots}x{n}"
        if input_fp:
            geo += "_" + hashlib.sha1(input_fp.encode()).hexdigest()[:12]
        side_dir = os.path.join(prep_dir, geo)
        os.makedirs(side_dir, exist_ok=True)
        marker = os.path.join(side_dir, "_PREP_DONE")
        prep_ok = os.path.exists(marker) and open(marker).read() == marker_val
    else:
        base_tmp = "/dev/shm" if os.path.isdir("/dev/shm") else None
        side_dir = tempfile.mkdtemp(prefix="elektra-bsp-", dir=base_tmp)
        atexit.register(shutil.rmtree, side_dir, ignore_errors=True)
        prep_ok = False

    # exact long integer division (Python's // on the worker side must agree
    # bit-for-bit; float division would mis-bucket boundary vids)
    bucket_of = lambda name: F.expr(f"cast(({name} * {B}) div {n_slots} as int)")  # noqa: E731
    if not prep_ok:
        # Prep = two chained shuffles straight into the encode kernels
        # (guide §2.4/§4): the adjacency is shuffled by source bucket into
        # the source-side encoder, whose mirrored-edge OUTPUT rows are
        # shuffled by target bucket into the mirror encoder — one job, no
        # intermediate parquet datasets (the former flow wrote bucketed
        # edge/mirror/univ datasets and re-read each once), and the
        # combined-vs-mirrored fanout rule lives in exactly one kernel.
        def edges_enc_task(key, pdf):
            b = int(key[0])
            ms, md, mtb = _encode_bsp_edges(
                side_dir,
                b,
                pdf["src"].to_numpy(np.int64),
                pdf["dst"].to_numpy(np.int64),
                pdf["deg"].to_numpy(np.float64),
                n_slots,
                B,
            )
            return pd.DataFrame({"src": ms, "dst": md, "tb": mtb})

        def mirror_enc_task(key, pdf):
            b = int(key[0])
            _encode_bsp_mirror(
                side_dir, b,
                pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64),
                n_slots, B,
            )
            return pd.DataFrame({"tb": [b]})

        (
            adj_deg.withColumn("bucket", bucket_of("src"))
            .groupBy("bucket")
            .applyInPandas(edges_enc_task, "src long, dst long, tb int")
            .groupBy("tb")
            .applyInPandas(mirror_enc_task, "tb int")
            .collect()
        )

        # universe membership masks
        def mask_task(key, pdf):
            b = int(key[0])
            lo, hi = _bsp_range(b, n_slots, B)
            mask = np.zeros(hi - lo, dtype=np.uint8)
            mask[pdf["vid"].to_numpy(np.int64) - lo] = 1
            mask.tofile(os.path.join(side_dir, f"mask_{b}.bin"))
            return pd.DataFrame({"bucket": [b]})

        (
            universe.withColumn("bucket", bucket_of("vid"))
            .groupBy("bucket")
            .applyInPandas(mask_task, "bucket int")
            .collect()
        )
    init_dir = None
    if init_ranks is not None:
        init_dir = os.path.join(side_dir, "init")
        init_ranks.select("vid", "rank").withColumn("bucket", bucket_of("vid")).repartition(
            "bucket"
        ).write.mode("overwrite").partitionBy("bucket").parquet(init_dir)

    drv = spark.range(B).select(F.col("id").cast("int").alias("bucket"))
    drv = drv.repartition(B, "bucket").localCheckpoint(eager=True)

    def init_task(key, pdf):
        import pyarrow.parquet as pq

        b = int(key[0])
        lo, hi = _bsp_range(b, n_slots, B)
        # backfill what the prep shuffles never produced for this bucket
        # (no edges → no encode group, no universe rows → no mask group)
        _backfill_bsp_encodes(side_dir, b, hi - lo)
        mpath = os.path.join(side_dir, f"mask_{b}.bin")
        if os.path.exists(mpath):
            mask = np.fromfile(mpath, dtype=np.uint8)
        else:
            mask = np.zeros(hi - lo, dtype=np.uint8)
            mask.tofile(mpath)
        rank = np.zeros(hi - lo)
        if init_dir is not None:
            ipath = os.path.join(init_dir, f"bucket={b}")
            if os.path.isdir(ipath):
                it = pq.read_table(ipath, columns=["vid", "rank"])
                ivid = it.column("vid").to_numpy(zero_copy_only=False)
                rank[ivid - lo] = it.column("rank").to_numpy(zero_copy_only=False)
        else:
            rank[mask.view(bool)] = 1.0 / n
        _rw_state(os.path.join(side_dir, f"rank_{start_step % 2}_{b}.bin"), rank)
        return pd.DataFrame({"bucket": [b], "owned": [int(mask.sum())]})

    drv.groupBy("bucket").applyInPandas(init_task, "bucket int, owned long").collect()
    if prep_dir is not None and not prep_ok:
        with open(os.path.join(side_dir, "_PREP_DONE"), "w") as mf:
            mf.write(marker_val)

    def make_stage_a(step: int):
        p = step % 2

        def stage_a(key, pdf):
            b = int(key[0])
            (
                lo, n_owned, mask, inv_owned, _src_in, _dst_in,
                src_cross, cross_code, ucross_tb, ucross_dst,
                mir_src_local, mir_tb, _u_msrc, _m_code, _m_dst_local,
            ) = _load_bsp_bucket(side_dir, b, n_slots, B)
            rank = _rw_state(os.path.join(side_dir, f"rank_{p}_{b}.bin"), count=n_owned)
            w = rank * inv_owned
            # read-only stage: the bucket's own in-range gather-scatter moved
            # to stage B (state-residency contract — no intra-superstep file
            # handoff between tasks); A emits only the minimized messages
            # combined cross contributions: one row per distinct (tb, dst)
            ccontrib = np.bincount(
                cross_code, weights=w[src_cross], minlength=len(ucross_dst)
            )
            # this bucket's dangling mass (masked slots with no out-edge),
            # one dst=-1 row per target bucket; with no dangling vertex one
            # zero row to its own bucket still gives that bucket a stage-B
            # group
            if no_dangling:
                dtb, dpart = np.array([b], np.int32), 0.0
            else:
                dtb, dpart = np.arange(B, dtype=np.int32), float(rank[mask & (inv_owned == 0.0)].sum())
            return pd.DataFrame({
                # mirrored sources ship their w VALUE (m=True; dst = source
                # vid); the target applies it over its resident mirror edges
                "tb": np.concatenate([ucross_tb, mir_tb, dtb]),
                "dst": np.concatenate(
                    [ucross_dst, lo + mir_src_local.astype(np.int64), np.full(len(dtb), -1, np.int64)]
                ),
                "c": np.concatenate([ccontrib, w[mir_src_local], np.full(len(dtb), dpart)]),
                "m": np.concatenate(
                    [np.zeros(len(ucross_dst), bool), np.ones(len(mir_src_local), bool), np.zeros(len(dtb), bool)]
                ),
            })

        return stage_a

    def make_stage_b(step: int):
        p, q = step % 2, (step + 1) % 2

        def stage_b(key, pdf):
            b = int(key[0])
            (
                lo, n_owned, mask, inv_owned, src_in, dst_in,
                _src_cross, _cross_code, _ucross_tb, _ucross_dst,
                _mir_src_local, _mir_tb, u_msrc, m_code, m_dst_local,
            ) = _load_bsp_bucket(side_dir, b, n_slots, B)
            old = _rw_state(os.path.join(side_dir, f"rank_{p}_{b}.bin"), count=n_owned)
            dsts = pdf["dst"].to_numpy()
            cs = pdf["c"].to_numpy()
            mm = pdf["m"].to_numpy()
            dmass = math.fsum(cs[dsts < 0])
            extra = []
            real = (dsts >= 0) & ~mm
            if real.any():
                extra.append(np.bincount(
                    (dsts[real] - lo).astype(np.int64),
                    weights=cs[real],
                    minlength=n_owned,
                ))
            if mm.any():
                # mirrored-source values applied over the resident mirror
                # edges (loader docstring): align received (src, w) rows to
                # the load-time unique-source coding, then one bincount
                wvec = np.zeros(len(u_msrc))
                pos = np.searchsorted(u_msrc, dsts[mm])
                if len(u_msrc) == 0 or (u_msrc[np.minimum(pos, len(u_msrc) - 1)] != dsts[mm]).any():
                    # source- and target-side K classification disagree —
                    # must fail loudly, not silently misroute rank mass
                    raise ValueError("mirror-source row without resident mirror edges")
                wvec[pos] = cs[mm]
                extra.append(np.bincount(m_dst_local, weights=wvec[m_code], minlength=n_owned))
            # the bucket's own in-range gather-scatter lives HERE, in the
            # same task that consumes the bucket's message inbox and writes
            # its next rank file: within a superstep the only cross-task
            # dataflow is the shuffled message relation (docstring contract)
            base = (1.0 - damping) / n + damping * dmass / n
            new = np.where(
                mask, _rank_update(old * inv_owned, src_in, dst_in, n_owned, base, damping, extra), 0.0
            )
            _rw_state(os.path.join(side_dir, f"rank_{q}_{b}.bin"), new)
            delta = float(np.abs(new - old).max()) if n_owned else 0.0
            return pd.DataFrame(
                {"bucket": [b], "sum_rank": [float(new.sum())], "max_delta": [delta]}
            )

        return stage_b

    def make_emit(after_step: int):
        p = after_step % 2

        def emit(key, pdf):
            b = int(key[0])
            lo, hi = _bsp_range(b, n_slots, B)
            mask = np.fromfile(os.path.join(side_dir, f"mask_{b}.bin"), dtype=np.uint8).view(bool)
            rank = _rw_state(os.path.join(side_dir, f"rank_{p}_{b}.bin"), count=hi - lo)
            vids = lo + np.flatnonzero(mask)
            return pd.DataFrame({"vid": vids.astype(np.int64), "rank": rank[mask]})

        return emit

    # Durable checkpointers (CheckpointedRun.checkpoint_fn sets
    # ``durable=True``) get a rank-table commit after EVERY superstep — the
    # north rule's resume contract. The bsp state files are the kernel's
    # working storage (executor-local scratch on a cluster); the per-step
    # catalog commit is the durable snapshot a killed run resumes from
    # (``init_ranks``/``start_step`` re-bucket it at init). The default
    # EphemeralCheckpointer skips this: bsp state has no lineage to truncate,
    # so per-step commits would be pure overhead in a fire-and-forget run.
    checkpoint = loop.checkpoint
    durable = bool(getattr(checkpoint, "durable", False))
    committed = None

    a_schema = "tb int, dst long, c double, m boolean"
    b_schema = "bucket int, sum_rank double, max_delta double"
    for step in loop.steps(range(start_step, start_step + n_iter)):
        (
            drv.groupBy("bucket")
            .applyInPandas(make_stage_a(step), a_schema)
            .groupBy("tb")
            .applyInPandas(make_stage_b(step), b_schema)
            .collect()
        )
        if durable:
            committed = checkpoint(
                drv.groupBy("bucket").applyInPandas(make_emit(step + 1), "vid long, rank double"),
                step + 1,
            )
        loop.done()

    if committed is not None:
        return committed
    final = drv.groupBy("bucket").applyInPandas(
        make_emit(start_step + n_iter), "vid long, rank double"
    )
    return checkpoint(final, start_step + n_iter)


def _pagerank_small(spark, g, damping, n_iter, directed, loop, start_step):
    """The driver tier (:mod:`.driver_tier`): the oracle-shaped power
    iteration over a collected graph — ``bincount`` scatter, uniform
    dangling redistribution, warm start from ``g.values`` (ranks absent from
    ``init_ranks`` start at 0, as in the Spark kernels) — through the same
    :func:`_rank_update` step as bsp stage B."""
    import numpy as np

    n = len(g.vids)
    src, dst = g.src, g.dst
    if not directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    deg = np.bincount(src, minlength=n)
    inv_deg = np.divide(1.0, deg, out=np.zeros(n), where=deg > 0)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n) if g.values is None else np.nan_to_num(g.values.astype(np.float64))
    for _ in loop.steps(range(start_step, start_step + n_iter)):
        base = (1.0 - damping) / n + damping * float(rank[dangling].sum()) / n
        rank = _rank_update(rank * inv_deg, src, dst, n, base, damping)
        loop.done()
    return spark.createDataFrame(pd.DataFrame({"vid": g.vids, "rank": rank}), "vid long, rank double")


def _prepare(edges: DataFrame, vertices: DataFrame | None, directed: bool):
    """adjacency with source degrees + full vertex universe
    (:func:`.universe.graph_input`).

    Undirected graphs with no vertex table get the universe as a by-product
    of the degree aggregation (every endpoint appears as a src of the
    both-directions relation), sparing the 2|E|-row distinct the generic
    path pays (guide §2.4). The third return value says so: such a universe
    provably contains no dangling vertex (every member has an out-edge), so
    callers skip the dangling machinery without a probe job.
    """
    edges, universe = graph_input(edges, vertices)
    if directed:
        adj = edges.select("src", "dst")
    else:
        adj = edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    no_dangling = vertices is None and not directed
    if no_dangling:
        universe = deg.select(F.col("src").alias("vid"))
    adj_deg = adj.join(deg, "src")
    return adj_deg, deg, universe, no_dangling


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    n_iter: int = 30,
    directed: bool = False,
    kernel: str = "auto",
    num_buckets: int | None = None,
    checkpoint: CheckpointFn | None = None,
    on_superstep: SuperstepHook | None = None,
    start_step: int = 0,
    init_ranks: DataFrame | None = None,
    bsp_prep_dir: str | None = None,
) -> DataFrame:
    """PageRank → (vid, rank), ranks sum to 1. Fixed ``n_iter`` supersteps so
    engine and oracle execute the identical schedule.

    ``kernel``: ``'auto'`` (default) tries, in order, the driver tier
    (:func:`_pagerank_small`: at most ``driver_tier.SMALL_GRAPH_MAX`` edges
    and vertices, and only with no ``checkpoint`` and no ``bsp_prep_dir``),
    then ``'bsp'`` when the vid space is dense (max vid + 1 ≤ 4× vertex
    count, non-negative — true for derive_graph outputs), then ``'df'``;
    ``'bsp'``/``'df'`` force a Spark kernel (module docstring has the design
    + measured trade-offs; ``'bsp'`` raises on sparse vid spaces rather than
    burning slot files). Any other name raises ``ValueError``.

    Superstep plan shape (df kernel): the adjacency is hash-repartitioned by
    ``src`` **once** and cached; the cached scan advertises that partitioning,
    so the per-superstep join re-exchanges **only the rank side** (the rank
    table round-trips through the parquet checkpoint each superstep — the
    lineage-truncation/resumability commit — which discards its partitioning;
    the shuffled-hash-join hint keeps the big cached side from being re-sorted
    every round). Vertices with no in-edge are unioned in after the
    aggregation with a zero contribution, and the dangling mass joins as a
    broadcast 1-row column, so no superstep collects to the driver. Net per
    superstep: one small exchange of the rank relation into the join plus the
    map-side-combined ``groupBy(dst)`` shuffle; the heavy adjacency never
    moves again.

    ``init_ranks``/``start_step`` support mid-run resume from a checkpoint;
    the loaded ranks are materialized, not committed again as step
    ``start_step`` (the first commit is step ``start_step + 1``).

    ``bsp_prep_dir``: persistent directory for the bsp kernel's one-time
    graph encoding (bucketed edge/mirror/univ datasets + per-bucket CSR
    ``.npy`` blocks). A second run over the same edge table with the same
    ``num_buckets`` skips the prep entirely and mmaps the existing blocks —
    the cluster pattern where one full-parallelism prep job feeds many later
    rank jobs. Input identity is enforced: the prep subtree is keyed by
    geometry AND an input fingerprint (edge/vertex count + xxhash64
    checksum), so a mutated edge table re-preps into a fresh subtree rather
    than silently ranking the old graph. Caller owns the directory's
    lifetime (stale subtrees are not garbage-collected). On a multi-executor
    cluster this directory must be SHARED storage — the bsp state-residency
    contract (:func:`_pagerank_bsp`); host-local paths raise at entry.
    """
    if kernel not in ("auto", "bsp", "df"):
        raise ValueError(f"unknown pagerank kernel {kernel!r}; expected auto|bsp|df")
    spark = edges.sparkSession
    small_ok = kernel == "auto" and checkpoint is None and bsp_prep_dir is None
    adj_deg, deg, universe, no_dangling = _prepare(edges, vertices, directed)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    with supersteps(spark, "pagerank", checkpoint, on_superstep, EphemeralCheckpointer) as loop:
        # persisted un-repartitioned: the bsp path re-buckets by vid range
        # and the df path re-keys through its own checkpoint, so a generic
        # hash(vid) exchange here was a dead shuffle of |V| rows (guide §2.4)
        universe = universe.persist()
        # one scan serves every kernel: row count, the vid bounds that
        # decide bsp density and (df) int32 key narrowing, and — when a
        # reusable bsp prep dir needs the vertex-table fingerprint — the
        # xxhash64 identity sum, folded into the same aggregate instead of
        # a second |V|-row scan (string format identical to _fp below)
        need_vfp = (
            bsp_prep_dir is not None and vertices is not None and kernel in ("bsp", "auto")
        )
        agg_cols = [F.count("*"), F.max("vid"), F.min("vid")]
        if need_vfp:
            agg_cols.append(
                F.coalesce(
                    F.sum(F.xxhash64("vid").cast("decimal(38,0)")), F.lit(0)
                )
            )
        stats = universe.agg(*agg_cols)
        if small_ok:
            # the driver tier's edge count rides the same job as a second
            # row, so its bound costs no job of its own
            stats = stats.union(
                edges.agg(F.count("*"), *[F.lit(None)] * (len(agg_cols) - 1))
            )
        rows = stats.collect()
        row = rows[0]
        n, max_vid, min_vid = int(row[0]), row[1], row[2]
        vfp = f"{n}:{int(row[3])}" if need_vfp else None
        if n == 0:
            return spark.createDataFrame([], "vid long, rank double")
        # both sizes are known here, so a graph over the bound pays no probe
        # job; the probe collects the persisted universe, with the
        # warm-start ranks joined on
        if small_ok:
            sizes = (int(rows[1][0]), n)
            if init_ranks is None:
                g = driver_tier.collect_small(edges, universe, sizes=sizes)
            else:
                warm = universe.join(init_ranks.select("vid", "rank"), "vid", "left")
                g = driver_tier.collect_small(edges, warm, value="rank", sizes=sizes)
            if g is not None:
                universe.unpersist()
                return _pagerank_small(spark, g, damping, n_iter, directed, loop, start_step)
        if kernel in ("bsp", "auto"):
            n_slots = int(max_vid) + 1
            dense = min_vid is not None and min_vid >= 0 and n_slots <= 4 * n
            if kernel == "bsp" and not dense:
                raise ValueError(
                    f"bsp kernel needs dense non-negative vids (max vid {max_vid} vs "
                    f"{n} vertices); use kernel='df'"
                )
            if dense:
                # one CSR block per concurrent task slot (executor core):
                # fewer, bigger resident blocks beat 4×-core bucket counts
                # because the per-superstep cost is task-overhead-bound once
                # the hybrid cut has collapsed the message volume (measured
                # at 16.6M edges / 4 cores: B=cores 1.56 s vs B=4×cores
                # 2.24 s steady). On a cluster: B = total executor cores.
                buckets = num_buckets or spark.sparkContext.defaultParallelism
                # persistent-prep identity: fingerprint the INPUT tables
                # (count + order-independent xxhash64 sum; one column-pruned
                # scan each, paid only when a reusable prep_dir is in play)
                # so a changed edge table re-preps instead of silently
                # ranking the old graph off stale CSR blocks
                input_fp = ""
                if bsp_prep_dir is not None:
                    # sum the 64-bit hashes in decimal(38,0): a long sum of
                    # xxhash64 values can overflow (an ANSI error) from the
                    # second row on, while decimal(38,0) holds about
                    # 10^38 / 2^63 ≈ 10^19 rows of them
                    def _fp(df, *cols):
                        h = F.xxhash64(*cols).cast("decimal(38,0)")
                        r = df.agg(F.count("*"), F.coalesce(F.sum(h), F.lit(0))).collect()[0]
                        return f"{int(r[0])}:{int(r[1])}"

                    input_fp = f",e{_fp(edges, 'src', 'dst')},d{int(directed)}"
                    if vertices is not None:
                        # computed in the universe aggregate above (the
                        # table's distinct vids), same expression as _fp
                        input_fp += f",v{vfp}"
                out = _pagerank_bsp(
                    spark, adj_deg, universe, n, n_slots, damping, n_iter, buckets,
                    loop, start_step, init_ranks,
                    prep_dir=bsp_prep_dir, input_fp=input_fp, no_dangling=no_dangling,
                )
                universe.unpersist()
                return out
            kernel = "df"  # auto fallback for sparse vid spaces
        checkpoint = loop.checkpoint
        # int32 join keys for the df superstep when every vid fits 31 bits
        # (known from the universe agg above): halves the bytes the
        # per-superstep rank exchange and contribution aggregation hash and
        # move (guide §2.3); the result is cast back to long on return
        narrow = min_vid is not None and min_vid >= 0 and int(max_vid) < 2**31
        if narrow:
            adj_deg = adj_deg.select(
                F.col("src").cast("int").alias("src"),
                F.col("dst").cast("int").alias("dst"),
                "deg",
            )
        # heavy relation: shuffled once, cached with its partitioning
        adj_deg = adj_deg.repartition(parts, "src").persist()
        adj_deg.count()

        key_t = "int" if narrow else "long"
        universe_k = universe.select(F.col("vid").cast(key_t).alias("vid")) if narrow else universe

        # dangling set precomputed once; the per-round scalar is skipped when
        # structurally empty (a deg-derived universe proves it without a job
        # — _prepare; otherwise undirected graphs have only isolated ones)
        dangling = None
        has_dangling = False
        if not no_dangling:
            dangling = universe_k.join(
                deg.select(F.col("src").cast(key_t).alias("vid")), "vid", "left_anti"
            ).persist()
            has_dangling = dangling.count() > 0

        # Vertices with no in-edge never appear in the contribution
        # aggregate; their rank is the closed-form base term each superstep.
        # They are unioned in as a (usually empty) static set instead of
        # shipping |V| zero-contribution base rows through every superstep's
        # aggregation shuffle, which cut the per-superstep aggregate input
        # from |adj|+|V| to |adj| rows (guide §2.3 — aggregate fewer bytes).
        # Undirected: in-neighbors are out-neighbors, so zero in-edges means
        # degree 0 — exactly the dangling set already computed.
        if directed:
            no_in = universe_k.join(
                adj_deg.select(F.col("dst").alias("vid")).distinct(), "vid", "left_anti"
            ).persist()
            has_no_in = no_in.count() > 0
        else:
            no_in = dangling
            has_no_in = has_dangling

        if init_ranks is not None:
            # a warm start is already durable: materialize, don't commit it again
            ranks = checkpoint(
                init_ranks.select(F.col("vid").cast(key_t).alias("vid"), "rank")
                .repartition(parts, "vid"),
                -1,
            )
        else:
            ranks = checkpoint(
                universe_k.withColumn("rank", F.lit(1.0 / n)).repartition(parts, "vid"),
                start_step,
            )

        for step in loop.steps(range(start_step, start_step + n_iter)):
            contrib = (
                adj_deg.join(ranks.hint("shuffle_hash"), adj_deg.src == ranks.vid)
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            )
            if has_no_in:
                # contrib = 0.0 yields the closed-form base rank exactly
                contrib = contrib.unionByName(no_in.select("vid", F.lit(0.0).alias("contrib")))
            # dangling mass rides as a broadcast 1-row cross join (the
            # ppr/hits pattern), so no superstep collects to the driver
            if has_dangling:
                dmc = dangling.join(ranks, "vid").agg(
                    (F.coalesce(F.sum("rank"), F.lit(0.0)) / F.lit(float(n))).alias("dm")
                )
                contrib = contrib.crossJoin(F.broadcast(dmc))
                dm_col = F.col("dm")
            else:
                dm_col = F.lit(0.0)
            new_ranks = contrib.select(
                "vid",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * (F.col("contrib") + dm_col)
                ).alias("rank"),
            )
            ranks = checkpoint(new_ranks, step + 1)
            loop.done()
        adj_deg.unpersist()
        universe.unpersist()
        if dangling is not None:
            dangling.unpersist()
        if directed:
            no_in.unpersist()
    if narrow:
        ranks = ranks.select(F.col("vid").cast("long").alias("vid"), "rank")
    return ranks
