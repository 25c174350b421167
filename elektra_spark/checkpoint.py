"""Superstep checkpointing: the ``checkpoint=`` materializers of every
iterative operator, and durable runs with lineage, metrics and resume (M5).

A :class:`CheckpointedRun` makes each superstep durable with **one catalog
commit**: a snapshot of the ``<run_id>_<state>`` table, one atomic manifest
swap. The snapshot is the lineage truncation (plans read back from parquet)
and carries per-partition lineage ``(run_id, state, superstep,
partition_id, rows)`` as its summary — per-file row counts from the parquet
footers, no Spark job; ``partition_id`` is the write task's index
(``part-NNNNN``); the analogue of elektra connectivity.h:466-534's debug
dumps. So a superstep is resumable exactly when its lineage is recorded.
The hook appends frontier metrics ``(run_id, state, superstep, frontier,
seconds)`` to the same manifest (one swap, no Spark job; the reference's
benchmarks/get_time.h timers). ``lineage_table()``/``metrics_table()`` read
both back for every run under the root. ``latest_step()`` is the last
durable superstep; operators take ``start_step``/``init_*`` to resume
mid-iteration (tests/test_checkpoint.py: kill-and-resume, crash window).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .tables import SnapshotCatalog


@contextmanager
def _no_aqe(spark: SparkSession):
    """Disable AQE for the duration of an iterative fixpoint loop.

    AQE re-optimizes at every exchange, turning each superstep into several
    jobs; for the fixpoint the per-superstep relations are the (small) label /
    quotient tables, the join keys are min-aggregated (map-side combinable, so
    hub skew cannot produce a hot reducer), and the plan shape is identical
    every round — runtime re-planning is pure overhead. The heavy, skew-prone
    one-shot scans (edge derivation, triangle joins, PageRank contributions)
    keep AQE on.
    """
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


# CheckpointFn contract: callable (state_df, step) -> materialized state_df;
# step < 0 marks a static relation (materialize only, no commit). Optional
# attribute ``durable: bool`` — operators whose working state lives OUTSIDE
# the DataFrame plan (the bsp PageRank kernel's bucket files) read it via
# getattr to decide per-superstep catalog commits. The flag lives on the
# function OBJECT, so wrapping a checkpoint fn (functools.partial, lambda,
# decorator) silently drops it and downgrades to end-of-run-only commits:
# wrappers must re-set ``wrapper.durable = inner.durable``
# (CheckpointedRun.checkpoint_fn below sets it; EphemeralCheckpointer and
# RetainedCheckpointer deliberately lack it).
# Liveness: EphemeralCheckpointer additionally assumes a SINGLE state chain
# (each call's output is consumed only by the next call's input); loops that
# retain several live frames per round must use RetainedCheckpointer.
CheckpointFn = Callable[[DataFrame, int], DataFrame]
SuperstepHook = Callable[[int, int, float], Any]

# EphemeralCheckpointer hard-commits (parquet round-trip) every TRUNCATE_EVERY-th call
TRUNCATE_EVERY = 4


class RetainedCheckpointer:
    """Superstep materializer for loops that keep **more than one live state
    frame** per round (BFS visited+frontier, HITS hub+auth, k-core deg+edges).

    :class:`EphemeralCheckpointer` assumes a single state chain — each call's
    output is consumed only by the next call's input — which lets it unpersist
    old frames and delete the previous hard commit. A loop that still holds an
    older frame when the next commit lands would see its backing files vanish
    (FAILED_READ_FILE on the next action). This variant trades that
    aggressiveness for safety: every call is a parquet hard commit (lineage
    truncated every round — no plan-depth growth) and **nothing is deleted
    until process exit**, so any frame the loop retained stays readable.
    Scratch lives on tmpfs when available; round states for the operators
    using this are vertex-sized tables, not edge-sized, so retained bytes
    stay modest. Static relations (step < 0) are localCheckpointed once,
    as in EphemeralCheckpointer.
    """

    def __init__(self):
        import atexit
        import tempfile

        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        self.dir = tempfile.mkdtemp(prefix="elektra-rckpt-", dir=base)
        self._n = 0
        atexit.register(shutil.rmtree, self.dir, ignore_errors=True)

    def __call__(self, df: DataFrame, step: int) -> DataFrame:
        if step < 0:
            return df.localCheckpoint(eager=True)
        self._n += 1
        path = os.path.join(self.dir, f"s{self._n}")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)


class EphemeralCheckpointer:
    """Default superstep materializer for non-resumable runs: the state table
    stays **persisted in the JVM** between supersteps and is hard-committed to
    parquet (tmpfs scratch) every :data:`TRUNCATE_EVERY` rounds to truncate
    lineage.

    Why hybrid: the persisted frame keeps the hash partitioning the previous
    round's aggregation produced, so the next superstep's join needs **no
    exchange of the state side at all**, and it skips the parquet read-back —
    measured ~1.2 s/superstep of fixed (non-scaling) cost on the 8.3M-edge
    scaling graph at 4 cores, which is what moved N→4N efficiency from ~0.78
    to ~0.87. Pure persist chains can't run forever (plan depth grows, and
    chained ``localCheckpoint`` was measured degrading 19s → 72s per
    superstep over 6 rounds at 4M rows), so every ``TRUNCATE_EVERY``-th round
    does the parquet round-trip that resets lineage — the same shape as the
    production path, where the durable snapshot commit
    (:class:`CheckpointedRun`) is the truncation point (SURVEY.md §7.4
    'iterative lineage'). Static relations (step < 0) are localCheckpointed
    once.
    """

    def __init__(self):
        import atexit
        import tempfile

        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        self.dir = tempfile.mkdtemp(prefix="elektra-ckpt-", dir=base)
        self._n = 0
        self._persisted: list[DataFrame] = []
        self._prev_commit: str | None = None
        # the final snapshot backs the operator's *returned* DataFrame, so
        # the scratch dir must outlive this object — clean at process exit
        atexit.register(shutil.rmtree, self.dir, ignore_errors=True)

    def __call__(self, df: DataFrame, step: int) -> DataFrame:
        from pyspark import StorageLevel

        if step < 0:
            return df.localCheckpoint(eager=True)
        self._n += 1
        if self._n % TRUNCATE_EVERY == 0:
            # hard commit: parquet round-trip resets lineage. The write
            # consumes the retained persisted frames, so they can be released
            # afterwards; the previous commit's files are only referenced by
            # lineage that the fresh read-back no longer carries.
            path = os.path.join(self.dir, f"s{self._n}")
            df.write.mode("overwrite").parquet(path)
            out = df.sparkSession.read.parquet(path)
            for p in self._persisted:
                p.unpersist()
            self._persisted.clear()
            if self._prev_commit:
                shutil.rmtree(self._prev_commit, ignore_errors=True)
            self._prev_commit = path
            return out
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()  # materialize eagerly — one job per superstep, as before
        self._persisted.append(out)
        if len(self._persisted) > 2:
            # frames older than two rounds have no live consumers; their
            # lineage (back to the last hard commit) stays replayable
            self._persisted.pop(0).unpersist()
        return out


class CheckpointedRun:
    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.catalog = SnapshotCatalog(spark, root)

    def _state_table(self, state: str) -> str:
        if "_" in state:
            raise ValueError(f"state name {state!r} must not contain '_'")
        return f"{self.run_id}_{state}"

    # -- checkpoint function factory (plugs into operators' `checkpoint=`) --
    def checkpoint_fn(self, state: str = "labels"):
        name = self._state_table(state)

        def _cp(df: DataFrame, step: int) -> DataFrame:
            if step < 0:
                # static relations (edge lists, adjacency): materialize only
                return df.localCheckpoint(eager=True)
            self.catalog.write(name, df, operation=f"superstep={step}")
            return self.catalog.read(name)

        # operators whose state lives outside the DataFrame plan (the bsp
        # PageRank kernel's bucket files) key per-superstep durable commits
        # off this flag — see the CheckpointFn contract above
        _cp.durable = True
        return _cp

    # -- frontier metrics hook (plugs into operators' `on_superstep=`) ------
    def metrics_hook(self, state: str = "labels"):
        name = self._state_table(state)

        def _hook(step: int, frontier: int, seconds: float) -> None:
            entry = {"superstep": int(step), "frontier": int(frontier), "seconds": float(seconds),
                     "committed_at": time.time()}
            self.catalog.add_entry(name, "metrics", entry)

        return _hook

    # -- resume -------------------------------------------------------------
    def _supersteps(self, name: str):
        """(superstep, snapshot entry) for each checkpoint commit of a table."""
        for s in self.catalog.history(name):
            if s["operation"].startswith("superstep="):
                yield int(s["operation"].split("=")[1]), s

    def latest_step(self, state: str = "labels") -> int | None:
        """Last durably committed superstep for this state, or None."""
        return max((k for k, _ in self._supersteps(self._state_table(state))), default=None)

    def load(self, state: str = "labels", step: int | None = None) -> DataFrame:
        """State at a superstep (default: latest committed)."""
        name = self._state_table(state)
        version = None if step is None else next(s["version"] for k, s in self._supersteps(name) if k == step)
        return self.catalog.read(name, version=version)

    # -- lineage / metrics, read from the manifests of every run ------------
    def _runs(self):
        for name in sorted(os.listdir(self.catalog.root)):
            run_id, _, state = name.rpartition("_")
            if run_id:
                yield run_id, state, name

    def lineage_table(self) -> DataFrame:
        # one file per write task: part-NNNNN-… carries the task index
        rows = [
            (run_id, state, step, int(f.split("-")[1]), n, s["committed_at"])
            for run_id, state, name in self._runs()
            for step, s in self._supersteps(name)
            for f, n in s["files"].items()
        ]
        return self.spark.createDataFrame(
            rows, "run_id string, state string, superstep int, partition_id int, rows long, committed_at double"
        )

    def metrics_table(self) -> DataFrame:
        rows = [
            (run_id, state, m["superstep"], m["frontier"], m["seconds"], m["committed_at"])
            for run_id, state, name in self._runs()
            for m in self.catalog.entries(name, "metrics")
        ]
        return self.spark.createDataFrame(
            rows, "run_id string, state string, superstep int, frontier long, seconds double, committed_at double"
        )
