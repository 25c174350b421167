"""One benchmark run inside one Spark session: set-up, warm-up, timed rounds.

Started by ``run.py`` as a child process (its own process group), so the
parent can sample the memory of the whole process tree, stop everything the
run started and see what it left behind. Writes ``result.json`` into the work
directory; the parent turns it into the benchmark's output line.

Every layer is timed from outside, around calls into public functions of
``session``, ``ingest``, ``operators``, ``checkpoint``, ``tables`` and
``dynamic``. With ``--trace 1`` each call becomes a span (name, start, end,
parent, round) and runs under its own Spark job group, whose job, task and
failed-task counts are read back from ``statusTracker()``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager

import numpy as np

import oracle

# One warm-up round, identical to a timed round, takes the cold costs (class
# loading, code generation, JIT, the first Python workers): 1.3x a timed
# round on durable-updates and over 2x on transcript-analytics (4 cores).
# Round time still slides after it, by a few per cent a round; the drift
# check reports how much. A warm-up that waited until two rounds agreed
# within 10% was tried: it made setup_s bimodal (one round is 25-35% of it)
# and runs longer than the time budget allows.
WARMUP = 1
# Timed rounds per run, at the least: a fixed count, so every run samples
# the same stretch of that slide. Two, because a run is mostly JVM start,
# set-up and the cold round (35-45 s on 4 cores), and 48 runs, ten seeds per
# workload twice and some more, must fit in 57 minutes. A third timed round
# took a durable-updates run to 65-74 s when the host was slow, and did not
# narrow the spread of round_s between runs (13% either way over five seeds):
# that spread comes from the host's speed, which moves between runs.
# More rounds run only if these took less than --seconds.
TIMED = 2

# ---- tracing ------------------------------------------------------------

class Tracer:
    """Spans around public calls and per-layer values, each value kept
    with its round so the values of warm-up rounds can be dropped. Disabled,
    ``span`` only yields and ``record`` drops the value."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.round: int | None = None
        self.values: dict[str, list[tuple[int | None, float]]] = {}

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values.setdefault(name, []).append((self.round, value))

    def values_from(self, first: int) -> dict[str, list[float]]:
        """Values recorded outside rounds or in rounds ``first`` and later."""
        out = {k: [x for r, x in v if r is None or r >= first] for k, v in self.values.items()}
        return {k: v for k, v in out.items() if v}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self.stack[-1] if self.stack else None
        rec = {"id": len(self.spans) + len(self.stack) + 1, "name": name,
               "parent": parent["id"] if parent else None, "round": self.round}
        rec["group"] = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        self.stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def count_jobs(self, spans: list[dict]) -> None:
        """Fill jobs/tasks/failed per span from its own job group (jobs of
        nested spans belong to the nested span)."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + 2.0
        while st.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.01)  # status events arrive on the listener bus
        for rec in spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else []:
                    si = st.getStageInfo(s)
                    if si:
                        tasks += si.numCompletedTasks
                        failed += si.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, failed=failed)

    def inclusive(self, spans: list[dict], key: str) -> dict[int, int]:
        """Per span id: its own count plus all of its descendants'."""
        total = {r["id"]: r[key] for r in spans}
        for r in sorted(spans, key=lambda r: -r["id"]):
            if r["parent"] in total:
                total[r["parent"]] += total[r["id"]]
        return total

    def dump(self, path: str) -> None:
        by_parent: dict[int, list[dict]] = {}
        for r in self.spans:
            by_parent.setdefault(r["parent"], []).append(r)
        out = []
        for r in sorted(self.spans, key=lambda r: r["start"]):
            kids = sorted(by_parent.get(r["id"], []), key=lambda k: k["start"])
            covered, edge = 0.0, r["start"]
            for k in kids:  # union of child intervals inside the span
                lo, hi = max(k["start"], edge), min(k["end"], r["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append({**r, "seconds": r["end"] - r["start"],
                        "self_seconds": r["end"] - r["start"] - covered})
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


# ---- workloads ------------------------------------------------------------

class Workload:
    """A fixed unit of work on identical input, run as rounds. ``inputs``
    holds the input paths, the workload's parameters (``params``) and the
    oracle answers (``want_*``), all made by ``run.py``. Failed checks and
    raised calls are collected in ``failures``."""

    def __init__(self, spark, tracer: Tracer, work: str, inputs: dict):
        self.spark, self.tr, self.work, self.inp = spark, tracer, work, inputs
        self.p = inputs.get("params", {})
        self.attempted = 0
        self.failures: list[str] = []

    def op(self, name: str, fn, check):
        """One checked operation: a traced call, then its output check.
        A raise or a wrong output is a failed operation."""
        self.attempted += 1
        try:
            with self.tr.span(name):
                out = fn()
            why = check(out)
        except Exception as e:  # the run goes on; the failure is counted
            traceback.print_exc()
            why = f"{name} raised {type(e).__name__}: {e}"
        if why:
            self.failures.append(f"{name}: {why}")
        return not why

    def setup(self) -> None:
        pass

    def prepare(self, k: int) -> str | None:
        """Off the clock, before round ``k``: → the fresh catalog root the
        round commits to, if it commits at all."""
        return None

    def round(self, k: int, root: str | None) -> None:
        raise NotImplementedError

    def catalog_stats(self, root: str) -> None:
        """Snapshots, data files and bytes the round committed under ``root``."""
        snaps = files = size = 0
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                if n == "_manifest.json":
                    with open(p) as f:
                        snaps += sum(1 for s in json.load(f)["snapshots"] if s["path"].startswith(root))
                elif n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(p)
        self.tr.record("tables.snapshots", snaps)
        self.tr.record("tables.files", files)
        self.tr.record("tables.bytes_written", size)


class TranscriptAnalytics(Workload):
    """derive → PageRank → CC → LPA → triangles, ephemeral checkpoints."""

    def round(self, k, root):
        from elektra_spark.ingest.edges import derive_graph
        from elektra_spark.operators.cc import connected_components
        from elektra_spark.operators.lpa import label_propagation
        from elektra_spark.operators.pagerank import pagerank
        from elektra_spark.operators.triangles import triangle_count

        inp, tr, g = self.inp, self.tr, {}

        def derive():
            lg = derive_graph(self.spark.read.parquet(inp["transcripts"]))
            g["e"] = lg.edges.localCheckpoint(eager=True)
            g["v"] = lg.vertices.select("vid").localCheckpoint(eager=True)
            return g["e"].toPandas(), g["v"].count()

        def check_graph(out):
            edges, nv = out
            tr.record("ingest.edges", len(edges))
            tr.record("ingest.vertices", nv)
            return (oracle.check_edges(edges, inp["src"], inp["dst"])
                    or oracle.check_count(nv, len(inp["vids"]), "vertices"))

        if not self.op("ingest.derive", derive, check_graph):
            return  # the rest of the round has no input
        e, v = g["e"], g["v"]
        hook = (lambda name: (lambda step, frontier, s: tr.record(name, s))) if tr.enabled else (lambda name: None)
        self.op("pagerank",
                lambda: pagerank(e, vertices=v, n_iter=self.p["pagerank_steps"],
                                 on_superstep=hook("pagerank.superstep_s")).toPandas(),
                lambda pdf: oracle.check_ranks(pdf, inp["want_pagerank"]))
        phase = (lambda name, s: tr.record(f"cc.phase.{name}_s", s)) if tr.enabled else None
        self.op("cc",
                lambda: connected_components(e, vertices=v, on_phase=phase).toPandas(),
                lambda pdf: oracle.check_labels(pdf, "component", inp["want_cc"]))
        self.op("lpa",
                lambda: label_propagation(e, vertices=v, rounds=self.p["lpa_rounds"],
                                          on_superstep=hook("lpa.superstep_s")).toPandas(),
                lambda pdf: oracle.check_labels(pdf, "label", inp["want_lpa"]))
        self.op("triangles",
                lambda: triangle_count(e).collect()[0][0],
                lambda n: oracle.check_count(n, int(inp["want_triangles"]), "triangles"))


class DurableUpdates(Workload):
    """A resume of durable LPA supersteps, then link insert/delete batches
    with connectivity queries; every step commits to a snapshot catalog
    under a fresh root per round."""

    def setup(self):
        from pyspark.sql import functions as F

        from elektra_spark.checkpoint import CheckpointedRun
        from elektra_spark.dynamic.updates import DynamicGraph
        from elektra_spark.operators.lpa import label_propagation
        from elektra_spark.tables import SnapshotCatalog

        # edge and vertex lists read like the CLI's --edges input
        self.e = self.spark.read.parquet(self.inp["edges"]).localCheckpoint(eager=True)
        self.v = self.spark.read.parquet(self.inp["vertices"]).localCheckpoint(eager=True)
        ups = self.spark.read.parquet(self.inp["updates"])
        self.batch_df = [ups.filter(F.col("batch") == i).select("src", "dst")
                         for i in range(len(self.p["batches"]))]
        self.queries = self.spark.read.parquet(self.inp["queries"])
        # the interrupted durable run and the preloaded graph are built once;
        # each round starts from copies of their manifests, so every round
        # resumes from, and updates, the same snapshots
        self.templates = {name: os.path.join(self.work, "templates", name) for name in ("supersteps", "graph")}
        run = CheckpointedRun(self.spark, self.templates["supersteps"], "lpa")
        self.op("lpa.durable",
                lambda: label_propagation(self.e, vertices=self.v, rounds=self.p["lpa_rounds"],
                                          checkpoint=run.checkpoint_fn("labels"),
                                          on_superstep=run.metrics_hook("labels")).toPandas(),
                lambda pdf: oracle.check_labels(pdf, "label", self.inp["want_lpa"]))
        base = ups.filter(F.col("batch") == -1).select("src", "dst")
        DynamicGraph.create(SnapshotCatalog(self.spark, self.templates["graph"]), base, vertices=self.v)

    def prepare(self, k):
        root = os.path.join(self.work, "rounds", f"r{k}")
        for name, template in self.templates.items():
            for table in os.listdir(template):
                os.makedirs(os.path.join(root, name, table))
                shutil.copy(os.path.join(template, table, "_manifest.json"), os.path.join(root, name, table))
        return root

    def round(self, k, root):
        from elektra_spark.checkpoint import CheckpointedRun
        from elektra_spark.dynamic.updates import DynamicGraph
        from elektra_spark.operators.lpa import label_propagation
        from elektra_spark.tables import SnapshotCatalog

        tr = self.tr
        run = CheckpointedRun(self.spark, os.path.join(root, "supersteps"), "lpa")
        cp, hook = run.checkpoint_fn("labels"), run.metrics_hook("labels")
        if tr.enabled:
            cp, hook = self._timed_checkpoint(cp), self._timed_hook(hook)

        def resume():
            with tr.span("checkpoint.resume_load"):
                step = run.latest_step("labels")
                init = run.load("labels")
            with tr.span("lpa"):
                return label_propagation(self.e, vertices=self.v, rounds=self.p["resume_rounds"], checkpoint=cp,
                                         on_superstep=hook, start_step=step, init_labels=init).toPandas()

        # the resumed labels must equal those of an uninterrupted run
        self.op("checkpoint.resume", resume,
                lambda pdf: oracle.check_labels(pdf, "label", self.inp["want_lpa_resumed"]))

        dg = DynamicGraph(SnapshotCatalog(self.spark, os.path.join(root, "graph")))
        qs = self.inp["query_pairs"]
        for i, kind in enumerate(self.p["batches"]):
            apply = dg.batch_add_edges if kind == "add" else dg.batch_delete_edges
            if self.op(f"updates.{kind}", lambda: apply(self.batch_df[i]), lambda _: None):
                want = self.inp[f"want_cc_{i}"]
                self.op("updates.query", lambda: dg.batch_connected(self.queries).toPandas(),
                        lambda pdf: oracle.check_connected(pdf, qs, want))
        final = self.inp[f"want_cc_{len(self.p['batches']) - 1}"]
        self.op("updates.labels", lambda: dg.labels().toPandas(),
                lambda pdf: oracle.check_labels(pdf, "component", final))

    def _timed_checkpoint(self, inner):
        def cp(df, step):
            if step < 0:
                return inner(df, step)
            with self.tr.span("checkpoint.commit"):
                return inner(df, step)
        # CheckpointFn contract (operators/cc.py): a wrapper must carry the
        # inner function's durable flag, or durable per-superstep commits
        # silently become one commit at the end of the run
        cp.durable = getattr(inner, "durable", False)
        return cp

    def _timed_hook(self, inner):
        def hook(step, frontier, seconds):
            self.tr.record("lpa.superstep_s", seconds)
            with self.tr.span("checkpoint.metrics"):
                inner(step, frontier, seconds)
        return hook


WORKLOADS = {"transcript-analytics": TranscriptAnalytics, "durable-updates": DurableUpdates}


# ---- the run --------------------------------------------------------------

def load_inputs(work: str) -> dict:
    with open(os.path.join(work, "inputs.json")) as f:
        inp = json.load(f)
    with np.load(os.path.join(work, "inputs.npz")) as arrays:
        inp.update({k: arrays[k] for k in arrays.files})
    return inp


def collect_round_metrics(tr: Tracer, spans: list[dict]) -> None:
    """Per-layer values of one measured round, from its spans."""
    tr.count_jobs(spans)
    jobs = tr.inclusive(spans, "jobs")
    tasks = tr.inclusive(spans, "tasks")
    by_name: dict[str, list[dict]] = {}
    for r in spans:
        by_name.setdefault(r["name"], []).append(r)
    rnd = by_name["round"][0]
    tr.record("spark.jobs_per_round", jobs[rnd["id"]])
    tr.record("spark.tasks_per_round", tasks[rnd["id"]])
    tr.record("spark.failed_tasks", sum(r["failed"] for r in spans))
    # only layers the round called get values; run.py tells a layer the
    # workload does not exercise from one whose measurement stopped working
    for name in ("pagerank", "cc", "lpa", "triangles"):
        calls = by_name.get(name, [])
        if calls:
            tr.record(f"{name}.call_s", sum(r["end"] - r["start"] for r in calls))
            tr.record(f"{name}.jobs", sum(jobs[r["id"]] for r in calls))
    if "pagerank" in by_name:
        tr.record("pagerank.tasks", sum(tasks[r["id"]] for r in by_name["pagerank"]))
    for r in by_name.get("ingest.derive", []):
        tr.record("ingest.derive_s", r["end"] - r["start"])
    if "checkpoint.commit" in by_name:
        tr.record("checkpoint.commits", len(by_name["checkpoint.commit"]))
    for name, metric in (("checkpoint.commit", "checkpoint.commit_s"),
                         ("checkpoint.metrics", "checkpoint.metrics_s"),
                         ("checkpoint.resume_load", "checkpoint.resume_load_s"),
                         ("checkpoint.resume", "checkpoint.resume_s"),
                         ("updates.add", "updates.add_s"),
                         ("updates.delete", "updates.delete_s"),
                         ("updates.query", "updates.query_s")):
        for r in by_name.get(name, []):
            tr.record(metric, r["end"] - r["start"])
    for r in by_name.get("updates.add", []) + by_name.get("updates.delete", []):
        tr.record("updates.jobs_per_batch", jobs[r["id"]])


def schedule(one_round, seconds: float, timed: int) -> float:
    """``WARMUP`` rounds (``one_round()``), then ``timed`` rounds, and more
    only if those took less than ``seconds``. → perf_counter time the first
    timed round started."""
    for _ in range(WARMUP):
        one_round()
    t0 = time.perf_counter()
    n = 0
    while n < timed or time.perf_counter() - t0 < seconds:
        one_round()
        n += 1
    return t0


def drift(timed: list[float]) -> float:
    """Median of the second half of the timed rounds over the median of
    the first half; near 1 when round time stayed flat."""
    half = len(timed) // 2
    return statistics.median(timed[half:]) / statistics.median(timed[:half])


def java_options() -> str:
    """The driver JVM's heap starts at its maximum and is touched at start-up
    (in ``setup_s``). A heap that grows during the rounds pays for its fresh
    pages there, and one that G1 shrinks at the collection between rounds
    pays again each round; both made round time slide and the process tree's
    PSS vary from run to run."""
    return f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"


def between_rounds(spark) -> None:
    """Off the clock: release what the last round left referenced, so each
    round starts from the same heap and block-manager state."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    inp = load_inputs(args.work)
    t_setup = time.perf_counter()
    from elektra_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false",
                                               "spark.driver.extraJavaOptions": java_options()})
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    tr = Tracer(spark, bool(args.trace))
    tr.record("session.start_s", session_s)
    wl = WORKLOADS[args.workload](spark, tr, args.work, inp)
    wl.setup()

    rounds: list[dict] = []

    def one_round() -> float:
        k = len(rounds)
        tr.round = k
        spans_before = len(tr.spans)
        root = wl.prepare(k)
        start = time.monotonic()  # the clock of run.py's memory samples
        t0 = time.perf_counter()
        with tr.span("round"):
            try:
                wl.round(k, root)
            except Exception as e:  # counted; the next round starts clean
                traceback.print_exc()
                wl.attempted += 1
                wl.failures.append(f"round {k} raised {type(e).__name__}: {e}")
        secs = time.perf_counter() - t0
        rounds.append({"k": k, "seconds": secs, "start": start, "end": time.monotonic()})
        if tr.enabled:
            collect_round_metrics(tr, tr.spans[spans_before:])
            if root:
                wl.catalog_stats(root)
        if root:
            shutil.rmtree(root, ignore_errors=True)
        between_rounds(spark)
        return secs

    setup_s = schedule(one_round, args.seconds, TIMED) - t_setup
    for r in rounds:
        r["warmup"] = r["k"] < WARMUP
    timed = [r["seconds"] for r in rounds[WARMUP:]]
    result = {
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "failures": wl.failures[:20],
        "setup_s": setup_s,
        "round_s": statistics.median(timed),
        "drift": drift(timed),
        "rounds": rounds,
        "values": tr.values_from(WARMUP),
    }
    if tr.enabled:
        tr.dump(os.path.join(args.work, "trace.json"))
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
