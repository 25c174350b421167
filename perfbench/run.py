"""Benchmark of the elektra_spark engine: one command, two workloads.

    python3 perfbench/run.py --workload transcript-analytics --seed 1 --seconds 10 --trace 0
    python3 -m pytest perfbench/test_perfbench.py -q     # the benchmark's own checks

Run from the root of a checkout. One run

1. clears what earlier runs left in ``perfbench/_work``;
2. generates the workload's input from ``--seed`` (NumPy + pyarrow, in this
   process), writes it as parquet and computes the oracle answers, all
   before the clock starts;
3. starts ``worker.py`` in its own process group with the pinned
   ``SETTINGS``; the worker starts a Spark session, sets up, runs one
   warm-up round (all of that is ``setup_s``), then ``worker.TIMED``
   timed rounds (more only if those took less than ``--seconds``), and checks
   every output against the oracle in every round;
4. samples, every ``SAMPLE_S``, the PSS of the worker's process tree (driver
   Python, JVM, pyspark workers) and ``/dev/shm`` usage;
5. waits until every process of the group has ended, measures and removes
   the ``/dev/shm`` entries the run created, and prints one line per metric
   and, last, one JSON object: ``--trace 0`` gives the end-to-end metrics,
   ``--trace 1`` the per-layer ones (``BENCHMARK.json`` lists both). The
   traced run also writes its spans, with self times, to
   ``perfbench/_work/<workload>/trace.json``.

End-to-end metrics: ``setup_s``; ``round_s``, the median wall time of a
timed round (a fixed unit of work on identical input, outputs materialized
and checked); ``peak_rss_mb``, the peak during a timed round of
the PSS summed over the process tree (PSS, so forked workers are not counted
twice), median over the timed rounds. A failed check or a raised call is a
failed operation.

Workloads: ``transcript-analytics`` runs the whole-graph analytics from raw
transcripts with ephemeral checkpoints, so ingest and the operator kernels do
the work and the checkpoint, tables and dynamic layers do none.
``durable-updates`` resumes durable LPA supersteps from a run interrupted in
set-up, then applies link insert/delete batches with connectivity queries,
so catalog commits and per-job fixed cost dominate and the kernels barely
register.

Exits non-zero without a result line when the run fails, when a traced run
did not record a per-layer metric its workload exercises (``EXPECTED``), or
when the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
# The worker's environment. The driver JVM's heap is fixed at
# SPARK_DRIVER_MEMORY and touched at start-up (``worker.java_options``).
SETTINGS = {
    "SPARK_DRIVER_MEMORY": "1g",
    "SPARK_GRAFT_CPUS": str(CPUS),
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(CPUS),
}
# Each workload's input size and schedule.
WORKLOADS = {
    "transcript-analytics": {"turns": 6000, "pagerank_steps": 2, "lpa_rounds": 1},
    "durable-updates": {"turns": 6000, "lpa_rounds": 1, "resume_rounds": 1, "preload": 0.6,
                        "insert": 100, "delete": 10, "queries": 200},
}
# Per-layer metrics a traced run must record for each workload; a missing
# one means a hook or span stopped firing, and the run fails. The other
# per-layer metrics belong to layers the workload does not exercise and
# read 0 (the checkpoint, tables and dynamic layers on transcript-analytics).
_COMMON = ["session.start_s", "spark.jobs_per_round", "spark.tasks_per_round", "spark.failed_tasks",
           "lpa.call_s", "lpa.superstep_s", "lpa.jobs", "mem.driver_pss_mb", "mem.jvm_pss_mb",
           "mem.pyworker_pss_mb", "mem.shm_peak_mb", "mem.shm_residue_mb", "trace.round_s",
           "drift.round_ratio"]
EXPECTED = {
    "transcript-analytics": _COMMON + [
        "ingest.derive_s", "ingest.edges", "ingest.vertices", "pagerank.call_s", "pagerank.superstep_s",
        "pagerank.jobs", "pagerank.tasks", "cc.call_s", "cc.phase.collapse_repart_s",
        "cc.phase.quotient_probe_s", "cc.phase.quotient_solve_s", "cc.jobs", "triangles.call_s",
        "triangles.jobs"],
    "durable-updates": _COMMON + [
        "checkpoint.commit_s", "checkpoint.commits", "checkpoint.metrics_s", "checkpoint.resume_load_s",
        "checkpoint.resume_s", "tables.snapshots", "tables.files", "tables.bytes_written",
        "updates.add_s", "updates.delete_s", "updates.query_s", "updates.jobs_per_batch"],
}
TIMEOUT_S = 150  # the worker's limit; the whole run must end within 180 s
SAMPLE_S = 1.0  # one sample reads smaps_rollup of every process of the tree
SHM = "/dev/shm"
SHM_PREFIXES = ("spark-local-", "elektra-")
MB = 1024 * 1024


# ---- inputs -----------------------------------------------------------------

def make_inputs(workload: str, seed: int, work: Path) -> None:
    """Write the workload's parquet input, its parameters and the oracle
    answers the worker checks against."""
    p = WORKLOADS[workload]
    table = gen.transcripts(p["turns"], seed)
    src, dst, vids = gen.derive_edges(table)
    n = len(vids)
    arrays = {"src": src, "dst": dst, "vids": vids}
    if workload == "transcript-analytics":
        meta = {"transcripts": str(work / "transcripts.parquet")}
        pq.write_table(table, meta["transcripts"])
        arrays.update(want_pagerank=oracle.pagerank(src, dst, n, p["pagerank_steps"]),
                      want_cc=oracle.components(src, dst, n),
                      want_lpa=oracle.label_propagation(src, dst, n, p["lpa_rounds"]),
                      want_triangles=np.array(oracle.triangles(src, dst)))
    else:
        # the edge list and vertex ids, read like the CLI's --edges input
        meta = {name: str(work / f"{name}.parquet") for name in ("edges", "vertices", "updates", "queries")}
        pq.write_table(pa.table({"src": src, "dst": dst}), meta["edges"])
        pq.write_table(pa.table({"vid": vids}), meta["vertices"])
        rng = np.random.default_rng(seed + 2)
        base, insert = gen.split_preload(src, dst, seed, p["preload"], p["insert"])
        # the delete batch is half spanning-tree edges (replacement search),
        # half non-tree edges; inserts never change the tree status of
        # preloaded edges
        tree = oracle.spanning_forest_mask(base[:, 0], base[:, 1], n)
        half = p["delete"] // 2
        pick = np.concatenate([rng.permutation(np.nonzero(tree)[0])[:half],
                               rng.permutation(np.nonzero(~tree)[0])[:p["delete"] - half]])
        batches = [("add", insert), ("delete", base[pick])]
        rows = [(-1, base)] + [(i, b) for i, (_, b) in enumerate(batches)]
        pq.write_table(pa.table({
            "batch": np.concatenate([np.full(len(b), i, dtype=np.int32) for i, b in rows]),
            "src": np.concatenate([b[:, 0] for _, b in rows]),
            "dst": np.concatenate([b[:, 1] for _, b in rows]),
        }), meta["updates"])
        q = np.unique(rng.integers(0, n, size=(p["queries"], 2)), axis=0)
        pq.write_table(pa.table({"u": q[:, 0], "v": q[:, 1]}), meta["queries"])
        arrays.update(query_pairs=q,
                      want_lpa=oracle.label_propagation(src, dst, n, p["lpa_rounds"]),
                      want_lpa_resumed=oracle.label_propagation(src, dst, n, p["lpa_rounds"] + p["resume_rounds"]))
        edges = {(int(a), int(b)) for a, b in base}
        for i, (kind, batch) in enumerate(batches):  # connectivity after each batch
            pairs = {(int(a), int(b)) for a, b in batch}
            edges = edges | pairs if kind == "add" else edges - pairs
            cur = np.array(sorted(edges), dtype=np.int64)
            arrays[f"want_cc_{i}"] = oracle.components(cur[:, 0], cur[:, 1], n)
        p = {**p, "batches": [kind for kind, _ in batches]}
    np.savez(work / "inputs.npz", **arrays)
    (work / "inputs.json").write_text(json.dumps({**meta, "params": p}))


# ---- process tree memory ------------------------------------------------------

def _tree(root_pid: int) -> list[tuple[int, str]]:
    """(pid, command name) of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name_end = stat.rindex(")")
        names[int(d)] = stat[stat.index("(") + 1:name_end]
        ppid = int(stat[name_end + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        if p in names:
            out.append((p, names[p]))
        todo.extend(children.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _shm_used() -> int:
    st = os.statvfs(SHM)
    return (st.f_blocks - st.f_bfree) * st.f_frsize


def sample(root_pid: int, shm_base: int) -> dict:
    driver = jvm = workers = 0
    for pid, name in _tree(root_pid):
        kb = _pss_kb(pid)
        if pid == root_pid:
            driver += kb
        elif name == "java":
            jvm += kb
        else:
            workers += kb
    return {"t": time.monotonic(), "driver": driver / 1024, "jvm": jvm / 1024,
            "workers": workers / 1024, "shm": (_shm_used() - shm_base) / MB}


def _dir_bytes(path: str) -> int:
    if not os.path.isdir(path):
        return os.path.getsize(path) if os.path.exists(path) else 0
    return sum(os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(path) for n in ns
               if os.path.isfile(os.path.join(d, n)))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(pgid: int) -> None:
    """Wait for every process of the run's group to end; signal stragglers."""
    for sig, wait in ((None, 10.0), (signal.SIGTERM, 3.0), (signal.SIGKILL, 3.0)):
        if sig is not None and _group_alive(pgid):
            os.killpg(pgid, sig)
        deadline = time.monotonic() + wait
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not _group_alive(pgid):
            return
    raise RuntimeError(f"process group {pgid} did not stop")


# ---- the run ----------------------------------------------------------------------

def run_worker(workload: str, work: Path, seconds: float, trace: int) -> tuple[dict | None, list[dict], float]:
    env = {**os.environ, **SETTINGS}
    env["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    shm_before = set(os.listdir(SHM))
    shm_base = _shm_used()
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", workload, "--work", str(work),
           "--seconds", str(seconds), "--trace", str(trace)]
    deadline = time.monotonic() + TIMEOUT_S
    samples: list[dict] = []
    with open(work / "worker.log", "w") as log:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        try:
            while child.poll() is None and time.monotonic() < deadline:
                samples.append(sample(child.pid, shm_base))
                try:
                    child.wait(timeout=SAMPLE_S)
                except subprocess.TimeoutExpired:
                    pass
        finally:
            if child.poll() is None:
                os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            stop_group(child.pid)
    residue = 0
    for name in set(os.listdir(SHM)) - shm_before:
        if name.startswith(SHM_PREFIXES):
            path = os.path.join(SHM, name)
            residue += _dir_bytes(path)
            shutil.rmtree(path, ignore_errors=True)
    result_path = work / "result.json"
    if child.returncode != 0 or not result_path.exists():
        sys.stderr.write((work / "worker.log").read_text()[-4000:])
        return None, samples, residue / MB
    return json.loads(result_path.read_text()), samples, residue / MB


def peak(samples: list[dict], *keys: str) -> float:
    """Peak over the whole run of the summed ``keys`` (MB)."""
    return max((sum(s[k] for k in keys) for s in samples), default=0.0)


def round_peak(samples: list[dict], rounds: list[dict]) -> float:
    """Peak PSS of the process tree during a timed round, median over the
    timed rounds (MB). The highs of set-up and the warm-up round are left
    out, and one round's high cannot move it alone."""
    peaks = [peak([s for s in samples if r["start"] <= s["t"] <= r["end"]], "driver", "jvm", "workers")
             for r in rounds if not r["warmup"]]
    return statistics.median(peaks)


def missing(workload: str, values: dict) -> list[str]:
    """The per-layer metrics ``workload`` exercises that have no value."""
    return [name for name in EXPECTED[workload] if name not in values]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "elektra_spark" / "__init__.py").exists():
        sys.stderr.write(f"elektra_spark not found under {ROOT}; run from a checkout of the repository\n")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    base = HERE / "_work"
    shutil.rmtree(base, ignore_errors=True)
    work = base / args.workload
    work.mkdir(parents=True)
    make_inputs(args.workload, args.seed, work)
    res, samples, residue = run_worker(args.workload, work, args.seconds, args.trace)
    (work / "samples.json").write_text(json.dumps(samples))
    if res is None:
        return 1

    rounds = res["rounds"]
    if args.trace:
        vals = {k: statistics.median(v) for k, v in res["values"].items()}
        vals.update({
            "mem.driver_pss_mb": peak(samples, "driver"),
            "mem.jvm_pss_mb": peak(samples, "jvm"),
            "mem.pyworker_pss_mb": peak(samples, "workers"),
            "mem.shm_peak_mb": peak(samples, "shm"),
            "mem.shm_residue_mb": residue,
            "trace.round_s": res["round_s"],
            "drift.round_ratio": res["drift"],
        })
        wanted = spec["per_layer"]
        if missing(args.workload, vals):
            sys.stderr.write(f"MISSING per-layer metrics: {', '.join(missing(args.workload, vals))}\n")
            return 1
    else:
        vals = {
            "setup_s": res["setup_s"],
            "round_s": res["round_s"],
            "peak_rss_mb": round_peak(samples, rounds),
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(vals.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}

    def listed(warm: bool) -> str:
        secs = [r["seconds"] for r in rounds if r["warmup"] == warm]
        return f"{len(secs)} ({', '.join(f'{x:.2f}' for x in secs)} s)"

    print(f"workload {args.workload} seed {args.seed}: warm-up rounds {listed(True)}, "
          f"timed rounds {listed(False)}, drift {res['drift']:.3f}")
    for f in res["failures"]:
        print(f"FAILED {f}")
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
