"""Tests of the benchmark's own oracles and failure counting (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402


@pytest.fixture(scope="module")
def graph():
    src, dst, vids = gen.derive_edges(gen.transcripts(240, seed=7))
    return src, dst, len(vids)


def _adj(src, dst, n):
    adj = {v: [] for v in range(n)}
    for a, b in zip(src.tolist(), dst.tolist()):
        adj[a].append(b)
        adj[b].append(a)
    return adj


def test_generation_is_seeded():
    a, b = gen.transcripts(400, seed=3), gen.transcripts(400, seed=3)
    assert a.equals(b) and len(a) == 400
    assert not a.equals(gen.transcripts(400, seed=4))


def test_derived_edges_are_canonical(graph):
    src, dst, n = graph
    assert (src < dst).all() and dst.max() < n
    assert len(set(zip(src.tolist(), dst.tolist()))) == len(src)


def test_pagerank_matches_loop(graph):
    src, dst, n = graph
    adj = _adj(src, dst, n)
    r = [1.0 / n] * n
    for _ in range(4):
        dmass = sum(r[v] for v in range(n) if not adj[v])
        r = [0.15 / n + 0.85 * (sum(r[u] / len(adj[u]) for u in adj[v]) + dmass / n) for v in range(n)]
    assert np.allclose(oracle.pagerank(src, dst, n, 4), r, rtol=1e-12)


def test_components_and_lpa_match_loops(graph):
    src, dst, n = graph
    adj = _adj(src, dst, n)
    comp = {}
    for v in range(n):
        if v not in comp:
            stack, seen = [v], {v}
            while stack:
                for u in adj[stack.pop()]:
                    if u not in seen:
                        seen.add(u)
                        stack.append(u)
            for u in seen:
                comp[u] = min(seen)
    assert oracle.components(src, dst, n).tolist() == [comp[v] for v in range(n)]

    lbl = list(range(n))
    for _ in range(3):
        new = lbl[:]
        for v in range(n):
            if adj[v]:
                cnt = {}
                for u in adj[v]:
                    cnt[lbl[u]] = cnt.get(lbl[u], 0) + 1
                new[v] = min(cnt, key=lambda x: (-cnt[x], x))
        lbl = new
    assert oracle.label_propagation(src, dst, n, 3).tolist() == lbl


def test_triangles_match_brute_force(graph):
    src, dst, n = graph
    edges = set(zip(src.tolist(), dst.tolist()))
    adj = _adj(src, dst, n)
    brute = sum(1 for a, b in edges for c in adj[a] if c > b and (b, c) in edges)
    assert brute > 0
    assert oracle.triangles(src, dst) == brute


def test_spanning_forest_mask(graph):
    src, dst, n = graph
    mask = oracle.spanning_forest_mask(src, dst, n)
    assert mask.sum() == n - len(set(oracle.components(src, dst, n).tolist()))


def _workload():
    fake = SimpleNamespace(sparkContext=None)
    return worker.Workload(fake, worker.Tracer(fake, enabled=False), "", {})


def test_corrupted_outputs_count_as_failed(graph):
    src, dst, n = graph
    ranks = oracle.pagerank(src, dst, n, 3)
    labels = oracle.components(src, dst, n)
    vids = np.arange(n)
    wl = _workload()

    good = pd.DataFrame({"vid": vids, "rank": ranks})
    assert wl.op("pagerank", lambda: good, lambda pdf: oracle.check_ranks(pdf, ranks))
    bumped = ranks.copy()
    bumped[5] *= 1 + 1e-5
    assert not wl.op("pagerank", lambda: pd.DataFrame({"vid": vids, "rank": bumped}),
                     lambda pdf: oracle.check_ranks(pdf, ranks))
    relabeled = labels.copy()
    relabeled[-1] = n + 1
    assert not wl.op("cc", lambda: pd.DataFrame({"vid": vids, "component": relabeled}),
                     lambda pdf: oracle.check_labels(pdf, "component", labels))
    assert not wl.op("cc", lambda: pd.DataFrame({"vid": vids[:-1], "component": labels[:-1]}),
                     lambda pdf: oracle.check_labels(pdf, "component", labels))
    assert not wl.op("triangles", lambda: 3, lambda got: oracle.check_count(got, 4, "triangles"))

    def boom():
        raise RuntimeError("executor lost")

    assert not wl.op("lpa", boom, lambda _: None)
    assert wl.attempted == 6
    assert len(wl.failures) == 5
    assert "raised RuntimeError" in wl.failures[-1]


def test_wrong_connectivity_answer_counts_as_failed(graph):
    src, dst, n = graph
    labels = oracle.components(src, dst, n)
    q = np.array([[0, 1], [0, n - 1], [2, 3]])
    want = labels[q[:, 0]] == labels[q[:, 1]]
    answers = pd.DataFrame({"u": q[:, 0], "v": q[:, 1], "connected": want})
    assert oracle.check_connected(answers, q, labels) is None
    answers.loc[1, "connected"] = not want[1]
    assert "1 of 3" in oracle.check_connected(answers, q, labels)


def test_checkpoint_wrapper_keeps_durable_flag():
    wl = worker.DurableUpdates(SimpleNamespace(sparkContext=None),
                               worker.Tracer(SimpleNamespace(sparkContext=None), enabled=False), "", {})

    def inner(df, step):
        return df

    inner.durable = True
    assert wl._timed_checkpoint(inner).durable is True


def test_self_time_subtracts_children(tmp_path):
    tr = worker.Tracer(SimpleNamespace(sparkContext=None), enabled=False)
    tr.spans = [
        {"id": 1, "name": "round", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "lpa", "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "name": "checkpoint.commit", "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "name": "updates.add", "parent": 1, "start": 6.0, "end": 8.0},
    ]
    tr.dump(str(tmp_path / "t.json"))
    import json

    self_s = {r["name"]: r["self_seconds"] for r in json.loads((tmp_path / "t.json").read_text())}
    assert self_s == {"round": 4.0, "lpa": 3.0, "checkpoint.commit": 1.0, "updates.add": 2.0}


def test_schedule_warms_up_then_times_the_fixed_count():
    ran = []
    worker.schedule(lambda: ran.append(len(ran)), seconds=0.0, timed=3)
    assert len(ran) == worker.WARMUP + 3
    assert worker.WARMUP == 1 and worker.TIMED == 2


def test_drift_compares_the_halves_of_the_timed_rounds():
    assert worker.drift([5.0, 5.0, 6.0]) == pytest.approx(5.5 / 5.0)
    assert worker.drift([5.0, 5.0, 6.0, 6.0]) == pytest.approx(6.0 / 5.0)


def test_values_of_warm_up_rounds_are_dropped():
    tr = worker.Tracer(SimpleNamespace(sparkContext=None), enabled=True)
    tr.record("session.start_s", 3.0)
    for k, v in enumerate([9.0, 5.0, 4.0]):
        tr.round = k
        tr.record("lpa.call_s", v)
    assert tr.values_from(1) == {"session.start_s": [3.0], "lpa.call_s": [5.0, 4.0]}


class _CountingTracer(worker.Tracer):
    def count_jobs(self, spans):
        for r in spans:
            r.update(jobs=1, tasks=2, failed=0)


def _span(i, name, parent=None):
    return {"id": i, "name": name, "parent": parent, "start": float(i), "end": i + 0.5}


def test_missing_layer_metric_is_caught():
    tr = _CountingTracer(SimpleNamespace(sparkContext=None), enabled=True)
    names = ["ingest.derive", "pagerank", "cc", "lpa", "triangles"]
    spans = [_span(1, "round")] + [_span(i + 2, n, parent=1) for i, n in enumerate(names)]
    runside = {"session.start_s", "mem.driver_pss_mb", "mem.jvm_pss_mb", "mem.pyworker_pss_mb",
               "mem.shm_peak_mb", "mem.shm_residue_mb", "trace.round_s", "drift.round_ratio"}
    hooks = {"pagerank.superstep_s", "lpa.superstep_s", "ingest.edges", "ingest.vertices",
             "cc.phase.collapse_repart_s", "cc.phase.quotient_probe_s", "cc.phase.quotient_solve_s"}
    worker.collect_round_metrics(tr, spans)
    assert run.missing("transcript-analytics", set(tr.values) | runside | hooks) == []
    # the checkpoint layer is not exercised here: no value, so it reads 0
    assert "checkpoint.commits" not in tr.values

    tr = _CountingTracer(SimpleNamespace(sparkContext=None), enabled=True)
    worker.collect_round_metrics(tr, [s for s in spans if s["name"] != "cc"])
    assert run.missing("transcript-analytics", set(tr.values) | runside | hooks) == ["cc.call_s", "cc.jobs"]
    assert "pagerank.superstep_s" in run.missing("transcript-analytics", set(tr.values) | runside)
    assert "checkpoint.commit_s" in run.missing("durable-updates", set(tr.values) | runside)


def test_round_peak_is_the_median_of_the_timed_rounds_peaks():
    samples = [{"t": t, "driver": 100.0, "jvm": jvm, "workers": 50.0}
               for t, jvm in [(0.5, 3000.0), (1.5, 900.0), (2.5, 1000.0), (3.5, 1400.0), (4.5, 1100.0)]]
    rounds = [{"warmup": True, "start": 0.0, "end": 1.0}, {"warmup": False, "start": 1.0, "end": 3.0},
              {"warmup": False, "start": 3.0, "end": 4.0}, {"warmup": False, "start": 4.0, "end": 5.0}]
    # the set-up/warm-up high (3000) and one round's high (1400) are left out
    assert run.round_peak(samples, rounds) == 1250.0
    assert run.peak(samples, "driver", "jvm", "workers") == 3150.0
