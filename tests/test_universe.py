"""The vertex universe (operators/universe.py): one rule for which vertices
and edges an operator's graph has, the same on every kernel."""

import re
from pathlib import Path

import pytest

from elektra_spark import operators
from elektra_spark.operators import driver_tier
from elektra_spark.operators.cc import connected_components
from elektra_spark.operators.hits import hits
from elektra_spark.operators.katz import katz_centrality
from elektra_spark.operators.lpa import label_propagation
from elektra_spark.operators.pagerank import pagerank
from elektra_spark.operators.salsa import salsa

from .oracles import cc_oracle, hits_oracle, lpa_oracle, pagerank_oracle

# vertex 5 is not in the table: (2, 5) and (5, 3) are not edges of the graph,
# so 3 is isolated and 2 is a leaf
OUTSIDE = [(0, 1), (1, 2), (2, 5), (5, 3)]
INDUCED = [(0, 1), (1, 2)]
VIDS = [0, 1, 2, 3]


def _out_of_table_case(name):
    """(call, want) for one kernel: call(e, v) → {vid: value}."""
    ranks = pagerank_oracle(INDUCED, VIDS, iters=4)
    labels = lpa_oracle(INDUCED, VIDS, rounds=2)

    def pr(kernel):
        return lambda e, v: {r["vid"]: r["rank"] for r in pagerank(e, vertices=v, n_iter=4, kernel=kernel).collect()}

    def lpa(e, v):
        return {r["vid"]: r["label"] for r in label_propagation(e, vertices=v, rounds=2).collect()}

    def cc(kernel):
        return lambda e, v: {
            r["vid"]: r["component"] for r in connected_components(e, vertices=v, kernel=kernel).collect()
        }

    def hub_auth(e, v):
        return {r["vid"]: (r["hub"], r["auth"]) for r in hits(e, vertices=v, n_iter=3).collect()}

    hub, auth = hits_oracle(INDUCED, VIDS, 3)
    return {
        "pagerank-tier": (pr("auto"), ranks),
        "pagerank-auto": (pr("auto"), ranks),
        "pagerank-bsp": (pr("bsp"), ranks),
        "pagerank-df": (pr("df"), ranks),
        "cc-tier": (cc("auto"), cc_oracle(INDUCED, VIDS)),
        "cc-csr": (cc("csr"), cc_oracle(INDUCED, VIDS)),
        "cc-df": (cc("df"), cc_oracle(INDUCED, VIDS)),
        "lpa-tier": (lpa, labels),
        "lpa-spark": (lpa, labels),
        "hits": (hub_auth, {v: (hub[v], auth[v]) for v in VIDS}),
    }[name]


def _close(got, want):
    assert set(got) == set(want)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-9), v


@pytest.mark.parametrize(
    "kernel",
    [
        "pagerank-tier", "pagerank-auto", "pagerank-bsp", "pagerank-df",
        "cc-tier", "cc-csr", "cc-df", "lpa-tier", "lpa-spark", "hits",
    ],
)
def test_out_of_table_edges_leave_the_graph_on_every_kernel(spark, monkeypatch, kernel):
    """An edge with an endpoint outside the vertex table is not part of the
    graph: every kernel returns the oracle's answer on the induced subgraph.
    ``pagerank-auto`` is the default call with the driver tier off (dense
    vids, so it picks bsp); ``lpa-spark`` likewise."""
    if kernel in ("pagerank-auto", "lpa-spark"):
        monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", 0)
    call, want = _out_of_table_case(kernel)
    e = spark.createDataFrame(OUTSIDE, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in VIDS], "vid long")
    _close(call(e, v), want)


PATH = [(0, 1), (1, 2), (2, 3)]


@pytest.mark.parametrize(
    "op",
    ["pagerank-tier", "pagerank-df", "hits", "katz", "salsa", "cc", "cc-tier", "lpa-tier", "lpa-spark"],
)
def test_duplicated_vid_changes_no_output(spark, monkeypatch, op):
    """A vertex table that lists a vid twice gives the output of its
    deduplicated table: the universe is the table's distinct vids."""
    if op == "lpa-spark":
        monkeypatch.setattr(driver_tier, "SMALL_GRAPH_MAX", 0)
    run = {
        "pagerank-tier": lambda e, v: pagerank(e, vertices=v, n_iter=4),
        "pagerank-df": lambda e, v: pagerank(e, vertices=v, n_iter=4, kernel="df"),
        "hits": lambda e, v: hits(e, vertices=v, n_iter=3),
        "katz": lambda e, v: katz_centrality(e, vertices=v, n_iter=3),
        "salsa": lambda e, v: salsa(e, vertices=v, n_iter=3),
        "cc": lambda e, v: connected_components(e, vertices=v, kernel="csr"),
        "cc-tier": lambda e, v: connected_components(e, vertices=v),
        "lpa-tier": lambda e, v: label_propagation(e, vertices=v, rounds=2),
        "lpa-spark": lambda e, v: label_propagation(e, vertices=v, rounds=2),
    }[op]
    e = spark.createDataFrame(PATH, "src long, dst long")

    def rows(vids):
        return sorted(tuple(r) for r in run(e, spark.createDataFrame([(x,) for x in vids], "vid long")).collect())

    got, want = rows([0, 1, 1, 2, 3]), rows([0, 1, 2, 3])
    assert len(got) == len(want) == 4
    for g, w in zip(got, want):
        assert g == pytest.approx(w, abs=1e-12)


def test_operators_take_their_graph_from_the_universe_module():
    """No operator module but universe.py builds a vertex universe (a
    ``vertices.select("vid")`` projection, or a distinct src ∪ dst union
    aliased to ``vid``) or pads a result onto ``vertices`` with its own left
    join; and none builds a default checkpointer itself (that is
    ``checkpoint.supersteps``' job)."""
    vid = r'F\.col\("{}"\)(?:\.cast\("long"\))?\.alias\("vid"\)'
    rules = {
        "vertex universe; use universe.graph_input": re.compile(
            r'vertices\.select\((?:"vid"|' + vid.format("vid") + r')\)'
        ),
        "endpoint universe; use universe.graph_input": re.compile(
            vid.format("src") + r'\)\s*\)?\s*\.union\w*\(\s*\w+\.select\('
            + vid.format("dst") + r'\)\s*\)?\s*\.distinct\(\)'
        ),
        "padding onto vertices; use universe.over_vertices": re.compile(r'\bvertices\b[^\n]*\s*\.join\([^\n]*"left"\)'),
        "default checkpointer; use checkpoint.supersteps(..., default=...)": re.compile(
            r"if checkpoint is None:|\b(?:Retained|Ephemeral)Checkpointer\(\)"
        ),
    }
    for path in sorted(Path(operators.__file__).parent.glob("*.py")):
        if path.name == "universe.py":
            continue
        text = path.read_text()
        for what, rule in rules.items():
            m = rule.search(text)
            assert m is None, f"{path.name}:{text.count(chr(10), 0, m.start()) + 1} {what}"
