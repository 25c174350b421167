"""The snapshot catalog's Arrow commits and reads: the driver tier of
``DynamicGraph`` writes and reads state through them, so they must leave
the same manifest entries as a Spark commit and the same crash behaviour."""

import os

import pytest

from elektra_spark.dynamic.updates import DynamicGraph
from elektra_spark.tables import SnapshotCatalog

ROWS = [(3, 30), (1, 10), (2, 20), (2**40, 7)]


def _sorted(rows):
    return sorted(map(tuple, rows))


def _arrow_rows(table):
    return _sorted(zip(*(table.column(c).to_pylist() for c in table.column_names)))


def test_arrow_commit_matches_spark_commit(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(ROWS, "k long, v long")
    cat.write("by_spark", df.coalesce(1), "create")
    cat.write("by_arrow", df.toArrow(), "create")
    s, a = cat.history("by_spark")[-1], cat.history("by_arrow")[-1]
    assert s.keys() == a.keys()
    assert s["rows"] == a["rows"] == cat.rows("by_arrow") == len(ROWS)
    assert list(s["files"].values()) == list(a["files"].values()) == [len(ROWS)]
    for name in (*s["files"], *a["files"]):
        assert name.startswith("part-00000-") and name.endswith(".parquet")
    for t in ("by_spark", "by_arrow"):
        assert cat.read(t).schema == cat.read("by_spark").schema
        assert _sorted(cat.read(t).collect()) == _arrow_rows(cat.read_arrow(t)) == _sorted(ROWS)
    assert cat.rows("missing") is None


def test_read_arrow_reads_the_manifest_files_only(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(ROWS, "k long, v long")
    cat.write("t", df.toArrow())
    cat.write("t", df.limit(1).toArrow(), "overwrite")
    snap = cat.history("t")[0]
    data = os.path.join(snap["path"], next(iter(snap["files"])))
    with open(data, "rb") as f, open(os.path.join(snap["path"], "part-99999-stray.parquet"), "wb") as out:
        out.write(f.read())
    assert _arrow_rows(cat.read_arrow("t", version=1)) == _sorted(ROWS)
    assert len(_arrow_rows(cat.read_arrow("t"))) == 1


def test_failed_manifest_swap_in_a_tier_batch(spark, tmp_path, monkeypatch):
    """The manifest ``os.replace`` is the commit point of an Arrow commit:
    when it raises, the previous version stays current and readable, and a
    retry commits over the ``v_<n>/`` directory the failed one left."""
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    g = DynamicGraph.create(cat, spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long"))
    before = cat.current_version("graph_edges")
    batch = spark.createDataFrame([(2, 3)], "src long, dst long")

    def boom(*a):
        raise OSError("swap failed")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", boom)
        with pytest.raises(OSError, match="swap failed"):
            g.batch_add_edges(batch)
    leftover = os.path.join(cat.root, "graph_edges", f"v_{before + 1}")
    assert os.path.isdir(leftover)
    assert cat.current_version("graph_edges") == before
    assert _sorted(g.edges().collect()) == [(0, 1), (1, 2)]
    assert _arrow_rows(cat.read_arrow("graph_edges")) == [(0, 1), (1, 2)]

    g.batch_add_edges(batch)
    assert cat.current_version("graph_edges") == before + 1
    assert len([f for f in os.listdir(leftover) if f.endswith(".parquet")]) == 1
    assert _sorted(g.edges().collect()) == [(0, 1), (1, 2), (2, 3)]
    assert {r["vid"]: r["component"] for r in g.labels().collect()} == {0: 0, 1: 0, 2: 0, 3: 0}
