"""M6 packaging: the --py-files zip is buildable and the CLI drives jobs
end-to-end via spark-submit semantics (same session, real code path)."""

import os
import subprocess
import sys
import zipfile


def test_make_pyfiles_zip(tmp_path):
    from tools.make_pyfiles import main as make

    zpath = make(str(tmp_path / "dist"))
    assert os.path.exists(zpath)
    names = zipfile.ZipFile(zpath).namelist()
    assert "elektra_spark/operators/cc.py" in names
    assert "elektra_spark/cli.py" in names
    assert all(n.endswith(".py") for n in names)


def test_cli_spark_submit_cc_roundtrip(tmp_path):
    """Run the packaged CLI through spark-submit (local master) — the real
    production invocation: zip on --py-files, thin main.py driver."""
    from tools.make_pyfiles import main as make

    dist = str(tmp_path / "dist")
    make(dist)
    out = str(tmp_path / "labels")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_SHUFFLE_PARTITIONS": "4",
           "PYSPARK_PYTHON": sys.executable}
    spark_submit = os.path.join(os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit")
    if not os.path.exists(spark_submit):
        import pyspark

        spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    r = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--py-files", os.path.join(dist, "elektra_spark.zip"),
         os.path.join(dist, "main.py"),
         "cc", "--synth-convs", "20", "--output", out],
        capture_output=True, text=True, timeout=300, env=env, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert os.path.exists(out + "/_SUCCESS")


def test_cli_stream_updates_bootstrap_and_resume(spark, tmp_path):
    """stream-updates job in-process (same code path as the packaged CLI):
    bootstrap from a synthesized graph, drain one drop, then a second
    invocation attaches to the existing warehouse and consumes only the new
    drop (streaming checkpoint resume)."""
    from elektra_spark.cli import main
    from elektra_spark.streaming.updates import UPDATE_SCHEMA, write_update_file

    upd = str(tmp_path / "drops")
    os.makedirs(upd)
    wh = str(tmp_path / "wh")
    write_update_file(
        spark.createDataFrame([("insert", 0, 90000)], UPDATE_SCHEMA), upd, "b0.parquet"
    )
    args = ["stream-updates", "--updates-dir", upd, "--warehouse", wh,
            "--synth-convs", "10"]
    assert main(args) == 0

    write_update_file(
        spark.createDataFrame([("delete", 0, 90000)], UPDATE_SCHEMA), upd, "b1.parquet"
    )
    out = str(tmp_path / "labels")
    assert main(["stream-updates", "--updates-dir", upd, "--warehouse", wh,
                 "--output", out]) == 0
    import pyspark.sql.functions as F

    labels = spark.read.parquet(out)
    # vertex 90000 was linked to 0 by drop b0 and unlinked by drop b1:
    # it must be a singleton component again
    assert labels.filter((F.col("vid") == 90000) & (F.col("component") == 90000)).count() == 1
