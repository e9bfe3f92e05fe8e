"""The production launch mode, actually executed: ``spark-submit --py-files
tzspark.zip job.py`` (north_rule: "run via spark-submit --py-files on a
multi-executor cluster").

The job script runs from a foreign cwd with PYTHONPATH stripped, so BOTH the
driver and the executor Python workers can only import tzspark from the
--py-files zip (the test asserts the imported module does not come from the
repo checkout). The zone index reaches the executors as the engine ships it
everywhere, a covertable.CoverTables index file given to
SparkContext.addFile, so this also proves that shipping under spark-submit.
Output zone assignments are verified row-for-row against the
committed numpy float32 oracle (zones.oracle_assign) — the same golden the
in-process engine is pinned to, so the packaged launch is held to the exact
same answer as the library launch.

The launch gets engine.get_spark's local-master transport confs (Unix
domain sockets in tzspark's short private directory), so the zip-shipped
kernels and the addFile'd index file also run over that transport.
"""

import os
import subprocess
import sys

import pyspark
import pytest

from tzspark.engine import socket_dir
from tzspark.shipping import package_zip_path
from tzspark.zones import make_zones, oracle_assign

N_POINTS = 20000

JOB = """
import sys

import tzspark  # resolved from the --py-files zip, NOT the repo checkout
print("TZSPARK_FILE=" + tzspark.__file__)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tzspark.cells import compile_cover
from tzspark.covertable import CoverTables
from tzspark.engine import assign_udf
from tzspark.zones import make_zones

out, n = sys.argv[1], int(sys.argv[2])
spark = SparkSession.builder.appName("tzspark-submit-smoke").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
print("UDS=" + spark.sparkContext.getConf().get("spark.python.unix.domain.socket.enabled"))

zones = make_zones(n_coast=400)
cov = CoverTables.from_index(spark, compile_cover(zones))  # shipped by addFile
pts = spark.range(0, n, 1, 8).select(
    F.col("id"),
    ((F.pmod(F.col("id") * 7919, F.lit(16000)) / 1000.0) - 7.0)
    .cast("float").alias("lat"),
    ((F.pmod(F.col("id") * 104729, F.lit(16000)) / 1000.0) - 7.0)
    .cast("float").alias("lng"),
)
res = pts.select(
    "id", "lat", "lng",
    assign_udf(cov)(F.col("lat"), F.col("lng")).alias("a"),
).select("id", "lat", "lng", F.col("a.zone_id").alias("zone_id"))
res.write.mode("overwrite").parquet(out)
spark.stop()
print("SUBMIT_OK")
"""


def test_spark_submit_pyfiles_launch(tmp_path):
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("no spark-submit in this pyspark install")

    job = tmp_path / "job.py"
    job.write_text(JOB)
    out = tmp_path / "out"

    env = os.environ.copy()
    env.pop("PYTHONPATH", None)  # tzspark must come from the zip alone
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        submit,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.python.unix.domain.socket.enabled=true",
        "--conf", f"spark.python.unix.domain.socket.dir={socket_dir()}",
        "--py-files", package_zip_path(),
        str(job), str(out), str(N_POINTS),
    ]
    r = subprocess.run(
        cmd, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=420
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "SUBMIT_OK" in r.stdout
    assert "UDS=true" in r.stdout

    # the driver-side import really resolved outside the repo checkout
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tz_file = [
        ln.split("=", 1)[1] for ln in r.stdout.splitlines()
        if ln.startswith("TZSPARK_FILE=")
    ][0]
    assert not tz_file.startswith(repo + os.sep), tz_file

    import pyarrow.parquet as pq

    got = pq.read_table(str(out)).to_pandas().sort_values("id").reset_index(drop=True)
    assert len(got) == N_POINTS
    exp = oracle_assign(
        make_zones(n_coast=400),
        got["lat"].to_numpy(),
        got["lng"].to_numpy(),
    )
    assert (got["zone_id"].to_numpy() == exp).all()


def test_package_zip_named_by_sources(tmp_path, monkeypatch):
    """Two package dirs with different sources get different zips, each
    holding its own cells.py, even when the second dir's files are older
    than the first zip; unchanged sources reuse their zip, and a source
    change rebuilds the checkout's one zip in place."""
    import tempfile
    import zipfile

    from tzspark import shipping

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    old = (1_000_000_000, 1_000_000_000)  # older than any zip

    def checkout(k, text):
        pkg = tmp_path / f"checkout{k}" / "tzspark"
        pkg.mkdir(parents=True, exist_ok=True)
        (pkg / "__init__.py").write_text("")
        (pkg / "cells.py").write_text(text)
        for f in pkg.iterdir():
            os.utime(f, old)
        monkeypatch.setattr(shipping, "__file__", str(pkg / "shipping.py"))
        return package_zip_path()

    def cells_text(path):
        with zipfile.ZipFile(path) as zf:
            return zf.read("tzspark/cells.py").decode()

    a, b = checkout(0, "A = 1\n"), checkout(1, "A = 2\n")
    assert a != b
    assert (cells_text(a), cells_text(b)) == ("A = 1\n", "A = 2\n")
    stamp = os.stat(a).st_mtime_ns
    assert checkout(0, "A = 1\n") == a and os.stat(a).st_mtime_ns == stamp
    assert checkout(0, "A = 3\n") == a and cells_text(a) == "A = 3\n"
    assert sorted(p.name for p in tmp_path.glob("tzspark_pyfiles_*")) == sorted(
        os.path.basename(p) for p in (a, b))
