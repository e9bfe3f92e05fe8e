"""Spark's JVM<->Python transport as engine.get_spark sets it up: on a
local master every exchange goes over Unix domain sockets in one short
private directory per process (engine.socket_dir); a cluster master keeps
Spark's loopback TCP default."""

import os
import stat
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest

from tzspark.engine import session_conf

UDS = ("spark.python.unix.domain.socket.enabled", "spark.python.unix.domain.socket.dir")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_conf_master_rule(monkeypatch):
    """A local master (local[N], the SPARK_GRAFT_CPUS default,
    local-cluster) gets both transport confs, with one directory per
    process; SPARK_MASTER or a non-local master= gets neither; extra_conf
    still overrides them."""
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    dirs = set()
    for m in ("local[4]", None, "local-cluster[2,1,1024]"):
        master, conf = session_conf(m)
        assert master == (m or "local[3]")
        assert conf[UDS[0]] == "true"
        dirs.add(conf[UDS[1]])
    (d,) = dirs
    assert d.startswith("/tmp/") and len(d) < 40
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700

    for m in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        master, conf = session_conf(m)
        assert master == m and not set(UDS) & set(conf)
    monkeypatch.setenv("SPARK_MASTER", "spark://host:7077")
    master, conf = session_conf()
    assert master is None and not set(UDS) & set(conf)

    master, conf = session_conf("local[2]", extra_conf={UDS[0]: "false"})
    assert conf[UDS[0]] == "false"


@pytest.mark.skipif(not os.path.exists("/proc/net/unix"), reason="needs Linux /proc")
def test_workers_talk_to_the_jvm_over_unix_sockets(spark):
    """Inside a Python task on the shared session, the worker's connection
    to the JVM is an AF_UNIX socket, and the worker holds no TCP socket."""

    def _proc_socket_inodes(path: str, col: int) -> set:
        with open(path) as f:
            next(f)
            return {int(ln.split()[col]) for ln in f if len(ln.split()) > col}

    def _own_sockets(batches):
        """For each batch, this Python worker's open sockets by family: the
        inodes under /proc/self/fd matched against /proc/net/unix and
        /proc/net/tcp{,6}."""
        for b in batches:
            fds = set()
            for fd in os.listdir("/proc/self/fd"):
                try:
                    link = os.readlink(f"/proc/self/fd/{fd}")
                except OSError:
                    continue
                if link.startswith("socket:["):
                    fds.add(int(link[8:-1]))
            unix = _proc_socket_inodes("/proc/net/unix", 6)
            tcp = set()
            for p in ("/proc/net/tcp", "/proc/net/tcp6"):
                if os.path.exists(p):
                    tcp |= _proc_socket_inodes(p, 9)
            n = b.num_rows
            yield pa.RecordBatch.from_pydict({
                "pid": [os.getpid()] * n,
                "n_unix": [len(fds & unix)] * n,
                "n_tcp": [len(fds & tcp)] * n,
            })

    conf = spark.sparkContext.getConf()
    assert conf.get(UDS[0]) == "true"
    assert conf.get(UDS[1]).startswith("/tmp/")
    rows = (spark.range(0, 64, numPartitions=4)
            .mapInArrow(_own_sockets, "pid long, n_unix long, n_tcp long")
            .distinct().collect())
    assert rows
    for r in rows:
        assert r["n_unix"] >= 1 and r["n_tcp"] == 0, rows


LIFECYCLE_JOB = textwrap.dedent("""
    import os, stat, sys
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from tzspark.engine import get_spark

    long_tmp = sys.argv[1]
    jvm = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + long_tmp,
           "spark.ui.showConsoleProgress": "false"}

    @F.arrow_udf(T.DoubleType())
    def plus1(x: pa.Array) -> pa.Array:
        return pc.add(x, 1.0)

    def run(spark):
        df = spark.range(0, 40, numPartitions=4).select(plus1(F.col("id").cast("double")))
        return df.agg(F.sum(F.col(df.columns[0]))).collect()[0][0]

    spark = get_spark(app="uds-life", master="local[2]", shuffle_partitions=2, extra_conf=jvm)
    spark.sparkContext.setLogLevel("ERROR")
    d = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    print("DIR=" + d)
    print("MODE=%o" % stat.S_IMODE(os.stat(d).st_mode))
    print("SUM=%d" % run(spark))
    again = get_spark(app="uds-life", master="local[2]", shuffle_partitions=2, extra_conf=jvm)
    print("SAME_SESSION=%s" % (again is spark))
    spark.stop()
    spark = get_spark(app="uds-life", master="local[2]", shuffle_partitions=2, extra_conf=jvm)
    print("RESTART_DIR=" + spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir"))
    print("SUM=%d" % run(spark))
""")


def test_socket_dir_lifecycle_under_long_tmpdir(tmp_path):
    """With TMPDIR and java.io.tmpdir both a 100+ character path (as
    perfbench's are under a long checkout path), a session still starts
    and runs an arrow_udf over 4 partitions; the socket directory is 0700,
    reused by a second get_spark and by a restarted session, and gone
    once the process exits."""
    long_tmp = tmp_path / ("t" * max(8, 110 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    job = tmp_path / "job.py"
    job.write_text(LIFECYCLE_JOB)
    env = os.environ.copy()
    env["TMPDIR"] = str(long_tmp)
    env["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={long_tmp}"
    env["PYTHONPATH"] = REPO
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run([sys.executable, str(job), str(long_tmp)], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    out = dict(ln.split("=", 1) for ln in r.stdout.splitlines() if "=" in ln)
    d = out["DIR"]
    assert d.startswith("/tmp/") and not d.startswith(str(long_tmp))
    assert out["MODE"] == "700"
    assert out["SAME_SESSION"] == "True"
    assert out["RESTART_DIR"] == d
    assert r.stdout.count("SUM=820") == 2
    assert not os.path.exists(d)
