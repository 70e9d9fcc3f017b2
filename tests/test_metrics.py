"""Heartbeat reporter + comm-factor accounting (reference status thread /
network comm factor, work_distributor.cpp:24-90, parser.py:21-27)."""

from __future__ import annotations

import json
import os
import stat
import tempfile
import time
import zipfile

import pyarrow as pa

from landscape_spark.metrics import HeartbeatReporter, comm_factor, stage_totals
from landscape_spark.pyworker import installed_first
from landscape_spark.session import default_partitions, socket_dir_parent


def test_heartbeat_writes_jsonl(spark, tmp_path):
    path = str(tmp_path / "hb.jsonl")
    hb = HeartbeatReporter(spark, path, interval=0.1).start()
    spark.range(2_000_000).selectExpr("id % 97 as k").groupBy("k").count().collect()
    time.sleep(0.35)
    hb.stop()
    lines = [json.loads(x) for x in open(path) if x.strip()]
    assert len(lines) >= 2
    for rec in lines:
        assert "ts" in rec and "active_stages" in rec


def test_comm_factor_arithmetic():
    before = {"shuffle_write_bytes": 100, "shuffle_read_bytes": 0, "input_bytes": 0, "output_bytes": 0, "n_stages": 1}
    after = {"shuffle_write_bytes": 1700, "shuffle_read_bytes": 0, "input_bytes": 0, "output_bytes": 0, "n_stages": 2}
    assert comm_factor(before, after, 800) == 2.0
    assert comm_factor(None, after, 800) is None
    assert comm_factor(before, after, 0) is None


def test_stage_totals_none_when_ui_disabled(spark):
    # the shared test session runs with spark.ui.enabled=false
    assert stage_totals(spark) is None


def test_default_partitions_follow_task_slots():
    """A local master gets one partition per task slot, so a default-width
    stage runs in one wave; the retry count F of local[N,F] is no slot."""
    assert default_partitions("local[4]") == 4
    assert default_partitions("local[1]") == 1
    assert default_partitions("local") == 1
    assert default_partitions("local[4,2]") == 4
    assert default_partitions("local[*]") == len(os.sched_getaffinity(0))
    assert default_partitions("local[*, 3]") == len(os.sched_getaffinity(0))
    assert default_partitions("spark://h:7077") == 200
    assert default_partitions("local-cluster[2,1,1024]") == 200


def test_local_workers_import_installed_pyspark(spark):
    """A local master's Python workers import pyspark from its installed
    directory, so PySpark's per-task importlib.invalidate_caches() re-reads
    neither pyspark.zip, py4j's zip nor the spark-core jar
    (landscape_spark.pyworker)."""
    import pyspark

    def probe(batches):
        import sys
        import zipimport

        import pyspark as worker_pyspark

        for _ in batches:
            pass
        cache = dict(sys.path_importer_cache)
        yield pa.RecordBatch.from_pylist([{
            "file": worker_pyspark.__file__,
            "version": worker_pyspark.__version__,
            "jars": [p for p in sys.path + list(cache) if ".jar" in p],
            "zipped": [
                k for k, v in cache.items()
                if isinstance(v, zipimport.zipimporter) and ("pyspark.zip" in k or "py4j-" in k)
            ],
        }])

    schema = "file string, version string, jars array<string>, zipped array<string>"
    rows = spark.range(0, 2, 1, 2).mapInArrow(probe, schema).collect()
    assert len(rows) == 2
    for r in rows:
        assert ".zip" + os.sep not in r.file, r.file
        assert r.version == pyspark.__version__
        assert r.jars == [] and r.zipped == []


def test_socket_dir_parent_fits_spark_limit(tmp_path):
    """Spark takes a socket directory of at most 61 characters, so that
    ``<dir>/.<uuid4>.sock`` fits sun_path's 107 bytes. A session's private
    directory, ``<parent>/uds-XXXXXXXX``, keeps to that bound: the temp
    directory is its parent up to 48 bytes, /tmp beyond that."""
    fits, long = "/" + "d" * 47, "/" + "d" * 48
    assert socket_dir_parent(fits) == fits
    assert socket_dir_parent(long) == "/tmp"
    # sun_path counts bytes: 24 two-byte characters are too many
    assert socket_dir_parent("/" + "é" * 23) == "/" + "é" * 23
    assert socket_dir_parent("/" + "é" * 24) == "/tmp"
    # mkdtemp names its directory with 8 random characters after the prefix
    assert len(os.path.basename(tempfile.mkdtemp(prefix="uds-", dir=tmp_path))) == len("uds-") + 8


def test_local_python_stage_runs_over_unix_sockets(spark):
    """A local session's Python workers reach the JVM over Unix domain
    sockets. Those sockets, the workers' and the driver's accumulator
    server's, skip Spark's auth handshake, so they live in a directory that
    only this user may enter, under the chosen parent."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.dirname(sock_dir) == socket_dir_parent(tempfile.gettempdir())
    assert len(os.fsencode(sock_dir)) <= 61, sock_dir
    st = os.stat(sock_dir)
    assert stat.S_ISDIR(st.st_mode) and st.st_uid == os.getuid(), sock_dir
    assert stat.S_IMODE(st.st_mode) == 0o700, oct(st.st_mode)
    accumulators = spark.sparkContext._accumulatorServer.server_address
    assert os.path.dirname(accumulators) == sock_dir, accumulators
    assert stat.S_ISSOCK(os.stat(accumulators).st_mode), accumulators

    def probe(batches):
        import socket

        for _ in batches:
            pass
        names = set()
        for fd in os.listdir("/proc/self/fd"):
            try:
                s = socket.socket(fileno=os.dup(int(fd)))
            except OSError:
                continue
            with s:
                if s.family == socket.AF_UNIX and s.getsockname():
                    names.add(s.getsockname())
        yield pa.RecordBatch.from_pylist([{"names": sorted(names)}])

    rows = spark.range(0, 2, 1, 2).mapInArrow(probe, "names array<string>").collect()
    names = {n for r in rows for n in r.names}
    assert names, "no task held a Unix domain socket"
    for name in names:
        assert os.path.dirname(name) == sock_dir, name
        assert stat.S_ISSOCK(os.stat(name).st_mode), name


def test_installed_first_keeps_spark_order_without_a_matching_install(tmp_path):
    def package_dir(name, package, version):
        d = tmp_path / name
        (d / package).mkdir(parents=True)
        (d / package / "version.py").write_text(f"__version__ = '{version}'\n")
        return str(d)

    def pyspark_dir(name, version):
        return package_dir(name, "pyspark", version)

    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/version.py", "__version__ = '4.1.2'\n")
    py4j = str(tmp_path / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/version.py", "__version__ = '0.10.9.9'\n")
    jar = str(tmp_path / "spark-core.jar")
    cwd, site, other = str(tmp_path / "cwd"), pyspark_dir("site", "4.1.2"), pyspark_dir("other", "4.0.0")

    # pyspark matches, py4j is not installed: the zips move behind
    assert installed_first([cwd, archive, py4j, jar, site]) == [cwd, site, archive, py4j]
    # both match: both archives go
    package_dir("site", "py4j", "0.10.9.9")
    assert installed_first([cwd, archive, py4j, jar, site]) == [cwd, site]
    # a first installed py4j that is not the archive's keeps the zips behind
    py4j_old = package_dir("old", "py4j", "0.10.9.7")
    py4j_only = package_dir("py4j", "py4j", "0.10.9.9")
    assert installed_first([cwd, archive, py4j, jar, py4j_old, site]) == [
        cwd, py4j_old, site, archive, py4j
    ]
    for path in (
        [cwd, archive, py4j, jar],  # no directory pyspark
        [cwd, archive, py4j, jar, py4j_only],  # py4j alone matches
        [cwd, archive, py4j, jar, other],  # version mismatch
        [cwd, archive, py4j, jar, other, site],  # the first install shadows the match
        [cwd, py4j, jar, site],  # no pyspark.zip to compare with
    ):
        assert installed_first(path) == path
