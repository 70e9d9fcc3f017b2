"""SparkSession factory with the engine's standard configuration.

Local-mode testing uses ``local[N]``; on a real cluster the same builder is
driven by spark-submit --py-files (reference deploy analog:
/root/reference/tools/run_experiments.sh:141-160 launches MPI ranks; we launch
executors instead).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import SparkSession

# Spark's local master forms: local, local[N], local[*], local[N,F], local[*,F]
# (F, the task retry count, does not change the number of task slots).
_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?")

# Spark refuses a spark.python.unix.domain.socket.dir longer than 61
# characters, which keeps each socket path, ``<dir>/.<uuid4>.sock``, inside
# ``sun_path`` (108 bytes with its NUL). Counted in bytes, the bound holds
# for the JVM's characters and for the kernel's bytes alike. Each session's
# sockets go in a private directory, ``<parent>/uds-XXXXXXXX`` from
# ``tempfile.mkdtemp`` (8 random characters), so the parent may take what
# is left.
_SOCKET_DIR_MAX = 61
_SOCKET_DIR_PREFIX = "uds-"
_SOCKET_PARENT_MAX = _SOCKET_DIR_MAX - len(os.sep + _SOCKET_DIR_PREFIX) - 8


def default_partitions(master: str) -> int:
    """Shuffle partitions and default parallelism for ``master``: its task
    slots on a local master (N for local[N] and local[N,F], the cores this
    process may run on for local[*], 1 for local), 200 on any other."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return 200
    slots = m.group(1)
    if slots is None:
        return 1
    return len(os.sched_getaffinity(0)) if slots == "*" else int(slots)


def socket_dir_parent(tmpdir: str) -> str:
    """The directory that holds a session's private socket directory:
    ``tmpdir`` if the socket directory's path inside it stays within 61
    bytes (``tmpdir`` itself at most 48), else ``/tmp``."""
    return tmpdir if len(os.fsencode(tmpdir)) <= _SOCKET_PARENT_MAX else "/tmp"


def get_spark(
    app_name: str = "landscape_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults favor the 100TB design point: AQE on (runtime re-plan, skew-join
    splitting, small-partition coalescing), Arrow transfer for every
    Python-side kernel, and shuffle and default parallelism from
    ``default_partitions(master)`` unless ``shuffle_partitions`` is given (a
    cluster deploy overrides via --conf). A local master gets one partition
    per task slot, so a stage of default width runs in one wave. There is no
    floor: one above the slot count, such as 8 on local[4], runs every such
    stage in two waves of tasks, each paying a Python task's fixed cost.

    On local masters the Python worker daemon is
    ``landscape_spark.pyworker``, which imports pyspark from its installed
    directory instead of pyspark.zip, so no task pays for its zipimporters
    re-reading pyspark.zip and the spark-core jar (about 0.1-0.2 s per Python
    task); the package's parent directory goes on the workers' PYTHONPATH so
    the daemon starts from any working directory. The JVM also reaches those
    workers over Unix domain sockets instead of loopback TCP, where each
    Python stage waited about 40 ms for its input to arrive: an empty
    one-task ``mapInArrow`` stage fell from 0.063-0.066 s to 0.023 s on
    local[4]. These sockets skip Spark's auth handshake, and the driver's
    accumulator socket unpickles whatever it receives, so the file system is
    their guard: each session's sockets (the worker daemon's and the
    accumulator server's) live in a private 0700 directory that
    ``tempfile.mkdtemp`` makes under ``socket_dir_parent`` (the temp
    directory, or /tmp when the temp directory's path is too long), removed
    when the process exits. Other masters keep Spark's daemon
    and TCP: their executors receive the engine through --py-files only after
    the daemon has started. ``extra_conf`` overrides every setting here.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = default_partitions(master)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # tmpfs shuffle dir when available: local-mode shuffle files on disk cost
    # ~10% end-to-end; real clusters provision fast local disks for this.
    # tmpfs is typically capped at half RAM, so gate behind a free-space check
    # (>= 16 GiB) — large spills fall back to the default disk local dir,
    # which succeeds where a full tmpfs would fail the job. Opt out entirely
    # with SPARK_GRAFT_NO_SHM=1.
    if os.path.isdir("/dev/shm") and not os.environ.get("SPARK_GRAFT_NO_SHM"):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 * (1 << 30):
            shm = "/dev/shm/spark-local"
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
    if _LOCAL_MASTER.fullmatch(master):
        builder = builder.config("spark.python.daemon.module", "landscape_spark.pyworker").config(
            "spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        sock_dir = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=socket_dir_parent(tempfile.gettempdir()))
        atexit.register(shutil.rmtree, sock_dir, ignore_errors=True)
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", sock_dir
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_parallelism(spark: SparkSession, default: int = 32) -> int:
    """Target parallelism for the kernels that are given no width: the
    graph kernels' repartitions, the small-corpus repartition guard of the
    minhash/simhash/substring fingerprints, and the sketch shuffles of the
    Borůvka entry points, ``build_group_slices`` and
    ``SketchStreamIngestor``. It is ``spark.sql.shuffle.partitions``: from
    ``get_spark``, one per task slot on a local master and 200 on any other
    unless the session sets it.

    ``spark.sql.shuffle.partitions`` is not guaranteed numeric on every
    platform (some AQE-managed deployments set it to 'auto'), and int() on
    such a value raised ValueError at operator call time. Fall back to the
    scheduler's defaultParallelism, then to ``default``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default
