"""SparkSession factory with scale-oriented defaults.

Tuned for the target shape (SURVEY.md §4.3): AQE on (post-shuffle coalesce +
skew-join splitting), Arrow for every JVM<->Python boundary, shuffle-partition
count sized to the local core count but meant to be overridden to ~2-3x total
cores on a real cluster. The JVM talks to its Python workers over Unix-domain
sockets (no TCP delayed-ACK stall before a task's first Arrow batch).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SOCKET_DIR: str | None = None


def _socket_dir() -> str:
    """A short private (mode 0700) directory for PySpark's Unix-domain
    sockets, removed at interpreter exit. PySpark names each socket
    ``<dir>/.<uuid4>.sock`` and ``AF_UNIX`` caps the path at 107 bytes, so
    ``<dir>`` must stay within 64 characters; the default, ``java.io.tmpdir``,
    may be any length."""
    global _SOCKET_DIR
    if _SOCKET_DIR is None or not os.path.isdir(_SOCKET_DIR):
        _SOCKET_DIR = tempfile.mkdtemp(prefix="fts-", dir="/tmp")
        atexit.register(shutil.rmtree, _SOCKET_DIR, True)
    return _SOCKET_DIR


def get_spark(
    app_name: str = "flume-elasticsearch-2-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        local_n = cpus if str(cpus).isdigit() else "32"
        shuffle_partitions = int(local_n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    conf = {"spark.python.unix.domain.socket.enabled": "true", **(extra_conf or {})}
    if "spark.python.unix.domain.socket.dir" not in conf:
        conf["spark.python.unix.domain.socket.dir"] = _socket_dir()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
