"""SparkSession factory.

Generalizes the reference's ``create_spark_session`` (etl.py:21-38),
which only set ``spark.jars.packages`` for S3A. Here we pin the
semantics-relevant configs (UTC session timezone — SURVEY §4.3-Q2) and
the scale-relevant ones (AQE, Arrow, dynamic partition overwrite) so
every query runs under the same contract on local[...] or a cluster.

One conf follows the master instead: in local mode ``get_spark`` lists
file inputs on the driver (``parallelPartitionDiscovery.threshold``
pinned to ``Int.MaxValue``), since a "distributed" listing job there
runs the same stat calls on the driver JVM's own threads plus one task
per path. Any other master keeps Spark's default, which lists more than
32 paths with a job: the right call against an object store.

A second local-mode rule binds ``file://`` to the engine's own Hadoop
filesystem (``jvm/src/dateng/localfs``, built into ``jvm/dateng-localfs.jar``
by ``tools/build_localfs_jar.py``). Without native libhadoop, Hadoop's
local filesystem forks a ``chmod`` process to set the mode of every file,
``.crc`` sidecar and directory it creates: ~5 ms of CPU each, ~295 forks
per star-schema ingest plus streaming replay. The engine's class sets the
same nine mode bits through java.nio instead and changes nothing else;
with libhadoop loaded, or for a sticky/setuid mode, it defers to Hadoop.
The confs are set only when the class will load in the session's JVM:
``get_spark`` launches that JVM itself (so it can put the jar on the
driver classpath), or the running JVM already loads the class. A session
started elsewhere (spark-submit, a driver's own builder), a missing jar
or any other master keeps Hadoop's stock classes; object stores and
HDFS do not fork.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Configs that define the engine's semantics + 100 TB posture.
# All are plain Spark configs: nothing here is cluster-manager specific.
ENGINE_CONF: dict[str, str] = {
    # -- semantics ---------------------------------------------------------
    # Pin UTC so epoch→timestamp derivations are stable and oracle-comparable
    # (the reference's from_unixtime depended on machine TZ, etl.py:156).
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: keep permissive SQL semantics matching classic Spark + DuckDB
    # behaviour for things like int division and silent cast overflow.
    "spark.sql.ansi.enabled": "false",
    # The testdata's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark refuses by default; read as long and convert in the catalog
    # (catalog.normalize_nanos_ts) — truncation to micros matches DuckDB.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # -- optimizer / execution (scale posture, SURVEY §4.4) ---------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path (UDF surface).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Lake writes: snappy parquet, overwrite only the partitions you touch
    # (the reference overwrote whole tables: etl.py:112 etc.).
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Target ~128 MB input splits; at 100 TB this yields ~800k tasks, the
    # right granularity for 1000 executors.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast small dims (region/nation/supplier) — 64 MB ceiling is safe
    # on 8+ GB executors and covers every dim table well past sf1000.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # UI off for test/bench speed; harmless on a cluster.
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Local-mode JVM heap: without this the driver JVM (which IS the
    # executor in local[...]) runs on the 1 GB java default — measured
    # to OOM a broadcast build after a few repeated iterative-operator
    # runs in one session (r6; bench now runs median-of-3). Only takes
    # effect when THIS builder launches the JVM; on a cluster the
    # submit-time --driver-memory/--executor-memory win as usual.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


# The semantics-critical subset of ENGINE_CONF that is runtime-settable.
# Applied defensively by every registered query (registry.query wraps them)
# because the DRIVER may hand us a SparkSession built without the engine's
# factory — without these, events (TIMESTAMP NANOS parquet) fails to read
# and timestamp formatting follows the machine TZ instead of UTC.
SEMANTIC_RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
}


def ensure_semantic_confs(spark: SparkSession) -> None:
    """Idempotently apply the engine's semantic session confs."""
    for k, v in SEMANTIC_RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down (e.g. Connect) — proceed with session defaults


#: The engine's local filesystem, and the Hadoop confs that bind ``file://`` to it.
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "dateng-localfs.jar")
LOCALFS_CONF: dict[str, str] = {
    "spark.hadoop.fs.file.impl": "dateng.localfs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "dateng.localfs.NioLocalFs",
}


def _localfs_loads(jar: str) -> bool:
    """Whether the session about to be built can load the engine's
    local filesystem: ``get_spark`` will launch its JVM with ``jar`` on
    the classpath, or the JVM already running loads the class."""
    if not os.path.isfile(jar):
        return False
    jvm = SparkContext._jvm
    if jvm is None:
        # No JVM yet. A spark-submit'd Python process connects to the
        # submitting JVM, whose classpath is not ours to extend.
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    return bool(jvm.org.apache.spark.util.Utils.classIsLoadable(LOCALFS_CONF["spark.hadoop.fs.file.impl"]))


def get_spark(
    app_name: str = "dateng-data-lakes",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entry point serves tests, bench, and the driver. On a real
    cluster, pass ``master=None`` with ``--master`` given externally.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and os.environ.get("SPARK_CONNECT_MODE_ENABLED") is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        # With AQE+coalesce on, this is an upper bound, not a fixed fan-out.
        conf["spark.sql.shuffle.partitions"] = os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", "64"
        )
    local = bool(master) and (master == "local" or master.startswith("local["))
    if local:
        # Executors are threads of this JVM, so a listing job makes the
        # same stat calls as the driver would, plus a job with one task
        # per path. On a cluster, Spark's default stands.
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = "2147483647"
    if extra_conf:
        conf.update(extra_conf)
    if local and _localfs_loads(LOCALFS_JAR):
        # Local files are written by this JVM: set their modes without
        # forking chmod (module docstring). The caller's own classpath
        # and filesystem bindings stand.
        cp = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = f"{cp}{os.pathsep}{LOCALFS_JAR}" if cp else LOCALFS_JAR
        for k, v in LOCALFS_CONF.items():
            conf.setdefault(k, v)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_s3a(
    spark: SparkSession,
    access_key: str | None = None,
    secret_key: str | None = None,
    endpoint: str | None = None,
    path_style: bool = False,
) -> SparkSession:
    """S3A connector config (mirrors etl.py:33-36 / Test_S3_Access.py:12-24,
    minus hard-coded credentials). Uses public Hadoop-conf keys only; falls
    back to the AWS default provider chain when no keys are given.

    ``path_style=True`` is required for endpoint-style object stores
    (MinIO, moto, on-prem gateways) whose buckets are not DNS vhosts.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if access_key:
        hconf.set("fs.s3a.access.key", access_key)
    if secret_key:
        hconf.set("fs.s3a.secret.key", secret_key)
    if endpoint:
        hconf.set("fs.s3a.endpoint", endpoint)
    if path_style:
        hconf.set("fs.s3a.path.style.access", "true")
    hconf.set("fs.s3a.fast.upload", "true")
    hconf.set("fs.s3a.connection.maximum", "64")
    return spark
