"""SparkSession factory tuned for the engine's workload profile.

The reference engine is single-threaded row-at-a-time Python
(wstlr/extractor.py:130-194); here every knob is chosen for distributed
execution: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), broadcast threshold raised so dimension tables
(region/nation/concept-maps) never shuffle, and Arrow enabled for the few
pandas-UDF escape hatches.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

#: Conf applied to every session the engine creates. All are runtime-safe
#: defaults that also make sense on a real cluster; cluster deployments
#: override via spark-submit --conf.
ENGINE_CONF: dict[str, str] = {
    # Runtime adaptivity: re-plan joins/aggregations with real statistics,
    # coalesce tiny shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier, ConceptMaps, id-maps) are
    # tiny next to fact tables — keep them broadcast so fact-side data
    # never shuffles for a dim join.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for pandas_udf / mapInPandas escape hatches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp behavior regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Progress bars corrupt harness/CI output.
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # The events table is written with parquet TIMESTAMP(NANOS); Spark has
    # no nanos type, so read as long and convert (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Selectable streaming state-store backends
#: (spark.sql.streaming.stateStore.providerClass). "hdfs" is Spark's
#: default executor-heap provider; "rocksdb" is the disk-backed provider
#: (bundled with Spark) for state that outgrows heap — at 100× state the
#: heap provider is the first thing to fall over, so production
#: checkpoints should start life on RocksDB. The provider is part of the
#: checkpoint's on-disk format: pick one per checkpoint lifetime.
STATE_STORE_PROVIDERS: dict[str, str] = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def _new_session(
    app_name: str, master: str | None, explicit: dict[str, str]
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    defaults = dict(ENGINE_CONF)
    # local[N]: one shuffle partition per core is the right grain;
    # AQE coalesces further when maps are small.
    defaults["spark.sql.shuffle.partitions"] = str(os.cpu_count() or 8)
    if master.startswith("local"):
        # In local mode the driver JVM IS the executor; Spark's 1g default
        # heap OOMs real workloads (first seen: 20k-doc shingle join).
        # Static conf — only effective for the session that starts the JVM.
        defaults["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "32g"
        )
        # ~90 registry queries x whole-stage codegen ≈ thousands of
        # generated classes; HotSpot's 240m default code cache fills and
        # silently stops JIT-compiling (later queries run interpreted).
        defaults["spark.driver.extraJavaOptions"] = "-XX:ReservedCodeCacheSize=512m"
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the driver JVM with its --conf as launch
        # conf: fill only what it left unset. SparkConf() reads that only
        # once the gateway is connected; before, it is an empty dict.
        SparkContext._ensure_initialized()
        launched = SparkConf()
        defaults = {k: v for k, v in defaults.items() if not launched.contains(k)}
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map={**defaults, **explicit})
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def get_spark(
    app_name: str = "ncpi-whistler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Return the running SparkSession, or build one with the engine defaults.

    Running session (from any thread): it is returned as it is, with only
    what the caller passed applied on top: ``shuffle_partitions`` when not
    None, ``extra_conf`` (static keys are ignored with a warning) and
    ``state_store``. Neither :data:`ENGINE_CONF` nor the per-core width nor
    ``app_name``/``master`` touch it, so an in-process CLI call leaves its
    caller's session as it was.

    New session: :data:`ENGINE_CONF`, one shuffle partition per core and,
    on local masters, the driver heap and code-cache defaults fill every
    key the launch has not set (``spark-submit --conf``, say);
    ``shuffle_partitions`` and ``extra_conf`` override both.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when the
    env var is unset); on a real cluster pass ``None`` and let spark-submit
    decide.

    ``state_store`` selects the streaming state-store backend for queries
    started on this session: a :data:`STATE_STORE_PROVIDERS` key
    ("hdfs"/"rocksdb") or a full provider class name. Runtime-settable,
    so it also applies to a running session.
    """
    explicit: dict[str, str] = {}
    if shuffle_partitions is not None:
        explicit["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    explicit.update(extra_conf or {})

    # What getOrCreate itself checks; getActiveSession is per JVM thread
    # and misses a session another thread made.
    spark = SparkSession._instantiatedSession
    if spark is None or spark._sc._jsc is None:
        spark = _new_session(app_name, master, explicit)
    elif explicit:
        SparkSession.builder.config(map=explicit).getOrCreate()
    if state_store is not None:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS.get(state_store, state_store),
        )
    return spark


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-created session
    (e.g. the verification driver's). Static conf is skipped silently."""
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark
