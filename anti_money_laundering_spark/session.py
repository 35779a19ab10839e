"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` in one JVM, but every default here is
chosen to survive a multi-executor cluster: AQE for runtime re-plans
(skew joins, partition coalescing), UTC session timezone so results
are oracle-comparable, Arrow for the pandas exchange paths.
"""

from __future__ import annotations

import importlib.util
import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# One BLAS thread per process (the primary pin lives in the package
# __init__, BEFORE pyspark→numpy load OpenBLAS — an after-load env is
# ignored by the already-initialized pool; see the rationale there).
# Re-assert here for direct `session` importers, and so the
# executorEnv twin below always has a value to ship.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

#: Spark's generated-class cache (see the conf in ``get_spark``)
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4096

#: directory holding the package, shipped to local Python workers
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Structured Streaming's checkpoint I/O (see ``_local_checkpoint_manager``)
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def get_secret(scope: str, key: str, default: str | None = None) -> str:
    """Secrets access (SURVEY §2.1 S11). The reference reads its API
    key via ``dbutils.secrets.get(scope, key)``
    (/root/reference/02_aml_address_verification.py:45); the portable
    equivalent outside Databricks is environment variables —
    ``AML_SECRET_<SCOPE>_<KEY>`` (uppercased, dashes to underscores).
    Missing secrets raise at setup time (fail loudly, never embed a
    placeholder credential in a query)."""
    env = f"AML_SECRET_{scope}_{key}".upper().replace("-", "_")
    val = os.environ.get(env, default)
    if val is None:
        raise KeyError(f"secret {scope}/{key} not set (export {env})")
    return val


def get_spark(
    app_name: str = "aml_engine",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster, callers pass ``master=None`` and submit via
    spark-submit; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = builder.master(master)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # custom Python DataSource readers may implement pushFilters
        # (sources/synthetic.py); without this flag Spark 4 refuses to
        # plan them at all rather than silently skipping pushdown
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Keep Spark's 10 MB default broadcast threshold: dims (region,
        # nation, filtered orders/customer) broadcast, facts never do.
        # A larger threshold makes fact-fact self-joins broadcast at
        # small SF — a plan shape that collapses at cluster scale.
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        # parquet vectorized reader + pushdown are on by default; pin anyway
        "spark.sql.parquet.filterPushdown": "true",
        # Cluster-mode twin of the process-env BLAS pin above: executors
        # don't inherit the driver's environment, so ship the same
        # one-thread-per-worker contract via executorEnv. .get with the
        # same default so a harness that scrubs the environment after
        # import (monkeypatch.delenv) still gets a session.
        "spark.executorEnv.OPENBLAS_NUM_THREADS": os.environ.get("OPENBLAS_NUM_THREADS", "1"),
        "spark.executorEnv.OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS", "1"),
        "spark.executorEnv.MKL_NUM_THREADS": os.environ.get("MKL_NUM_THREADS", "1"),
        # Python workers that unpickle engine functions import the
        # package; a driver that found it through sys.path (started
        # outside the repository root, no PYTHONPATH) would leave them
        # with ModuleNotFoundError. Spark adds this entry to the
        # worker's PYTHONPATH. Cluster executors need the package
        # installed (DEPLOY.md); this path only exists on the driver.
        "spark.executorEnv.PYTHONPATH": PACKAGE_PARENT,
        # Generated-class cache, keyed by generated source. Spark's
        # default of 100 classes is smaller than one pass of either
        # perfbench workload (~400 and ~270 classes), so every pass
        # compiled them all again. Sizing rule: the next power of two
        # above the distinct classes one sweep of the whole catalog
        # compiles at sf0.001 (2556 measured, 4 cores), which leaves
        # headroom for the cache's per-segment LRU and for callers'
        # own plans. A full sweep then holds ~250 MB of Metaspace.
        # Static conf: it takes effect only when the session is built
        # (the reuse path below warns when it is smaller).
        CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES),
        # Whole-stage classes are named after their codegen stage id,
        # and AQE numbers stages in the order earlier query stages
        # complete, so an identical pipeline got a new name (and a
        # cache miss) whenever that order changed. Without the id the
        # source, and so the cache key, depends on the pipeline only.
        "spark.sql.codegen.useIdInClassName": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    # Delta Lake auto-activation (the reference's storage format,
    # 01:245, 03:68): when the delta-spark package is importable, wire
    # the SQL extension + catalog so ``save_table``'s format("delta")
    # branch runs for real; without it the parquet fallback stays in
    # effect. Session-start-only confs, so this must happen here, not
    # at write time — tests/test_pipeline_sources.py gates on the same
    # importability check.
    if importlib.util.find_spec("delta") is not None:
        conf.setdefault("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
        conf.setdefault(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    active = SparkSession.getActiveSession()
    if active is not None:
        # Reuse the live session (driver/pytest own the lifecycle) but
        # honor the runtime-settable confs the caller asked for; warn
        # about anything only a fresh session could apply.
        if shuffle_partitions is not None:
            active.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        for k, v in (extra_conf or {}).items():
            try:
                active.conf.set(k, v)
            except Exception:
                warnings.warn(
                    f"get_spark: live session cannot apply conf {k!r}; "
                    "stop the session to change static confs",
                    stacklevel=2,
                )
        live = int(active.conf.get(CODEGEN_CACHE_CONF))
        if CODEGEN_CACHE_CONF not in (extra_conf or {}) and live < CODEGEN_CACHE_ENTRIES:
            warnings.warn(
                f"get_spark: live session has {CODEGEN_CACHE_CONF}={live}, below the "
                f"engine's {CODEGEN_CACHE_ENTRIES}; every pass will recompile its "
                "generated classes. Set it when the session is built",
                stacklevel=2,
            )
        _local_checkpoint_manager(active)
        return active
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _local_checkpoint_manager(spark)
    return spark


def _local_checkpoint_manager(spark: SparkSession) -> None:
    """Run Structured Streaming's checkpoint I/O (offset and commit
    logs, state-store delta and checksum files) through Hadoop's
    FileSystem API when the session's default file system is local.

    Spark's default manager goes through FileContext, whose rename
    checks the destination's link status. Without a native libhadoop
    (the pyspark wheel ships none) Hadoop's local file system answers
    that check by running ``readlink``, 4 times per rename; with the
    ``chmod`` of each create, a trigger of the coordination screen on
    4 state partitions started about 200 processes. The
    FileSystem-based manager runs no ``readlink``: it renames after an
    ``exists`` check, the same check-then-rename(2) the FileContext
    path does on a local disk, and still refuses to overwrite a
    committed batch. Cluster file systems keep FileContext: HDFS
    refuses an overwriting rename on the server, which a client-side
    check cannot. A value the caller set, at build time or later,
    wins. Runtime-settable: queries started after this call use it."""
    if spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is not None:
        return
    default_fs = spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
    if default_fs.startswith("file:"):
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
