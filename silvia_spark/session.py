"""SparkSession construction and required runtime configuration.

Two hard requirements (SURVEY.md §1.2, FIXTURES.md):
- ``spark.sql.legacy.parquet.nanosAsLong=true``: events.parquet stores ts as
  TIMESTAMP(NANOS) which PySpark 4.1.2 cannot read natively; with this conf
  it reads as LongType nanoseconds and silvia_spark.io rebuilds exact
  microsecond timestamps.
- UTC session timezone so timestamp arithmetic matches the DuckDB oracle.

Scale posture: AQE on (runtime partition coalescing, broadcast switching,
skew-join splitting) so the same declarative plans re-optimize themselves on
a 1000-executor cluster; shuffle partitions default to cores locally but are
meant to be overridden (≈2-3× total cores) on a real cluster.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Confs that MUST be set before any parquet read of events; settable on an
# existing session via spark.conf.set (runtime-mutable).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # stream_watermark_late's availableNow semantics depend on the final
    # EMPTY micro-batch advancing the watermark to max(ts)-delay and
    # flushing closed windows. True is Spark's default, but _I4_ORACLE's
    # window-close cutoff silently emits nothing if it is ever off — pin it
    # so a cluster-side override can't turn a conf drift into a confusing
    # hash mismatch.
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``silvia_spark`` importable on EXECUTOR Python workers.

    cloudpickle serializes pandas-UDF closures by reference to their
    module-level helpers, so any executor that is a separate process
    (local-cluster, a real cluster) must be able to ``import
    silvia_spark`` — local[*] masks this entirely because its workers
    fork from the driver and inherit sys.path. Caught by the
    local-cluster sweep (every Arrow-UDF contract failed with
    ModuleNotFoundError in the worker); fixed the standard way: zip the
    package once per process and ``addPyFile`` it, which Spark ships to
    every current AND future executor. ~50 ms once per session."""
    import os
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(
        tempfile.gettempdir(), f"silvia_spark_pkg_{os.getpid()}")
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(base, "zip",
                            root_dir=os.path.dirname(pkg_dir),
                            base_dir=os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (e.g. the
    driver-provided one). Idempotent, and cached per session object: each
    conf.set is a Py4J round-trip, so repeat calls must be free — this runs
    on every table load. The marker is an instance attribute, not an
    id()-keyed set: ids are reused after garbage collection, which could
    make a fresh session silently skip the nanos conf."""
    if getattr(spark, "_silvia_configured", False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed at session build time; ignore if so.
            pass
    try:
        _ship_package(spark)
    except AttributeError:
        # Connect-only sessions have no sparkContext; their UDFs ship via
        # spark.addArtifact instead, and local[*] never needs the zip.
        pass
    except Exception as exc:  # zip build / addPyFile failure: disk full,
        # concurrent make_archive race on the pid-keyed path, … A silent
        # swallow here would revert executors to the ModuleNotFoundError
        # class _ship_package exists to prevent, so warn with the cause —
        # local[*] keeps working either way (driver's sys.path serves).
        warnings.warn(f"silvia_spark: package zip not shipped to "
                      f"executors ({type(exc).__name__}: {exc}); "
                      f"UDFs will fail off-driver", RuntimeWarning)
    try:
        spark._silvia_configured = True
    except Exception:
        pass  # frozen session object: repeat calls just re-set confs
    return spark


def get_session(app_name: str = "silvia_spark", master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a configured SparkSession.

    Local default: local[$SPARK_GRAFT_CPUS or *]; shuffle partitions sized to
    core count (small data locally; on a cluster pass an explicit value).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local-mode heap: the driver JVM IS every executor. 8g is the
        # MEASURED-good size for this box (r13): raising it to 48g
        # made the shuffle-heavy JVM-only ANN generation 2.5× slower
        # (531 s → 1337 s for the mp2-sf1 GEMM/join/distinct — a G1
        # large-heap effect). The r13 verify-cache OOM that motivated a
        # bigger heap came from a 195 M-row scored-pair cache; the exact
        # cosine kernel now thresholds in place, so no scored pair is
        # cached (llm_extras.fused_cosine_hits). Override per-run with
        # SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
