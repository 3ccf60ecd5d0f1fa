"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the 100 TB design point (AQE on, skew-join splitting,
Arrow batches for the pandas-UDF kernels) while remaining correct on
local[N]; see SURVEY.md §4.3.

Python workers start through ``gstools_core_spark.worker_daemon``
(``spark.python.daemon.module``): pyspark's stock daemon, except that a
task no longer re-reads ``pyspark.zip``'s directory ~16 times on start
(see that module).  Workers therefore import this package before their
first task, so ``get_session`` puts the package's parent directory on
``PYTHONPATH`` before the JVM launches; the engine's own UDF closures need
it too when the driver's cwd is not the checkout.  A caller can still
override the daemon through ``extra_conf``.

``spark.python.sql.dataFrameDebugging.enabled`` is off.  When it is on,
PySpark wraps every ``Column`` method and function call to capture its
Python call site: about 5 extra py4j round trips per call
(``getActiveSession``, a conf read, ``PySparkCurrentOrigin.set``/``clear``,
``isDefined``) plus a stack walk, and the captured site points inside
this package, not at the caller's code.  A plan of a few hundred Column
calls paid more for the capture than for the calls.  ``extra_conf`` can
turn it back on, but PySpark reads the setting once per process, at the
first Column call made under an active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One BLAS thread per Python worker: Spark supplies the parallelism; letting
# OpenBLAS spawn nproc threads in each of N workers (N×nproc threads total)
# destroys scaling (observed: local[32] slower than local[8] on numpy-heavy
# kernels).  Must be set before the JVM launches so pyspark workers inherit.
_BLAS_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)


def _pin_blas_threads() -> None:
    # force-set (not setdefault): an inherited OMP_NUM_THREADS=32 from a
    # shell/scheduler is exactly the oversubscription this must prevent
    for var in _BLAS_VARS:
        os.environ[var] = "1"


def _export_package_path() -> None:
    # workers inherit the JVM's environment, so this must also happen
    # before the JVM launches
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, *paths]))


def get_session(
    app_name: str = "gstools-core-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    memory_gb: int = 16,
) -> SparkSession:
    _pin_blas_threads()
    _export_package_path()
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores or 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime coalescing + skew-join splitting — the
        # first line of defense against hot H3 cells at cluster scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / applyInPandas kernel.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Keep timestamps deterministic regardless of machine TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", f"{memory_gb}g")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "gstools_core_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes through the typed
    accessor (the string form of the setting varies: "10MB",
    "10485760b", "-1").  Operators that choose a small-input plan at run
    time bound their collect by it; a value ≤ 0 turns those plans off."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
