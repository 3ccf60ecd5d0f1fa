import os

# One BLAS thread in the test process, as in every Python worker
# (session.py): kernels.stable_solve's width/position invariance holds only
# single-threaded, and driver-side numpy pins must see the workers' bits.
# Set before anything imports numpy (OpenBLAS reads these once, at load).
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import contextlib  # noqa: E402

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from gstools_core_spark.session import get_session

    spark = get_session(app_name="gstools-core-spark-tests", cores=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def partitioned_plan(spark):
    """``with partitioned_plan():`` — krige calls built inside take the
    partitioned plan (broadcast threshold -1); the shared session's
    setting is restored afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def force():
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return force
