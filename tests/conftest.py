import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from spear_spark.context import get_spark

    s = get_spark(
        app_name="spear_spark_tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield s


@pytest.fixture(scope="session")
def ctx(spark):
    from spear_spark import Context

    return Context(spark)


@pytest.fixture
def with_jobs(spark):
    """``with_jobs(build)`` is (build(), number of Spark jobs it
    launched), counted through a job group once the listener bus has
    delivered every job event."""
    sc = spark.sparkContext

    def run(build):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(params=["driver", "rounds"])
def cc_regime(request, monkeypatch):
    """Run a test in each ``connected_components`` regime: ``driver``
    (the union-find every small test graph takes by default) and
    ``rounds`` (the distributed loop, forced by a zero edge bound)."""
    if request.param == "rounds":
        from spear_spark.operators import dedup

        monkeypatch.setattr(dedup, "_LOCAL_CC_EDGES", 0)
    return request.param


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A checkpoint dir for reliable staging; the session's previous
    one (possibly none) is restored afterwards."""
    jsc = spark.sparkContext._jsc.sc()
    previous = jsc.checkpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    yield
    getattr(jsc, "checkpointDir_$eq")(previous)


@pytest.fixture
def unset_mode(spark):
    """Leaves the shared session with no staging-mode conf."""
    from spear_spark.config import STAGING_MODE

    spark.conf.unset(STAGING_MODE.name)
    yield
    spark.conf.unset(STAGING_MODE.name)


SF_DIR = os.environ.get("SPEAR_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
