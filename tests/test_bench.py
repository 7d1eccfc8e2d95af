"""bench.py's shared timing loop, run on the test session: one median
per query, a clean block store afterwards, and the caller's session
left running."""

from __future__ import annotations

import bench

# p150 stages its decoded frames (config.stage), so a run leaves a
# persisted RDD for the loop to drop; q06 is a plain scan-aggregate.
NAMES = ["q06_forecast_revenue", "p150_frame_cuts"]


def test_median_times_drops_blocks_and_keeps_session(spark, sf_dir):
    timings = bench.median_times(spark, NAMES, sf_dir)

    assert list(timings) == NAMES
    assert all(t > 0 for t in timings.values())
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().isEmpty()
    assert not spark.sparkContext._jsc.sc().isStopped()
    assert spark.range(3).count() == 3


def test_scale_factor_from_dir_name():
    assert bench.scale_factor("/data/testdata/sf0.1") == 0.1
    assert bench.scale_factor("/data/testdata/sf0.01/") == 0.01
    assert bench.scale_factor("/data/sf1") == 1.0
    assert bench.scale_factor("/tmp/spear_scaled_10x") is None
    assert bench.scale_factor("/tmp/sf0.1_copy") is None
