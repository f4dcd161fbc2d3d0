from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from wellmeet_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


SHARED_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def shared_frames(spark):
    """bench.SharedFrames over the driver's sf0.001 parquet: the frames
    bench passes, built from the same SHARED_FRAMES rows (unbilled)."""
    import bench

    if not os.path.isdir(SHARED_SF_DIR):
        pytest.skip(f"{SHARED_SF_DIR} missing")
    return bench.SharedFrames(SHARED_SF_DIR)


@pytest.fixture
def shared_parity(spark, shared_frames):
    """check(name, *kwargs): query `name` given the named shared frames
    returns exactly its standalone rows, and at least one row."""
    from wellmeet_data_pipeline_spark.plans.queries import REGISTRY

    def check(name, *kwargs):
        fn = REGISTRY[name].fn
        sf_dir = shared_frames.sf_dir
        standalone = sorted(map(tuple, fn(spark, sf_dir).collect()))
        shared = {k: shared_frames.get(spark, k) for k in kwargs}
        assert sorted(map(tuple, fn(spark, sf_dir, **shared).collect())) == standalone
        assert standalone  # the family must exercise real rows at sf0.001

    return check
