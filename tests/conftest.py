import os

import pytest

from esper_tv_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    # SPARK_GRAFT_TEST_CPUS overrides the test session's core count
    # (default 4 — shuffle_partitions stays 4 either way, so plans and
    # results are identical; only task parallelism changes)
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    s = get_spark("tests", cpus=cpus, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def force_wider_than_floor(monkeypatch):
    """Pin the answer of `plans.partitions.wider_than_floor`, the one
    size-adaptive seam every switching operator looks up at call time:
    `force(True)` / `force(False)` pins a branch, `force(None)` restores
    the real input-bytes rule."""
    from esper_tv_spark.plans import partitions

    real = partitions.wider_than_floor

    def force(value):
        monkeypatch.setattr(
            partitions,
            "wider_than_floor",
            real if value is None else (lambda df, blowup: value),
        )

    return force
