import os
import sys
from contextlib import contextmanager

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for pipeline tests."""
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("fuggetabouspark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def jobs_in_group(spark, group, fn):
    """Run fn() in Spark job group ``group``: (fn's result, the number
    of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def crash_after_shards(n):
    """Inside the block, build_resumable crashes once it has committed
    ``n`` shards: state.build_sketches raises RuntimeError("injected
    failure") from its (n + 1)-th call on (the kill-and-resume gate)."""
    from fuggetabouspark import state

    real, calls = state.build_sketches, [0]

    def build(*args, **kwargs):
        if calls[0] == n:
            raise RuntimeError("injected failure")
        calls[0] += 1
        return real(*args, **kwargs)

    state.build_sketches = build
    try:
        yield
    finally:
        state.build_sketches = real


@pytest.fixture()
def cc_spark_loop(monkeypatch):
    """Force connected_components onto its distributed Spark loop: with
    a zero driver budget only the empty graph stays on the driver."""
    from fuggetabouspark.dataops import dedup

    monkeypatch.setattr(dedup, "_LOCAL_CC_EDGES", 0)


@pytest.fixture()
def mask_spark_path(monkeypatch):
    """Force mask_repeated_passages onto its Spark plan: with a zero
    driver budget only an empty corpus stays on the driver."""
    from fuggetabouspark.dataops import dedup

    monkeypatch.setattr(dedup, "_LOCAL_ROWS", 0)


@pytest.fixture()
def guard_spark_path(monkeypatch):
    """Force StreamingIngestGuard.process_batch onto its Spark path: with
    a zero driver budget only an empty batch stays on the driver (and
    expire_ledgers rewrites only empty ledgers on the driver)."""
    from fuggetabouspark.dataops import incremental

    monkeypatch.setattr(incremental, "_LOCAL_TRIGGER_ROWS", 0)


@pytest.fixture(params=["driver", "spark"])
def guard_path(request):
    """Run a test once on each StreamingIngestGuard path."""
    if request.param == "spark":
        request.getfixturevalue("guard_spark_path")
    return request.param


def on_guard_spark_path(base, *tests):
    """A subclass of test class ``base`` that reruns only its
    StreamingIngestGuard tests ``tests``, with the guard forced onto its
    Spark path (guard_spark_path); ``base``'s own run covers the driver
    path. Hiding the other inherited tests (set to None) keeps them from
    running twice."""
    hidden = {t: None for t in dir(base) if t.startswith("test_") and t not in tests}
    cls = type(f"{base.__name__}SparkPath", (base,), hidden)
    return pytest.mark.usefixtures("guard_spark_path")(cls)
