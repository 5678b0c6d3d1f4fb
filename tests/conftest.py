import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("crawler-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")


@pytest.fixture
def crash_at(monkeypatch):
    """Install a fault point: ``crash_at(module, name, hit)`` replaces
    ``module.name`` with a wrapper that raises ``RuntimeError("injected
    crash …")`` the first time ``hit(*args, **kwargs)`` holds and otherwise
    calls the original. Returns the list of crashes so far (one entry once
    the fault point fired)."""

    def install(module, name, hit):
        real = getattr(module, name)
        hits = []

        def at_fault_point(*args, **kwargs):
            if not hits and hit(*args, **kwargs):
                hits.append(name)
                raise RuntimeError(f"injected crash at {name}")
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, at_fault_point)
        return hits

    return install
