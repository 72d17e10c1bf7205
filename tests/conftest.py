"""Shared fixtures: one SparkSession per test run, sf0.001/sf0.01 dirs."""

from __future__ import annotations

import pytest

from mitoscape_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


def _dead_jvm():
    """The session JVM's process if it has exited, else None."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc if proc is not None and proc.poll() is not None else None


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    if _dead_jvm() is None:
        s.stop()


def pytest_runtest_setup(item):
    """Once the session's JVM has exited (e.g. OOM-killed), fail every
    later Spark test before its fixtures run (skip marks are evaluated
    first), with one message naming the dead gateway, instead of a
    ConnectionRefusedError cascade."""
    proc = _dead_jvm() if "spark" in item.fixturenames else None
    if proc is not None:
        pytest.fail(
            f"Spark JVM gateway is dead: the session JVM (pid {proc.pid}) "
            f"exited with code {proc.returncode} during an earlier test; "
            "-9 is SIGKILL, usually the OOM killer (see dmesg)",
            pytrace=False,
        )


@pytest.fixture(scope="session")
def query_sweep(spark):
    """Each declared query built and checked once per run, shared by
    test_extensions.py, test_plan_audit.py and test_relational.py."""
    from query_sweep import QuerySweep

    sweep = QuerySweep(spark)
    yield sweep
    sweep.close()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_t2() -> str:
    return SF_T2
