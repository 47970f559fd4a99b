from __future__ import annotations

import os

import pytest


def pytest_addoption(parser):
    parser.addoption(
        "--run-bench", action="store_true", default=False,
        help="run scaling/bench-marked tests",
    )


def pytest_configure(config):
    config.addinivalue_line("markers", "bench: slow scaling/benchmark tests")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--run-bench"):
        return
    skip = pytest.mark.skip(reason="bench test; use --run-bench")
    for item in items:
        if "bench" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from spacetime_crawler_spark.session import get_spark, host_cpus

    # one task slot per core this process may run on (get_spark then sets
    # max(8, cpus) shuffle partitions); SPARK_GRAFT_TEST_CPUS overrides
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS") or host_cpus()
    s = get_spark(master=f"local[{cpus}]", app_name="scs-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
