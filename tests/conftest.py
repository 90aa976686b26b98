from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from blockchaintoavro_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests._compare import duck_connection

    return duck_connection(sf_dir)


class _RoundTrips:
    """Py4J driver→JVM round trips counted since the last ``reset()``."""

    def __init__(self):
        self.n = 0

    def reset(self) -> None:
        self.n = 0


@pytest.fixture()
def py4j_round_trips(spark):
    """Count the Py4J commands the test's thread sends (one
    ``send_command`` = one round trip to the JVM) for the duration of a
    test. Commands from other threads are not counted: py4j's finalizer
    thread sends the deletes of garbage-collected Java object handles
    whenever Python's gc happens to run, off the caller's path."""
    client = spark.sparkContext._gateway._gateway_client
    counter = _RoundTrips()
    send = client.send_command
    owner = threading.get_ident()

    def counting(*args, **kwargs):
        if threading.get_ident() == owner:
            counter.n += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield counter
    finally:
        del client.send_command
