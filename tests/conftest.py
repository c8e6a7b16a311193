import contextlib

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pandera-forge-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@contextlib.contextmanager
def _count_py4j_commands():
    import py4j.clientserver as cs

    sent: list = []
    real = cs.ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return real(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        yield sent
    finally:
        cs.ClientServerConnection.send_command = real


@pytest.fixture
def py4j_commands():
    """Driver round-trip counter: ``with py4j_commands() as sent:`` lists
    every py4j command the block sends to the JVM (each one a round
    trip), so a test can hold expression-building code to a command
    budget."""
    return _count_py4j_commands
