"""Session defaults sized from the box: the master's thread count drives
the shuffle width and the local heap. Pure tests: no JVM starts and the
shared test session is never touched (``getOrCreate`` would re-apply a
new builder's options to it)."""

from __future__ import annotations

import os

import pytest

from edu_data_pipeline_spark import session


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local[4]", 4),
        (" local[12] ", 12),
        ("local[*]", os.cpu_count()),
        ("spark://host:7077", None),
        ("yarn", None),
        ("local", None),
        ("local[0]", None),
        ("local[-2]", None),
        ("local[4,2]", None),
        ("local[x]", None),
        ("", None),
    ],
)
def test_local_cores_parse(master, cores):
    assert session._local_cores(master) == cores


class _Builder:
    """Records what ``get_spark`` asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def built(monkeypatch):
    """``get_spark`` against a recording builder instead of Spark's."""

    class _FakeSession:
        @property
        def builder(self):
            return _Builder()

    monkeypatch.setattr(session, "SparkSession", _FakeSession())
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    return session.get_spark


def test_default_master_and_partitions_follow_the_cores(built, monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    conf = built()
    assert conf["master"] == "local[6]"
    assert conf["spark.sql.shuffle.partitions"] == "6"
    assert conf["spark.driver.memory"] == "2048m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    conf = built()
    assert conf["master"] == "local[12]"
    assert conf["spark.sql.shuffle.partitions"] == "12"
    assert conf["spark.driver.memory"] == f"{12 * 256}m"


def test_explicit_partitions_and_cluster_master(built):
    assert built(master="local[4]", shuffle_partitions=9)[
        "spark.sql.shuffle.partitions"] == "9"
    conf = built(master="spark://host:7077")
    assert conf["spark.sql.shuffle.partitions"] == str(
        session.DEFAULT_SHUFFLE_PARTITIONS)
    assert "spark.driver.memory" not in conf
    assert "spark.driver.extraJavaOptions" not in conf
