"""SparkSession factory defaults, checked without starting a JVM."""

from __future__ import annotations

import os

from mining_data_integration_spark import session


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return type("Spark", (), {"sparkContext": type(
            "Ctx", (), {"setLogLevel": lambda self, _lvl: None})()})()


def _built_conf(monkeypatch, **kwargs) -> dict:
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession",
                        type("FakeSession", (), {"builder": builder}))
    session.get_spark("t", **kwargs)
    return builder.conf


def test_default_cpus_are_the_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = str(len(os.sched_getaffinity(0)))
    assert session.default_cpus() == cores
    conf = _built_conf(monkeypatch)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == cores


def test_cpus_and_partitions_follow_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    conf = _built_conf(monkeypatch, shuffle_partitions=7)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "7"
