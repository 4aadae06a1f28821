"""get_spark sizes the local session to the host unless the env says
otherwise. The builder is replaced by a recorder, so no JVM starts."""

import os
import types

import pytest

from kdtree_spark import session


class _Built(Exception):
    pass


class _RecordingBuilder:
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
        raise _Built()


def _session_conf(monkeypatch) -> dict:
    rec = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=rec))
    with pytest.raises(_Built):
        session.get_spark("sizing")
    return rec.conf


def _bytes(mem: str) -> int:
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    return int(mem[:-1]) * units[mem[-1].lower()]


def test_default_session_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = _session_conf(monkeypatch)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < _bytes(conf["spark.driver.memory"]) <= ram
    assert conf["master"] == f"local[{len(os.sched_getaffinity(0))}]"


def test_env_overrides_session_size(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    conf = _session_conf(monkeypatch)
    assert conf["spark.driver.memory"] == "3g"
    assert conf["master"] == "local[2]"
