"""session.get_spark defaults (no JVM: SparkSession is a stub)."""

import os
from types import SimpleNamespace

from baum_welch_spark import session


class _Stub:
    def __init__(self):
        self.masters = []

    def master(self, url):
        self.masters.append(url)
        return self

    def appName(self, _name):
        return self

    def config(self, *_kv):
        return self

    def getOrCreate(self):
        return "session"


def test_get_spark_defaults_to_host_cores_when_env_unset(monkeypatch):
    stub = _Stub()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=stub))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.get_spark() == "session"
    assert stub.masters == [f"local[{os.cpu_count()}]"]

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert stub.masters[-1] == "local[3]"
