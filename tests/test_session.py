"""`get_spark` sizes its local master and shuffle partitions to the cores this
process may run on, unless `SPARK_GRAFT_CPUS` names a count.

The session builder is replaced by a recorder, so no JVM starts."""

import os
from types import SimpleNamespace

from osm_data_3d_tiles_spark import session


class _Recorder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch) -> dict:
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Recorder()))
    return session.get_spark()


def test_cores_default_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    conf = _conf(monkeypatch)
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)


def test_cores_set_in_the_environment_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
