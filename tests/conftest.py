from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

@pytest.fixture(scope="session")
def spark():
    from kin_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="kin-pipeline-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()

@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class _Crash:
    """Fault injection at the commit log's crash points. ``at(obj, attr)``
    makes ``obj.attr`` kill the caller: ``Killed`` is a BaseException, so
    it bypasses the engine's ``except Exception`` cleanup the way a
    process death would. ``recover()`` restores the patched attributes."""

    class Killed(BaseException):
        pass

    def __init__(self, monkeypatch):
        self._mp = monkeypatch

    def at(self, obj, attr):
        def die(*_args, **_kwargs):
            raise self.Killed

        self._mp.setattr(obj, attr, die)
        return pytest.raises(self.Killed)

    def recover(self):
        self._mp.undo()

    @staticmethod
    def live_files(cat, name) -> set:
        from urllib.parse import urlparse

        return {urlparse(f).path for f in cat.table(name).inputFiles()}

    @staticmethod
    def files_on_disk(cat, name) -> set:
        """Every parquet data file under the table's directory."""
        out = set()
        for root, _dirs, names in os.walk(cat.path(name)):
            out |= {
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            }
        return out


@pytest.fixture()
def crash(monkeypatch):
    return _Crash(monkeypatch)
