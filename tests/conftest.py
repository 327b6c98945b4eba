from __future__ import annotations

import shutil
import tempfile

import pytest

from go_dcp_elasticsearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_index_dir():
    d = tempfile.mkdtemp(prefix="ftidx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture()
def distributed(monkeypatch):
    """Pin pruned queries to the shard-parallel plan. Every test index is
    small enough for the driver path (BM25Query.DRIVER_MAX_POSTINGS), so
    without this fixture only that path would run."""
    from go_dcp_elasticsearch_spark.index.query import BM25Query

    monkeypatch.setattr(BM25Query, "DRIVER_MAX_POSTINGS", 0)
