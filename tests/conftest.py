import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_hits_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    spark = get_spark("bigdata-hits-spark-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_oracle():
    return SF_DIR_ORACLE


@pytest.fixture(params=["broadcast", "shuffle"])
def spark_tier(request, monkeypatch):
    """Force the ranking operators onto one Spark tier.  Test graphs are
    far below ``ranking.LOCAL_MAX_EDGES``, so they rank on the driver
    unless the cap is lowered."""
    from bigdata_hits_spark.operators import ranking

    monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", -1)
    if request.param == "shuffle":
        monkeypatch.setattr(ranking, "SCORE_BROADCAST_MAX_NODES", 0)
    return request.param


@pytest.fixture
def on_every_tier(monkeypatch):
    """``on_every_tier(run)`` -> {tier: run()} for the local, broadcast
    and shuffle ranking tiers, in that order."""
    from bigdata_hits_spark.operators import ranking

    def run_all(run):
        out = {"local": run()}
        monkeypatch.setattr(ranking, "LOCAL_MAX_EDGES", -1)
        out["broadcast"] = run()
        monkeypatch.setattr(ranking, "SCORE_BROADCAST_MAX_NODES", 0)
        out["shuffle"] = run()
        return out

    return run_all
