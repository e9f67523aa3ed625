from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running (chaos / multi-JVM) tests"
    )


@pytest.fixture(scope="session")
def spark():
    from syslog_spark.session import build_session

    s = build_session(
        app_name="syslog_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def standard_reader(monkeypatch):
    """Context manager: inside it ``sources.direct._scan`` fails the way
    it does on an unlistable store, the condition under which the
    pipeline reads through ``spark.read.parquet`` instead of the direct
    source."""
    import contextlib

    from syslog_spark.sources import direct

    def unlistable(path):
        raise OSError(f"cannot list {path}")

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(direct, "_scan", unlistable)
            yield

    return forced


@pytest.fixture
def split_edges(spark):
    """Scatter small edge sets over 8 partitions: with AQE's partition
    coalescing off, ``connected_components``'s rebalance leaves edges of
    one component in different partitions, so the local contraction is
    not the answer and the large-star/small-star alternation runs."""
    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


@pytest.fixture
def star_rounds(monkeypatch):
    """A list that counts the large-star/small-star alternations
    ``connected_components`` runs: one entry per alternation."""
    from syslog_spark.operators import dedup

    rounds = []
    orig = dedup._star_round

    def count(edges, mins, large):
        if large:
            rounds.append(1)
        return orig(edges, mins, large)

    monkeypatch.setattr(dedup, "_star_round", count)
    return rounds
