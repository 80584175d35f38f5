"""Session builder settings that need no new SparkSession."""

from __future__ import annotations

from lk_data_test_spark import session


def test_shuffle_partitions_follow_requested_cores(monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 2)
    assert session.default_shuffle_partitions(16) == 32
    assert session.default_shuffle_partitions("12") == 24
    assert session.default_shuffle_partitions(2) == 8  # floor of 8
    # "*" / None follow the host, 8 cores when it cannot tell
    assert session.default_shuffle_partitions("*") == 8
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    assert session.default_shuffle_partitions(None) == 12
    monkeypatch.setattr(session.os, "cpu_count", lambda: None)
    assert session.default_shuffle_partitions("*") == 16
