"""Session builder settings that need no new SparkSession."""

from __future__ import annotations

from lk_data_test_spark import session


def _host(monkeypatch, cpus, usable=None):
    """A host with ``cpus`` CPUs (None: unknown), of which this process may
    run on ``usable`` (default all; None: no affinity call on this OS)."""
    monkeypatch.setattr(session.os, "cpu_count", lambda: cpus)
    if usable is None and cpus is None:
        monkeypatch.delattr(session.os, "sched_getaffinity", raising=False)
        return
    n = cpus if usable is None else usable
    monkeypatch.setattr(
        session.os, "sched_getaffinity", lambda pid: set(range(n)), raising=False
    )


def test_shuffle_partitions_follow_requested_cores(monkeypatch):
    _host(monkeypatch, 2)
    assert session.default_shuffle_partitions(16) == 32
    assert session.default_shuffle_partitions("12") == 24
    assert session.default_shuffle_partitions(2) == 8  # floor of 8
    # "*" / None follow the host, 8 cores when it cannot tell
    assert session.default_shuffle_partitions("*") == 8
    _host(monkeypatch, 6)
    assert session.default_shuffle_partitions(None) == 12
    _host(monkeypatch, None)
    assert session.default_shuffle_partitions("*") == 16


def test_shuffle_partitions_follow_the_affinity_mask(monkeypatch):
    # taskset -c 0-3 on a 32-CPU host: local[*] gets 4 cores, not 32
    _host(monkeypatch, 32, usable=4)
    assert session.default_shuffle_partitions("*") == 8
    assert session.default_shuffle_partitions(None) == 8
    _host(monkeypatch, 32, usable=6)
    assert session.default_shuffle_partitions("*") == 12
    assert session.default_shuffle_partitions(16) == 32  # explicit cores win
