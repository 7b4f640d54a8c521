"""Session helpers that need no running Spark: the driver-heap default and
the hold/release cache lifetime (driven with stand-in frames)."""

from __future__ import annotations

import pytest

from rangebar_patterns_spark import session


@pytest.mark.parametrize(
    "mem_total_kib, want",
    [
        (16_000_000, f"{16_000_000 // 2 // 1024}m"),  # half of a 16 GB host
        (96 * 1024**2, "49152m"),  # exactly at the 48 GiB cap
        (512 * 1024**2, "49152m"),  # capped on a large host
    ],
)
def test_driver_memory_is_half_of_memtotal_capped(tmp_path, mem_total_kib, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemFree:         1234 kB\nMemTotal:       {mem_total_kib} kB\n"
    )
    assert session._default_driver_memory(str(meminfo)) == want


def test_driver_memory_falls_back_to_cap_when_unreadable(tmp_path):
    assert session._default_driver_memory(str(tmp_path / "missing")) == "49152m"


class _Frame:
    """Stand-in for a DataFrame: records persist/unpersist calls."""

    def __init__(self, spark, name, log):
        self.sparkSession = spark
        self.name = name
        self.log = log

    def persist(self):
        self.log.append(("persist", self.name))
        return self

    def unpersist(self):
        if self.sparkSession is None:
            raise AssertionError(f"JVM call on {self.name}'s stopped session")
        self.log.append(("unpersist", self.name))
        return self


def test_release_unpersists_own_frames_newest_first(monkeypatch):
    monkeypatch.setattr(session, "_HELD", [])
    spark, log = object(), []
    a = _Frame(spark, "a", log)
    assert session.hold(a) is a
    session.hold(_Frame(None, "other", log))  # a stopped session's frame
    session.hold(_Frame(spark, "b", log))
    session.release(spark)
    assert log == [
        ("persist", "a"),
        ("persist", "other"),
        ("persist", "b"),
        ("unpersist", "b"),
        ("unpersist", "a"),
    ]
    assert session._HELD == []
