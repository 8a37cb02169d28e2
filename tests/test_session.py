"""Session defaults sized to the host."""

from __future__ import annotations

import os

from hugegraph_computer_spark import session


def test_driver_heap_is_a_share_of_memtotal(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       16384000 kB\nMemFree:         1000000 kB\n"
    )
    # 40% of 16,384,000 kB = 6,553,600 kB = 6400 MiB
    assert session.default_driver_memory(str(meminfo)) == "6400m"
    # unreadable or malformed meminfo: leave Spark's default
    assert session.default_driver_memory(str(tmp_path / "missing")) is None
    meminfo.write_text("MemFree: 1 kB\n")
    assert session.default_driver_memory(str(meminfo)) is None
    # an explicit setting always wins
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.default_driver_memory(str(meminfo)) == "3g"


def test_cpus_default_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3
