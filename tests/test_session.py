"""Session defaults sized from the host this process runs on."""

from __future__ import annotations

import os

from webgraph_spark import session


def test_driver_memory_is_half_the_host_with_a_1g_floor():
    assert session.driver_memory(16 * 2**30) == "8192m"
    assert session.driver_memory(128 * 2**30) == "65536m"
    assert session.driver_memory(15 * 2**30 + 123) == "7680m"
    assert session.driver_memory(512 * 2**20) == "1024m"


def test_host_memory_takes_the_lower_cgroup_limit(tmp_path, monkeypatch):
    with open("/proc/meminfo") as f:
        mem_total = next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:"))
    unlimited_v2 = tmp_path / "memory.max"
    unlimited_v2.write_text("max\n")
    missing = str(tmp_path / "absent")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(unlimited_v2), missing))
    assert session.host_memory_bytes() == mem_total

    limited_v1 = tmp_path / "memory.limit_in_bytes"
    limited_v1.write_text(f"{mem_total // 4}\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(unlimited_v2), str(limited_v1)))
    assert session.host_memory_bytes() == mem_total // 4

    above = tmp_path / "above"
    above.write_text(f"{mem_total * 4}\n")
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(above),))
    assert session.host_memory_bytes() == mem_total


def test_local_cpus_fall_back_to_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == "3"
