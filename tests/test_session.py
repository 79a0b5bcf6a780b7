"""Session defaults derived from the host, checked without a Spark
session."""

from __future__ import annotations

from bd_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def _cgroup(tmp_path, text: str) -> str:
    p = tmp_path / "memory.max"
    p.write_text(text + "\n")
    return str(p)


def test_driver_memory_is_half_of_host_ram(tmp_path):
    # a 15 GB host: half of MemTotal, no cgroup limit
    mi = _meminfo(tmp_path, 15 * 1024 * 1024)
    assert default_driver_memory(mi, _cgroup(tmp_path, "max")) == "7680m"
    assert default_driver_memory(mi, str(tmp_path / "absent")) == "7680m"


def test_driver_memory_follows_a_lower_cgroup_limit(tmp_path):
    mi = _meminfo(tmp_path, 64 * 1024 * 1024)
    cg = _cgroup(tmp_path, str(4 * 2**30))
    assert default_driver_memory(mi, cg) == "2048m"
    # a cgroup limit above the host's RAM changes nothing
    cg = _cgroup(tmp_path, str(128 * 2**30))
    assert default_driver_memory(_meminfo(tmp_path, 8 * 1024 * 1024), cg) == "4096m"


def test_driver_memory_is_capped(tmp_path):
    mi = _meminfo(tmp_path, 256 * 1024 * 1024)
    assert default_driver_memory(mi, _cgroup(tmp_path, "max")) == "24576m"
    # nothing readable: the cap, as before the host was consulted
    assert default_driver_memory(
        str(tmp_path / "none"), str(tmp_path / "none")
    ) == "24576m"
