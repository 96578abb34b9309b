"""Default driver heap: sized to the machine, capped at 12g, env-overridable.

The rule (``session.driver_memory``): the largest heap H with
H + max(384 MiB, 0.10*H) <= 0.75 * M, capped at 12g, where M is the usable
memory. Spark's hardware-provisioning guide gives Spark at most 75% of the
memory; 384 MiB and 0.10 are the defaults of ``spark.driver.minMemoryOverhead``
and ``spark.driver.memoryOverheadFactor``.
"""

from __future__ import annotations

import os

import pytest

from dedupe_archived_files_spark.session import (
    _cgroup_memory_limit,
    driver_memory,
    usable_memory_bytes,
)

MIB = 1024 * 1024
GIB = 1024 * MIB


def _bytes(size: str) -> int:
    units = {"k": 1024, "m": MIB, "g": GIB, "t": 1024 * GIB}
    return int(size[:-1]) * units[size[-1].lower()]


def _fits(heap: int, usable: int) -> bool:
    return heap + max(384 * MIB, heap // 10) <= 0.75 * usable


@pytest.fixture
def no_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


def test_heap_fits_a_16_gib_machine(no_override):
    heap = _bytes(driver_memory(16 * GIB))
    assert _fits(heap, 16 * GIB)
    assert heap < 12 * GIB
    # the largest such heap, to the MiB
    assert not _fits(heap + MIB, 16 * GIB)


def test_heap_capped_at_12g_on_large_machines(no_override):
    assert driver_memory(64 * GIB) == "12g"
    # the cap binds from ~17.6 GiB up: 12g * 1.1 / 0.75
    assert driver_memory(int(12 * GIB * 1.1 / 0.75) + MIB) == "12g"
    assert _bytes(driver_memory(17 * GIB)) < 12 * GIB


def test_heap_overhead_floor_on_small_machines(no_override):
    # 2 GiB: 0.10*H is under 384 MiB, so the floor sets the overhead
    heap = _bytes(driver_memory(2 * GIB))
    assert heap == 2 * GIB * 3 // 4 - 384 * MIB
    assert _fits(heap, 2 * GIB) and not _fits(heap + MIB, 2 * GIB)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        driver_memory(1 * GIB)


def test_env_override_returned_verbatim(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert driver_memory(64 * GIB) == "2g"
    assert driver_memory(1 * GIB) == "2g"
    assert driver_memory() == "2g"


def _cgroup_tree(tmp_path, proc_line: str, files: dict[str, str]):
    proc = tmp_path / "cgroup"
    proc.write_text(proc_line + "\n")
    mount = tmp_path / "sys"
    for rel, value in files.items():
        f = mount / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(value + "\n")
    return str(proc), str(mount)


def test_cgroup_v2_limit(tmp_path):
    proc, mount = _cgroup_tree(
        tmp_path, "0::/jobs/a", {"jobs/a/memory.max": str(8 * GIB), "jobs/memory.max": "max"}
    )
    assert _cgroup_memory_limit(proc, mount) == 8 * GIB


def test_cgroup_v1_ancestor_limit_and_sentinel(tmp_path):
    # own cgroup unlimited (the v1 sentinel), its parent limited
    proc, mount = _cgroup_tree(
        tmp_path,
        "4:memory:/outer/inner",
        {
            "memory/outer/inner/memory.limit_in_bytes": "9223372036854771712",
            "memory/outer/memory.limit_in_bytes": str(6 * GIB),
            "memory/memory.limit_in_bytes": "9223372036854771712",
        },
    )
    assert _cgroup_memory_limit(proc, mount) == 6 * GIB


def test_cgroup_no_limit(tmp_path):
    proc, mount = _cgroup_tree(
        tmp_path,
        "0::/\n4:memory:/a",
        {"memory/a/memory.limit_in_bytes": "9223372036854771712", "memory.max": "max"},
    )
    assert _cgroup_memory_limit(proc, mount) is None
    assert _cgroup_memory_limit(str(tmp_path / "missing"), mount) is None


def test_session_heap_pinned_and_fits_this_machine(spark):
    conf = spark.sparkContext.getConf()
    mem = conf.get("spark.driver.memory")
    assert mem == driver_memory()
    assert f"-Xms{mem}" in conf.get("spark.driver.extraJavaOptions")
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert f"-Xms{mem}" in args and f"-Xmx{mem}" in args
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        heap, usable = _bytes(mem), usable_memory_bytes()
        assert _fits(heap, usable)
        assert heap == 12 * GIB or not _fits(heap + MIB, usable)
