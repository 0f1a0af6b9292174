"""Driver-heap sizing rule of the session factory (no JVM is started)."""

from __future__ import annotations

from open_source_financial_time_series_data_pipeline_architecture_spark.session import (
    _local_slots,
    default_driver_memory,
)

GIB = 1 << 30


def test_bench_machine_keeps_24g():
    assert default_driver_memory(32, 64 * GIB) == "24576m"


def test_eight_slots_on_16g():
    assert default_driver_memory(8, 16 * GIB) == "6144m"


def test_physical_cap_applies():
    # 32 * 768 MiB = 24 GiB would need 33.6 GiB of RAM with the 0.40
    # non-JVM overhead; a 16 GiB machine backs at most 16 GiB / 1.4.
    assert default_driver_memory(32, 16 * GIB) == f"{int(16 * GIB / 1.4) >> 20}m"
    assert int(default_driver_memory(32, 16 * GIB)[:-1]) * 1.4 <= 16 * 1024


def test_env_override_wins():
    assert default_driver_memory(32, 4 * GIB, "24g") == "24g"
    assert default_driver_memory(8, 64 * GIB, "2g") == "2g"


def test_local_slots_from_master(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert _local_slots("local[8]") == 8
    assert _local_slots("local[4,3]") == 4
    assert _local_slots("local[*]") == 5
    assert _local_slots("spark://host:7077") == 5
