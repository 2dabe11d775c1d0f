"""Session sizing from the host, without a JVM."""

from __future__ import annotations

from indonesian_id_ocr_service_spark.session import (
    clamp_driver_mem,
    host_mem_total_kb,
)

GIB_KB = 1024 * 1024


def test_driver_mem_clamped_to_half_of_host():
    # 48g on a 15 GiB host: half of MemTotal, 7.5g
    assert clamp_driver_mem("48g", 15 * GIB_KB) == "7680m"
    assert clamp_driver_mem("48GB", 15 * GIB_KB) == "7680m"
    assert clamp_driver_mem("9000m", 15 * GIB_KB) == "7680m"


def test_driver_mem_within_half_kept():
    assert clamp_driver_mem("8g", 32 * GIB_KB) == "8g"
    assert clamp_driver_mem("4017m", 15 * GIB_KB) == "4017m"
    assert clamp_driver_mem("7680m", 15 * GIB_KB) == "7680m"


def test_driver_mem_unknown_host_or_string_kept():
    assert clamp_driver_mem("48g", None) == "48g"
    assert clamp_driver_mem("lots", 15 * GIB_KB) == "lots"


def test_host_mem_total_kb(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree: 1 kB\n")
    assert host_mem_total_kb(str(meminfo)) == 16456384
    assert host_mem_total_kb(str(tmp_path / "missing")) is None
    meminfo.write_text("MemFree: 1 kB\n")
    assert host_mem_total_kb(str(meminfo)) is None
