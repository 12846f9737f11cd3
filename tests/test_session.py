"""Session defaults that must fit the host they run on."""

import pytest

from flink_skyline_qos_spark.session import default_driver_memory


@pytest.mark.parametrize("mem_total_kb, want", [
    (16_456_384, "8035m"),      # a 16 GB host: half of it
    (1_048_576, "1024m"),       # a 1 GB host: never below 1g
    (268_435_456, "32768m"),    # a 256 GB host: never above 32g
])
def test_default_driver_memory_is_half_of_mem_total(tmp_path, mem_total_kb,
                                                    want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kb} kB\n"
                       "MemFree:         1000000 kB\n")
    assert default_driver_memory(str(meminfo)) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "1g"
    empty = tmp_path / "empty"
    empty.write_text("")
    assert default_driver_memory(str(empty)) == "1g"
