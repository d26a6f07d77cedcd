"""Session defaults that need no running Spark."""

from __future__ import annotations

import pytest

from silkworm_spark.session import default_driver_memory


@pytest.mark.parametrize("total_kb,want", [
    (16 * 1024 * 1024, "4096m"),   # a quarter of RAM
    (15_728_640, "3840m"),         # 15 GiB box
    (2 * 1024 * 1024, "1024m"),    # floor: 1g
    (256 * 1024 * 1024, "20480m"),  # cap: 20g
])
def test_default_driver_memory_is_quarter_of_ram(tmp_path, total_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "1024m"
    (tmp_path / "empty").write_text("")
    assert default_driver_memory(str(tmp_path / "empty")) == "1024m"
