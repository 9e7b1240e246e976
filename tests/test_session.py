"""Session sizing that does not need a running JVM."""

from __future__ import annotations

from politician_etl_project_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(path)


def test_driver_memory_is_half_of_host_ram_capped_at_16g(tmp_path):
    # a 15 GiB host gets half its RAM, not a heap ceiling above it
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"
    # a 32 GiB host keeps 16g; larger hosts stay capped there
    assert default_driver_memory(_meminfo(tmp_path, 32 * 1024 * 1024)) == "16384m"
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"


def test_driver_memory_falls_back_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
