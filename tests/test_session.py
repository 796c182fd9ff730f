"""Session defaults that depend on the host."""

from gofias_spark.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {kb} kB\nMemFree:        1234 kB\n"
    )
    return str(p)


def test_default_driver_memory_is_half_of_memtotal(tmp_path):
    gib = 1024 * 1024  # kB
    assert default_driver_memory(_meminfo(tmp_path, 15 * gib + 512)) == "7g"
    assert default_driver_memory(_meminfo(tmp_path, 64 * gib)) == "32g"


def test_default_driver_memory_bounds(tmp_path):
    gib = 1024 * 1024
    assert default_driver_memory(_meminfo(tmp_path, 512 * gib)) == "48g"
    assert default_driver_memory(_meminfo(tmp_path, gib)) == "1g"
    assert default_driver_memory(str(tmp_path / "absent")) == "48g"
    bad = tmp_path / "bad"
    bad.write_text("MemFree: 10 kB\n")
    assert default_driver_memory(str(bad)) == "48g"
