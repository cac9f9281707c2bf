"""Session defaults that need no running Spark."""

from learn_to_compress_spark.sources.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_host_ram_capped_at_32g(tmp_path):
    assert default_driver_memory({}, _meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"
    assert default_driver_memory({}, _meminfo(tmp_path, 256 * 1024 * 1024)) == "32768m"


def test_driver_memory_env_wins(tmp_path):
    env = {"SPARK_DRIVER_MEM": "2g"}
    assert default_driver_memory(env, _meminfo(tmp_path, 16 * 1024 * 1024)) == "2g"


def test_driver_memory_without_meminfo_keeps_the_cap(tmp_path):
    assert default_driver_memory({}, str(tmp_path / "missing")) == "32768m"
