"""The session conf ``get_spark`` builds, checked without starting a
JVM."""

from __future__ import annotations

from neosync_spark.session import _engine_conf

_OPTS = "spark.driver.extraJavaOptions"
_CODE_CACHE = "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing"


def test_code_cache_flags_by_default():
    assert _engine_conf(8, None, None)[_OPTS] == _CODE_CACHE


def test_caller_java_options_append_to_code_cache_flags():
    conf = _engine_conf(8, None, {_OPTS: "-Dx=1", "spark.ui.enabled": "true"})
    assert conf[_OPTS] == f"{_CODE_CACHE} -Dx=1"
    assert conf["spark.ui.enabled"] == "true"  # other keys still replace
    assert conf["spark.sql.shuffle.partitions"] == "8"


def test_driver_heap_is_half_the_host_memory_capped_at_48g():
    from neosync_spark.session import _default_driver_memory

    assert _default_driver_memory(15 * 2**30) == "7680m"
    assert _default_driver_memory(256 * 2**30) == "49152m"  # the 48g cap
    assert _default_driver_memory(None) == "48g"


def test_host_memory_is_the_smaller_of_memtotal_and_cgroup_limit(tmp_path):
    from neosync_spark.session import _host_memory_bytes

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\nMemFree:  1 kB\n")
    cgroup = tmp_path / "memory.max"
    cgroup.write_text("4294967296\n")
    assert _host_memory_bytes(str(meminfo), str(cgroup)) == 4 * 2**30
    cgroup.write_text("max\n")  # no container limit
    assert _host_memory_bytes(str(meminfo), str(cgroup)) == 16000000 * 1024
    missing = str(tmp_path / "absent")
    assert _host_memory_bytes(missing, str(cgroup)) is None


def test_driver_memory_env_overrides_the_host_default(monkeypatch):
    from neosync_spark.session import _default_driver_memory, _host_memory_bytes

    monkeypatch.setenv("NEOSYNC_SPARK_DRIVER_MEM", "3g")
    assert _engine_conf(8, None, None)["spark.driver.memory"] == "3g"
    monkeypatch.delenv("NEOSYNC_SPARK_DRIVER_MEM")
    assert _engine_conf(8, None, None)["spark.driver.memory"] == (
        _default_driver_memory(_host_memory_bytes())
    )
