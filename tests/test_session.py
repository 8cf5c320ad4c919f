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
