"""Host-safe session defaults: the driver heap is sized from the host's
physical memory, and the JIT code-cache flag is appended to JVM options
a caller passes instead of replacing them."""

import pytest
from pyspark.sql import SparkSession

from auto_data_linkage_spark import session as S


class _Captured(Exception):
    pass


@pytest.fixture
def captured_options(monkeypatch):
    """get_spark's final builder options, captured at getOrCreate (no
    JVM is started)."""
    seen = {}

    def fake_get_or_create(builder):
        seen.update(builder._options)
        raise _Captured

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)

    def run(**kwargs):
        with pytest.raises(_Captured):
            S.get_spark("session-test", cpus=1, **kwargs)
        return seen

    return run


def _meminfo(tmp_path, kib):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_sized_from_meminfo(tmp_path, monkeypatch, captured_options):
    # a quarter of MemTotal, between 1 and 4 GiB
    assert S._default_driver_memory(_meminfo(tmp_path, 15 * 2**20)) == "3g"
    assert S._default_driver_memory(_meminfo(tmp_path, 128 * 2**20)) == "4g"
    assert S._default_driver_memory(_meminfo(tmp_path, 2 * 2**20)) == "1g"
    assert S._default_driver_memory(str(tmp_path / "absent")) == "4g"
    # get_spark uses it when the env override is unset, the override otherwise
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert (
        captured_options()["spark.driver.memory"] == S._default_driver_memory()
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert captured_options()["spark.driver.memory"] == "2g"


def test_code_cache_flag_appended_to_caller_java_options(
    monkeypatch, captured_options
):
    monkeypatch.setenv("SPARK_GRAFT_CODE_CACHE", "256m")
    opts = captured_options(
        extra_conf={"spark.driver.extraJavaOptions": "-XX:+UseG1GC -Dx=1"}
    )
    assert opts["spark.driver.extraJavaOptions"] == (
        "-XX:+UseG1GC -Dx=1 -XX:ReservedCodeCacheSize=256m"
    )
    assert opts["spark.executor.extraJavaOptions"] == (
        "-XX:ReservedCodeCacheSize=256m"
    )
    # a caller's own reservation wins over the default
    opts = captured_options(
        extra_conf={
            "spark.executor.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g"
        }
    )
    assert opts["spark.executor.extraJavaOptions"] == (
        "-XX:ReservedCodeCacheSize=1g"
    )
