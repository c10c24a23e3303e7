"""session.get_spark's memory default (pure helper, no Spark)."""

from anycrawl_spark.session import default_driver_memory

GiB = 1 << 30


def test_default_driver_memory_is_half_of_physical():
    assert default_driver_memory(16 * GiB) == "8192m"
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(128 * GiB) == "65536m"


def test_default_driver_memory_floor():
    assert default_driver_memory(512 << 20) == "1024m"


def test_default_driver_memory_reads_this_machine():
    got = default_driver_memory()
    assert got.endswith("m") and int(got[:-1]) >= 1024
