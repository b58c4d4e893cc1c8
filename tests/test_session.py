"""Driver heap sizing of ``get_spark``, without starting Spark."""

from json_schema_spark.session import default_driver_memory

GiB = 1 << 30


def test_default_driver_memory_fits_the_host():
    assert default_driver_memory(16 * GiB) == "6g"   # 40%, whole GiB down
    assert default_driver_memory(128 * GiB) == "24g"  # capped
    assert default_driver_memory(GiB) == "1g"         # floor
    assert default_driver_memory().endswith("g")      # this host's RAM
