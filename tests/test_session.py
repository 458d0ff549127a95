"""Session defaults that need no running Spark."""

from entity_resolution_spark.session import default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_sized_from_host_ram():
    # 40% of RAM in whole GiB, leaving room for Python workers and JVM
    # overhead next to the heap
    assert default_driver_memory(16 * GIB) == "6g"
    assert default_driver_memory(8 * GIB) == "3g"
    # cap and floor
    assert default_driver_memory(256 * GIB) == "16g"
    assert default_driver_memory(40 * GIB) == "16g"
    assert default_driver_memory(2 * GIB) == "1g"
    assert default_driver_memory(0) == "1g"
    # the host probe yields a value in range
    g = int(default_driver_memory().rstrip("g"))
    assert 1 <= g <= 16
