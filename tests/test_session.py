"""The shared SparkSession's configuration fits the machine it runs on."""

import os

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _jvm_bytes(size: str) -> int:
    """A JVM memory string ("7680m", "48g", a bare byte count) in bytes."""
    size = size.strip().lower().rstrip("b")
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def test_driver_memory_fits_physical_ram(spark):
    """A driver heap larger than the machine lets the JVM grow until
    the kernel's OOM killer takes it, and every later Spark call fails."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _jvm_bytes(spark.sparkContext.getConf().get("spark.driver.memory"))
    assert 0 < heap <= phys, (heap, phys)
