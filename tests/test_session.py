"""Session defaults that need no Spark to check."""

import os

from mysql_log_parser_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_physical_capped_at_16g():
    assert default_driver_memory(15 << 30) == "7680m"
    assert default_driver_memory(32 << 30) == "16384m"
    assert default_driver_memory(256 << 30) == "16384m"
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert default_driver_memory() == default_driver_memory(phys)
