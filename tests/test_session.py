"""Session defaults follow the machine instead of fixed sizes."""

import os

from crawler_seo_spark.session import default_driver_memory, machine_cores


def test_defaults_follow_the_machine():
    assert machine_cores() == len(os.sched_getaffinity(0))
    mem = default_driver_memory()
    assert mem.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 1024 <= int(mem[:-1]) <= max(1024, ram_mb // 4)
