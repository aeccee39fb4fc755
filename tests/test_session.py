"""The default driver heap rule of ``session.get_spark``."""

from __future__ import annotations

from nametag3_spark.session import default_driver_memory

GIB = 1024**3


def test_driver_memory_is_sixty_percent_of_ram_in_whole_mb():
    assert default_driver_memory(15 * GIB) == "9216m"
    # 0.6 GiB = 614.4 MB, rounded down to whole MB
    assert default_driver_memory(GIB) == "614m"


def test_driver_memory_is_capped_at_24g():
    assert default_driver_memory(40 * GIB) == "24576m"
    assert default_driver_memory(512 * GIB) == "24576m"
