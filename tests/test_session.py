"""Session factory defaults that do not need a running session."""

from __future__ import annotations

import os

from asr_training_data_pipeline_spark.session import _default_driver_memory


def test_default_driver_memory_fits_physical_ram():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    default = _default_driver_memory()
    assert default.endswith("g")
    assert 1 <= int(default[:-1]) and int(default[:-1]) * 2**30 <= ram
