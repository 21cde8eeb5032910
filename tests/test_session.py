"""Session construction defaults (no Spark session needed)."""

from __future__ import annotations

import os
import re

from hadoop__spark.session import _default_driver_memory


def test_default_driver_memory_is_half_physical_capped():
    """A local-mode driver defaults to at most half the physical memory
    (and at most 16g), as a size string Spark accepts."""
    mem = _default_driver_memory()
    m = re.fullmatch(r"(\d+)([mg])", mem)
    assert m, mem
    mib = int(m.group(1)) * (1024 if m.group(2) == "g" else 1)
    assert 0 < mib <= 16 * 1024
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mib * 2**20 <= phys // 2
