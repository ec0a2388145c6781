"""Unit gate for the scale-adaptive local-mode driver-heap default
(guide §5): in local mode the driver JVM hosts every executor thread,
so the default heap must grow with the thread count; non-local masters
keep the plain driver-sized 8g."""

from __future__ import annotations

import os
import re

from sifr_project_java_ontology_processing_spark.session import _default_driver_mem


def _gb(s: str) -> int:
    m = re.fullmatch(r"(\d+)g", s)
    assert m, f"not a whole-GiB heap string: {s!r}"
    return int(m.group(1))


def _phys_cap_gb() -> int:
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    return max(8, int(phys_gib / 2))


def test_cluster_masters_keep_driver_sized_default():
    for master in ("yarn", "k8s://https://host:443", "spark://host:7077"):
        assert _default_driver_mem(master) == "8g"


def test_local_scales_with_thread_count():
    cap = _phys_cap_gb()
    # 0.75 GiB/thread, floored at the old 8g default
    assert _gb(_default_driver_mem("local[4]")) == 8
    assert _gb(_default_driver_mem("local[32]")) == min(24, cap)
    assert _gb(_default_driver_mem("local[64]")) == min(48, cap)
    # local / local[*] follow the machine's core count
    want = min(max(8, -(-(os.cpu_count() or 8) * 3 // 4)), cap)
    assert _gb(_default_driver_mem("local[*]")) == want
    assert _gb(_default_driver_mem("local")) == want
    # retry-count form local[N,F]: threads are N (local[4,2] would
    # read 8 either way, so use a count above the 8g floor)
    assert _gb(_default_driver_mem("local[32,2]")) == min(24, cap)
    assert _gb(_default_driver_mem("local[*,3]")) == want


def test_capped_at_half_physical_ram():
    assert _gb(_default_driver_mem("local[100000]")) == _phys_cap_gb()


def test_unknown_ram_keeps_thread_scaled_heap(monkeypatch):
    def _no_sysconf(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", _no_sysconf)
    assert _default_driver_mem("local[32]") == "24g"
    assert _default_driver_mem("local[4]") == "8g"
