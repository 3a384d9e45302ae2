"""Session defaults are sized from the host the process runs on."""

import os

from stixtoneodb_spark import session


def test_default_cores_follow_affinity_mask():
    assert session.host_cores() == len(os.sched_getaffinity(0))
    assert session._master_cores("local[*]") == session.host_cores()
    assert session._master_cores("local[3]") == 3


def test_default_heap_is_a_share_of_usable_memory(monkeypatch):
    physical = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < session._memory_limit_bytes() <= physical
    monkeypatch.setattr(session, "_memory_limit_bytes", lambda: 15 * 2**30)
    assert session.default_driver_memory() == "6144m"
    monkeypatch.setattr(session, "_memory_limit_bytes", lambda: 2**30)
    assert session.default_driver_memory() == "1024m"
