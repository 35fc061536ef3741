"""``session.driver_memory``: the local-mode driver heap follows the
host's physical memory unless the environment pins it. Spark-free: no
session is started."""

import pytest

from log2seq_spark import session


def _host(monkeypatch, gib):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)


@pytest.mark.parametrize("gib, heap", [(15, "7680m"), (80, "40960m"),
                                       (256, "40960m")])
def test_half_the_host_capped_at_40g(monkeypatch, gib, heap):
    _host(monkeypatch, gib)
    assert session.driver_memory() == heap


def test_environment_overrides(monkeypatch):
    _host(monkeypatch, 15)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_unknown_host_memory_falls_back_to_cap(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_memory() == "40960m"
