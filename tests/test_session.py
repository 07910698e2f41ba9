"""Host-sized session defaults: the driver heap follows /proc/meminfo."""

import io

import pytest

from vers_spark import session


def _meminfo(monkeypatch, text):
    def fake_open(path, *a, **k):
        assert path == "/proc/meminfo"
        if text is None:
            raise FileNotFoundError(path)
        return io.StringIO(text)

    monkeypatch.setattr(session, "open", fake_open, raising=False)


@pytest.mark.parametrize(
    "total_kb, expected",
    [
        (16_479_424, "8046m"),  # 15.7 GiB host: half
        (200 * 1024 * 1024, "49152m"),  # large host: capped at 48g
        (1024 * 1024, "1024m"),  # tiny host: at least 1g
    ],
)
def test_driver_memory_is_half_of_memtotal(monkeypatch, total_kb, expected):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _meminfo(monkeypatch, f"MemTotal:       {total_kb} kB\nMemFree:  1 kB\n")
    assert session._driver_memory() == expected


def test_driver_memory_unreadable_meminfo_keeps_48g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _meminfo(monkeypatch, None)
    assert session._driver_memory() == "48g"


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    _meminfo(monkeypatch, "MemTotal: 16479424 kB\n")
    assert session._driver_memory() == "3g"
