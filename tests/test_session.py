"""``get_spark``'s driver-heap default, sized without starting Spark."""

import os

import pytest

from datafusion_pinot_spark import session

GiB = 1 << 30


@pytest.mark.parametrize(
    "phys,want",
    [
        (15 * GiB + (600 << 20), "7g"),  # half, rounded down
        (8 * GiB, "4g"),
        (1 * GiB, "1g"),  # never below 1g
        (512 * GiB, "48g"),  # capped
    ],
)
def test_driver_memory_is_half_of_ram_capped(monkeypatch, phys, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    real = os.sysconf
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}
    monkeypatch.setattr(
        session.os, "sysconf", lambda name: pages.get(name) or real(name)
    )
    assert session.default_driver_memory() == want


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
