"""Session defaults: the shuffle partition count follows the master."""

import pytest

from kgforge.session import default_driver_memory, default_shuffle_partitions


@pytest.mark.parametrize(
    "master, want",
    [
        ("local[4]", 8),  # 2N, floor 8
        ("local[16]", 32),
        ("local[16,3]", 32),  # local[N,F]: F is max task failures, not cores
        ("local", 8),  # one core
        ("spark://host:7077", 200),
        ("yarn", 200),
    ],
)
def test_shuffle_partitions_from_master(monkeypatch, master, want):
    # the env variable must not override an explicit core count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert default_shuffle_partitions(master) == want


def test_local_star_falls_back_to_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert default_shuffle_partitions("local[*]") == 12
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_shuffle_partitions("local[*]") == 64


@pytest.mark.parametrize(
    "mem_total_kb, want",
    [
        (16479424, "6g"),  # a 15.7 GiB host: 40% is 6.3 GiB
        (64 * 1024 * 1024, "16g"),  # capped at 16g
        (2 * 1024 * 1024, "1g"),  # floor of 1g
        (None, "16g"),  # MemTotal unreadable: the old default
    ],
)
def test_driver_memory_from_mem_total(mem_total_kb, want):
    assert default_driver_memory(mem_total_kb) == want
