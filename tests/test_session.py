"""Driver heap derivation — pure Python, no JVM is started."""

import pytest

from data_check_spark.session import driver_heap, physical_memory_mb


def test_default_heap_is_share_of_physical_memory():
    # a 15 GiB machine (MemTotal 16,456,384 kB) gets ~60%, not the 16g cap
    assert driver_heap(None, 16_070) == "9642m"
    assert driver_heap(None, 4_096) == "2457m"


def test_default_heap_capped_at_16g():
    assert driver_heap(None, 256 * 1024) == "16384m"


def test_override_wins_when_it_fits():
    assert driver_heap("2g", 16_070) == "2g"
    assert driver_heap("4096m", 16_070) == "4096m"
    assert driver_heap(" 8G ", 16_070) == "8g"  # normalized for -Xms


def test_override_above_physical_memory_fails_clearly():
    with pytest.raises(ValueError, match="exceeds this machine's 16070 MiB"):
        driver_heap("16g", 16_070)


@pytest.mark.parametrize("bad", ["16", "lots", "1.5g", ""])
def test_malformed_override_fails_clearly(bad):
    with pytest.raises(ValueError, match="expected a size like 8g"):
        driver_heap(bad, 16_070)


def test_physical_memory_is_positive():
    assert physical_memory_mb() > 0
