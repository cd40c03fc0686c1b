"""Session-config helpers of config.get_spark (no Spark session needed)."""

import os

from prase_spark.config import _env_flag, _local_slots


def test_env_flag_explicit_values(monkeypatch):
    for v in ("1", "true", "TRUE", "yes", " on "):
        monkeypatch.setenv("PRASE_TEST_FLAG", v)
        assert _env_flag("PRASE_TEST_FLAG"), v
    for v in ("", "0", "false", "False", "no", "off"):
        monkeypatch.setenv("PRASE_TEST_FLAG", v)
        assert not _env_flag("PRASE_TEST_FLAG"), v
    monkeypatch.delenv("PRASE_TEST_FLAG")
    assert not _env_flag("PRASE_TEST_FLAG")


def test_local_slots_from_master():
    assert _local_slots("local[8]") == 8
    assert _local_slots("local[3, 2]") == 3
    assert _local_slots("local") == 1
    assert _local_slots("local[*]") == (os.cpu_count() or 1)
    assert _local_slots("spark://host:7077") is None
    assert _local_slots("yarn") is None
