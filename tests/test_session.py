"""Library session defaults, checked without starting a session."""

from __future__ import annotations

from nano_vectordb_rs_spark.session import _available_cores, _local_cores


def test_local_cores_default_to_available_cores():
    assert _local_cores(None, 4) == ("4", 4)
    assert _local_cores("", 6) == ("6", 6)


def test_local_cores_env_setting_wins():
    assert _local_cores("8", 4) == ("8", 8)
    assert _local_cores("*", 4) == ("*", 4)


def test_available_cores_is_positive():
    assert _available_cores() >= 1
