"""Exit code of the sharded full-suite runner (tests/conftest.py)."""

from __future__ import annotations

from conftest import _shards_exit_code


def test_all_shards_green_is_zero():
    assert _shards_exit_code({1: 0, 2: 0, 3: 0}, [1, 2, 3]) == 0


def test_a_failing_shard_is_one():
    assert _shards_exit_code({1: 0, 2: 1}, [1, 2]) == 1
    assert _shards_exit_code({1: 0, 2: 2}, [1, 2]) == 1


def test_a_shard_killed_by_signal_is_one():
    # Popen reports -N for a worker killed by signal N; max() over the
    # rcs would have called this run green.
    assert _shards_exit_code({1: 0, 2: -9}, [1, 2]) == 1
    assert _shards_exit_code({1: -15}, [1]) == 1


def test_a_shard_that_never_reported_is_one():
    assert _shards_exit_code({1: 0}, [1, 2]) == 1
    assert _shards_exit_code({}, [1, 2]) == 1


def test_no_shards_is_one():
    assert _shards_exit_code({}, []) == 1
