"""Exit code and argument split of the sharded full-suite runner
(tests/conftest.py)."""

from __future__ import annotations

from conftest import _shards_exit_code, _split_invocation


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


def test_tier1_command_splits_into_one_path_and_its_flags():
    # the value of ``-p`` is not a second path: the tier-1 command shards
    args = [
        "tests/", "-q", "--continue-on-collection-errors",
        "-p", "no:cacheprovider",
    ]
    assert _split_invocation(args, ["tests/"]) == (
        ["tests/"],
        ["-q", "--continue-on-collection-errors", "-p", "no:cacheprovider"],
    )


def test_flags_keep_their_order_and_values():
    args = ["-x", "-k", "not slow", "tests", "--tb=short", "-p", "no:x"]
    assert _split_invocation(args, ["tests"]) == (
        ["tests"], ["-x", "-k", "not slow", "--tb=short", "-p", "no:x"]
    )


def test_option_value_equal_to_a_path_stays_with_its_option():
    args = ["--basetemp", "tests", "tests"]
    assert _split_invocation(args, ["tests"]) == (
        ["tests"], ["--basetemp", "tests"]
    )


def test_several_paths_and_no_path():
    assert _split_invocation(["a.py", "-q", "b.py"], ["a.py", "b.py"]) == (
        ["a.py", "b.py"], ["-q"]
    )
    assert _split_invocation(["-q"], []) == ([], ["-q"])
