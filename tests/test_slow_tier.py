"""The slow-tier list in tests/slow_tests.txt must not drift from the
collected tests (conftest.stale_slow_ids)."""

from __future__ import annotations

from tests.conftest import stale_slow_ids

NODEIDS = {"tests/test_a.py::test_x", "tests/test_a.py::test_y[1]"}


def test_entry_of_a_collected_file_that_matches_nothing_is_stale():
    slow = {"tests/test_a.py::test_x", "tests/test_a.py::test_renamed"}
    assert stale_slow_ids(slow, NODEIDS, ["tests"]) == {
        "tests/test_a.py::test_renamed"
    }


def test_entries_of_uncollected_files_are_not_checked():
    slow = {"tests/test_b.py::test_z"}
    assert stale_slow_ids(slow, NODEIDS, ["tests/test_a.py"]) == set()


def test_node_id_selection_checks_nothing():
    slow = {"tests/test_a.py::test_renamed"}
    assert stale_slow_ids(slow, NODEIDS, ["tests/test_a.py::test_x"]) == set()
