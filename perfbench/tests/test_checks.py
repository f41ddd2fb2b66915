"""Each output check passes the true result and fails a corrupted one."""

import duckdb
import pytest

from perfbench import checks

SQL = "SELECT x AS k, x * 1.5 AS v FROM range(4) t(x)"


@pytest.fixture()
def oracle():
    con = duckdb.connect()
    try:
        yield checks.oracle_rows(con, SQL)
    finally:
        con.close()


def test_query_check_accepts_the_oracle_result_in_any_order(oracle):
    rows = [(3, 4.5), (0, 0.0), (2, 3.0), (1, 1.5)]
    assert checks.check_query("q", ["k", "v"], rows, None, oracle) == []


@pytest.mark.parametrize(
    "cols, rows",
    [
        (["k", "v"], [(0, 0.0), (1, 1.5), (2, 3.0)]),  # a row lost
        (["k", "v"], [(0, 0.0), (1, 1.5), (2, 3.0), (3, 4.6)]),  # a value off
        (["k", "w"], [(0, 0.0), (1, 1.5), (2, 3.0), (3, 4.5)]),  # a column renamed
    ],
)
def test_query_check_fails_a_corrupted_result(oracle, cols, rows):
    assert len(checks.check_query("q", cols, rows, None, oracle)) == 1


EXPECTED = {"chat": {1, 2}, "task": {3}, "command": {2, 4}}
GOOD = {"chat": [(1, 0), (2, 0)], "task": [(3, 0)], "command": [(2, 0), (4, 0)]}


def test_branch_check_accepts_exactly_once_delivery():
    assert checks.check_branches(GOOD, EXPECTED) == []


@pytest.mark.parametrize(
    "delivered",
    [
        {**GOOD, "chat": [(1, 0), (2, 0), (2, 0)]},  # duplicated
        {**GOOD, "task": []},  # lost
        {**GOOD, "task": [(3, 0), (1, 0)]},  # misrouted
    ],
)
def test_branch_check_fails_a_corrupted_delivery(delivered):
    assert checks.check_branches(delivered, EXPECTED)


EPOCH_OF = {10: 0, 11: 0, 20: 1, 21: 1}
PAIRS = [(10, 20), (11, 21)]


def test_neardup_check_accepts_history_dedup():
    assert checks.check_neardup({10, 11}, EPOCH_OF, PAIRS) == []


@pytest.mark.parametrize(
    "kept",
    [
        {10, 11, 20},  # both docs of a pair kept
        {10, 20},  # 11 dropped, its partner arrived later and was kept
        {10, 11, 99},  # a doc that was never offered
    ],
)
def test_neardup_check_fails_a_corrupted_survivor_set(kept):
    assert checks.check_neardup(kept, EPOCH_OF, PAIRS)
