"""T-occurrence merge goldens, ported from
/root/reference/pkg/merger/list_merger_test.go:42-160 (all four reference
mergers must agree on these).  They run against ``suggest._scan_count``,
the one ScanCount + CountFilter step that both ``suggest_topk`` and
``autocomplete_firstk`` serve requests through."""

import pytest

from suggest_spark.operators.suggest import _scan_count

LISTS_A = [[1, 2, 3], [1, 2], [2, 3], [2]]
LISTS_B = [
    [1, 2, 3, 5, 7, 10, 30, 50],
    [10, 11, 13, 16, 50, 60, 131],
    [40, 50, 60],
    [50, 100],
    [100, 200],
]

GOLDENS = [
    (LISTS_A, 2, {2: {1, 3}, 4: {2}}),
    (LISTS_A, 3, {4: {2}}),
    (LISTS_A, 4, {4: {2}}),
    (LISTS_B, 4, {4: {50}}),
    (LISTS_B, 3, {4: {50}}),
    (LISTS_B, 2, {2: {10, 60, 100}, 4: {50}}),
    # issue#28 case
    (
        LISTS_B,
        1,
        {
            1: {1, 2, 3, 5, 7, 11, 13, 16, 30, 40, 131, 200},
            2: {10, 60, 100},
            4: {50},
        },
    ),
]


def _postings_df(spark, lists):
    rows = [(i, d) for i, lst in enumerate(lists) for d in lst]
    return spark.createDataFrame(rows, "list_id int, doc_id long")


@pytest.mark.parametrize("lists,t,expected", GOLDENS)
def test_t_occurrence_merge_goldens(spark, lists, t, expected):
    got = _scan_count(_postings_df(spark, lists), ["doc_id"], t).collect()
    actual = {}
    for r in got:
        actual.setdefault(r["overlap"], set()).add(r["doc_id"])
    assert actual == expected


def test_intersection(spark):
    # k-way intersection = threshold == n lists (list_intersector.go:17-81)
    got = _scan_count(_postings_df(spark, LISTS_A), ["doc_id"], len(LISTS_A)).collect()
    assert {r["doc_id"] for r in got} == {2}
