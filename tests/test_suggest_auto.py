"""Auto physical-plan selection for suggest + index-build-time stats
artifacts (VERDICT r2 next-round #6).

The two suggest plans (plain match-stream vs CPMerge prefix) are
row-identical by construction; the selector picks the cheaper one from
persisted index statistics, and with stats supplied plan CONSTRUCTION runs
zero Spark jobs on either branch (the job-group assert below — same
criterion as test_default_linkage_path_runs_no_hidden_jobs).
"""

import pytest

from suggest_spark.config import DEFAULT_CONFIG
from suggest_spark.functions.metrics import JACCARD
from suggest_spark.operators.indexing import (
    build_ngram_index,
    read_index_stats,
    write_index_stats,
)
from suggest_spark.operators.suggest import (
    select_suggest_plan,
    suggest_topk,
    suggest_topk_auto,
    term_document_frequency,
)
from suggest_spark.operators.versioned import read_versioned_index, write_versioned_index


def test_select_suggest_plan_unit():
    # measured regime: 236k-entry dictionary / 2.4M postings → plain wins
    # (suggest_topk_prefix docstring numbers)
    assert select_suggest_plan(236_000, 2_400_000, 5_000) == "plain"
    # measured skew crossover (bench_out/CALIBRATION_suggest.json): at 25%
    # skew plain still wins ~2x, at ~60% prefix crosses over — the selector's
    # default skew_ratio is the measured 0.6, so 0.25 skew stays plain
    assert select_suggest_plan(1_000_000, 5_000_000, 255_000) == "plain"
    # web-scale posting count → prefix
    assert select_suggest_plan(10**9, 10**10, 10**4) == "prefix"
    # hot-gram skew (65% of docs share one gram) above the postings floor
    assert select_suggest_plan(1_000_000, 5_000_000, 650_000) == "prefix"
    # identical skew ratio below the floor: stream is tiny, stay plain
    assert select_suggest_plan(100, 5_000, 40) == "plain"
    # thresholds are per-cluster tunable
    assert select_suggest_plan(236_000, 2_400_000, 5_000, min_postings=1_000_000) == "prefix"
    # empty index degenerates safely
    assert select_suggest_plan(0, 0, 0) == "plain"


VALUES = (
    [f"nissan model {i}" for i in range(20)]
    + [f"toyota mark {i}" for i in range(20)]
    + ["honda fit", "honda civic", "hummer h1", "mitsubishi mirage"]
)


@pytest.fixture(scope="module")
def stats_fixture(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("idx"))
    dictionary = spark.createDataFrame(
        list(enumerate(VALUES)), "doc_id long, value string"
    )
    index = build_ngram_index(dictionary, config=DEFAULT_CONFIG)
    write_versioned_index(index, f"{base}/index")
    written = write_index_stats(spark, index, f"{base}/stats")
    return dictionary, base, written


def test_index_stats_roundtrip(spark, stats_fixture):
    dictionary, base, written = stats_fixture
    st = read_index_stats(spark, f"{base}/stats")
    assert (st.num_docs, st.num_postings, st.distinct_terms, st.max_df, st.delta_max) == (
        written["num_docs"],
        written["num_postings"],
        written["distinct_terms"],
        written["max_df"],
        written["delta_max"],
    )
    index = build_ngram_index(dictionary, config=DEFAULT_CONFIG)
    assert st.num_docs == dictionary.count()
    assert st.num_postings == index.count()
    direct = {(r["term"], r["df"]) for r in term_document_frequency(index).collect()}
    assert {(r["term"], r["df"]) for r in st.term_df.collect()} == direct
    assert st.max_df == max(df for _, df in direct)
    assert st.distinct_terms == len(direct)
    # per-doc multiset lists cover every posting
    assert sum(r["size"] for r in st.doc_terms.collect()) == st.num_postings


def test_auto_parity_and_job_free_planning(spark, stats_fixture):
    _, base, _ = stats_fixture
    index = read_versioned_index(spark, f"{base}/index")
    st = read_index_stats(spark, f"{base}/stats")
    queries = spark.createDataFrame(
        [(0, "nissan model 1"), (1, "tayota mark 3"), (2, "honda fitt")],
        "query_id long, query string",
    )

    sc = spark.sparkContext
    group = "suggest-auto-plan-construction"
    sc.setJobGroup(group, "plan construction must run zero jobs")
    try:
        # default thresholds on this tiny index → plain branch
        plain = suggest_topk_auto(index, queries, JACCARD, 0.5, 3, DEFAULT_CONFIG, stats=st)
        # forced prefix branch: artifacts come from the persisted stats,
        # so no plan-time delta_max/doc_terms aggregates fire
        pref = suggest_topk_auto(
            index, queries, JACCARD, 0.5, 3, DEFAULT_CONFIG, stats=st, min_postings=1
        )
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == [], (
        "plan construction ran Spark jobs: %s"
        % (sc.statusTracker().getJobIdsForGroup(group),)
    )

    def rows(df):
        return [
            (r["query_id"], r["doc_id"], round(r["score"], 9), r["rank"])
            for r in df.collect()
        ]

    baseline = rows(suggest_topk(index, queries, JACCARD, 0.5, 3, DEFAULT_CONFIG))
    got_plain, got_pref = rows(plain), rows(pref)
    assert got_plain == baseline
    assert got_pref == baseline
    assert len(baseline) > 0


def test_concurrent_prefix_queries_during_stats_refresh(spark, stats_fixture):
    """Stats refreshes are versioned (fresh v=N + pointer swap, previous kept
    as grace): a prefix-plan query scanning the old stats artifacts must
    keep returning the golden answer while refreshes run concurrently."""
    import threading

    _, base, _ = stats_fixture
    index = read_versioned_index(spark, f"{base}/index")
    dictionary = spark.createDataFrame(
        list(enumerate(VALUES)), "doc_id long, value string"
    )
    queries = spark.createDataFrame([(0, "honda fitt")], "query_id long, query string")
    errors: list = []

    def refresher():
        try:
            for _ in range(3):
                write_index_stats(
                    spark, build_ngram_index(dictionary, config=DEFAULT_CONFIG),
                    f"{base}/stats",
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def querier():
        try:
            for _ in range(4):
                st = read_index_stats(spark, f"{base}/stats")
                rows = suggest_topk_auto(
                    index, queries, JACCARD, 0.5, 1, DEFAULT_CONFIG,
                    dictionary=dictionary, stats=st, min_postings=1,
                ).collect()
                assert [r["value"] for r in rows] == ["honda fit"], rows
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=refresher), threading.Thread(target=querier)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


def test_stats_gc_age_floor_measures_supersession_not_creation(spark, tmp_path):
    """A stats version that served for a long time is NOT 'old' the moment a
    refresh supersedes it: the GC age floor must be measured from the
    successor's creation, or two quick refreshes delete artifact dirs an
    in-flight prefix-plan query planned against moments earlier."""
    import os
    import time

    from suggest_spark.operators.indexing import build_ngram_index

    path = str(tmp_path / "stats")
    dictionary = spark.createDataFrame(
        [(0, "nissan march"), (1, "toyota corolla")], "doc_id long, value string"
    )
    index = build_ngram_index(dictionary)

    write_index_stats(spark, index, path)  # v=1
    # v=1 is ANCIENT by creation time (served for 10 simulated minutes)
    old = time.time() - 600
    os.utime(f"{path}/v=1", (old, old))

    write_index_stats(spark, index, path, min_age_sec=300)  # v=2 supersedes v=1 NOW
    write_index_stats(spark, index, path, min_age_sec=300)  # v=3, quick refresh

    # v=1 was superseded seconds ago: creation-age 600s must NOT delete it
    assert os.path.isdir(f"{path}/v=1")
    # no floor: everything but current + previous goes
    write_index_stats(spark, index, path)  # v=4, min_age_sec=0
    assert not os.path.isdir(f"{path}/v=1") and not os.path.isdir(f"{path}/v=2")
    assert os.path.isdir(f"{path}/v=3") and os.path.isdir(f"{path}/v=4")
