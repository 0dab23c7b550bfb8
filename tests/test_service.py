"""Service-layer parity: named registry, RAM/DISC drivers, hot reindex under
concurrent queries (reference pkg/suggest/service.go + service_test.go:11-80
TestConcurrencyRAM/OnDisc semantics)."""

import threading

import pytest

from suggest_spark.functions.metrics import COSINE
from suggest_spark.operators.service import SuggestService

SERVICE_CARS = [
    "NISSAN MARCH", "NISSAN JUKE", "NISSAN MAXIMA", "NISSAN MURANO",
    "NISSAN NOTE", "NISSAN MICRA", "TOYOTA MARK II", "TOYOTA COROLLA",
    "TOYOTA CORONA", "HONDA FIT", "HONDA CIVIC", "HUMMER H1",
]
#: service_test.go:35-59 — query → expected values at Cosine α=0.7
GOLDENS = [
    ("Nissan March", ["NISSAN MARCH"]),
    ("Honda Fitt", ["HONDA FIT"]),
    ("Wolfsvagen", []),
    ("Tayota Corolla", ["TOYOTA COROLLA"]),
    ("Micra Nissan", ["NISSAN MICRA"]),
]


@pytest.fixture(scope="module")
def cars_df(spark):
    return spark.createDataFrame(
        list(enumerate(SERVICE_CARS)), "doc_id long, value string"
    ).cache()


def test_ram_service_suggest_and_autocomplete(spark, cars_df):
    svc = SuggestService(spark)
    svc.add_ram_index("cars", cars_df)
    assert svc.dictionaries() == ["cars"]
    for query, want in GOLDENS:
        got = [v for _, v in svc.suggest("cars", query, COSINE, 0.7, 5)]
        assert got == want, (query, got, want)
    assert svc.autocomplete("cars", "NISSAN", 3) == [
        "NISSAN MARCH", "NISSAN JUKE", "NISSAN MAXIMA"
    ]
    with pytest.raises(KeyError):
        svc.suggest("nope", "x", COSINE, 0.7, 5)


def test_disc_service_roundtrip(spark, cars_df, tmp_path):
    svc = SuggestService(spark)
    path = str(tmp_path / "cars_index")
    svc.add_disc_index("cars", cars_df, path)
    got = [v for _, v in svc.suggest("cars", "Nissan March", COSINE, 0.7, 5)]
    assert got == ["NISSAN MARCH"]
    # a second service opens the index WITHOUT rebuilding (rebuild=False)
    svc2 = SuggestService(spark)
    svc2.add_disc_index("cars", cars_df, path, rebuild=False)
    assert [v for _, v in svc2.suggest("cars", "Micra Nissan", COSINE, 0.7, 5)] == [
        "NISSAN MICRA"
    ]


def test_concurrent_reindex_and_query(spark, cars_df):
    """testConcurrency semantics: one thread reindexes 5×, another queries
    the golden set — every query must return the golden answer throughout
    (queries hold an immutable snapshot; the swap is atomic)."""
    svc = SuggestService(spark)
    svc.add_ram_index("cars", cars_df)
    errors: list = []

    def reindexer():
        try:
            for _ in range(5):
                svc.add_ram_index("cars", cars_df)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def querier():
        try:
            for query, want in GOLDENS:
                got = [v for _, v in svc.suggest("cars", query, COSINE, 0.7, 5)]
                assert got == want, (query, got, want)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=reindexer), threading.Thread(target=querier)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


def test_stats_lifecycle_load_invalidate_refresh(spark, tmp_path):
    """Planner-stats lifecycle on a DISC entry booted from indexer-job
    artifacts: stats load at boot (auto plan selection armed), an upsert
    INVALIDATES them (stale doc_terms must never reach the prefix verify),
    and refresh_stats recomputes + re-arms — goldens hold at every step."""
    import os

    from jobs.indexer_job import index_config_from_description, run_index_job
    from suggest_spark.functions.metrics import JACCARD

    with open(tmp_path / "cars.dict", "w") as f:
        f.write("Nissan March\nNissan Juke\nNissan Maxima\nToyota Corolla\n")
    desc = {
        "driver": "DISC", "name": "cars", "nGramSize": 3,
        "alphabet": ["english", "$"], "source": "cars.dict",
        "output": "db", "pad": "$", "wrap": ["$", "$"],
    }
    res = run_index_job(spark, desc, str(tmp_path))
    assert os.path.exists(os.path.join(res["stats"], "stats.json"))
    assert res["index_stats"]["num_docs"] == 4

    svc = SuggestService(spark)
    svc.load_disc_index("cars", str(tmp_path / "db"), index_config_from_description(desc))
    entry = svc._get("cars")
    assert entry.stats is not None and entry.stats.num_docs == 4

    def golden():
        return [v for _, v in svc.suggest("cars", "Nissan ma", JACCARD, 0.5, 2)]

    assert golden() == ["Nissan Maxima", "Nissan March"]

    # upsert: doc added → stats invalidated, plain plan serves correctly
    new = spark.createDataFrame([(10, "Nissan Micra")], "doc_id long, value string")
    svc.upsert_disc_index("cars", new)
    entry = svc._get("cars")
    assert entry.stats is None and entry.stats_path is not None
    assert golden() == ["Nissan Maxima", "Nissan March"]
    assert [v for _, v in svc.suggest("cars", "Nissan Micra", JACCARD, 0.5, 1)] == [
        "Nissan Micra"
    ]

    # refresh: stats recomputed from the CURRENT index, auto re-armed
    written = svc.refresh_stats("cars")
    assert written["num_docs"] == 5
    entry = svc._get("cars")
    assert entry.stats is not None and entry.stats.num_docs == 5
    assert golden() == ["Nissan Maxima", "Nissan March"]


def test_upsert_invalidates_stats_on_disk_for_later_boots(spark, tmp_path):
    """The staleness gate must hold ACROSS processes: stats persisted before
    an upsert describe the old snapshot, so a fresh service booting from the
    same warehouse after the upsert must come up with stats=None (plain
    plan), not re-arm pre-upsert doc_terms."""
    from jobs.indexer_job import index_config_from_description, run_index_job
    from suggest_spark.functions.metrics import JACCARD

    with open(tmp_path / "cars.dict", "w") as f:
        f.write("Nissan March\nNissan Juke\n")
    desc = {
        "driver": "DISC", "name": "cars", "nGramSize": 3,
        "alphabet": ["english", "$"], "source": "cars.dict",
        "output": "db", "pad": "$", "wrap": ["$", "$"],
    }
    run_index_job(spark, desc, str(tmp_path))
    cfg = index_config_from_description(desc)

    svc = SuggestService(spark)
    svc.load_disc_index("cars", str(tmp_path / "db"), cfg)
    assert svc._get("cars").stats is not None
    new = spark.createDataFrame([(10, "Nissan Micra")], "doc_id long, value string")
    svc.upsert_disc_index("cars", new)

    svc2 = SuggestService(spark)  # simulated restart
    svc2.load_disc_index("cars", str(tmp_path / "db"), cfg)
    assert svc2._get("cars").stats is None
    # correctness unaffected: plain plan serves the post-upsert corpus
    assert [v for _, v in svc2.suggest("cars", "Nissan Micra", JACCARD, 0.5, 1)] == [
        "Nissan Micra"
    ]


def test_trickle_upserts_keep_dictionary_lineage_bounded(spark, tmp_path):
    """Each upsert must serve a dictionary with a FLAT plan (re-read of the
    persisted table, or a localCheckpoint when nothing is persisted) — not
    the previous in-memory dictionary with another join+union chained on.
    An unbounded chain recomputes every historical upsert on cache eviction
    and eventually overflows the driver's plan budget under trickle updates."""
    from jobs.indexer_job import index_config_from_description, run_index_job
    from suggest_spark.functions.metrics import JACCARD

    with open(tmp_path / "cars.dict", "w") as f:
        f.write("Nissan March\nNissan Juke\n")
    desc = {
        "driver": "DISC", "name": "cars", "nGramSize": 3,
        "alphabet": ["english", "$"], "source": "cars.dict",
        "output": "db", "pad": "$", "wrap": ["$", "$"],
    }
    run_index_job(spark, desc, str(tmp_path))
    svc = SuggestService(spark)
    svc.load_disc_index("cars", str(tmp_path / "db"), index_config_from_description(desc))

    for i, name in enumerate(["Nissan Micra", "Nissan Note", "Nissan Murano"]):
        new = spark.createDataFrame([(100 + i, name)], "doc_id long, value string")
        svc.upsert_disc_index("cars", new)

    plan = (
        svc._get("cars")
        .dictionary._jdf.queryExecution().analyzed().toString()
    )
    # flat re-read of the versioned table: the anti-join/union upsert
    # arithmetic ran once at write time and must NOT survive into serving
    assert "Join" not in plan and "Union" not in plan
    got = [v for _, v in svc.suggest("cars", "Nissan Murano", JACCARD, 0.5, 1)]
    assert got == ["Nissan Murano"]


def test_upsert_without_dict_artifact_survives_restart(spark, tmp_path):
    """Entries registered via add_disc_index (no dictionary artifact) get a
    service-owned versioned dictionary sibling on upsert: the on-disk index
    keeps upserted docs across restarts, so serving them against the
    caller's pre-upsert dictionary frame would resolve their values to
    null.  A restart that re-opens the entry must serve the post-upsert
    values; a restart that REBUILDS must reset the sibling to the caller's
    corpus."""
    from suggest_spark.functions.metrics import JACCARD

    path = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(0, "Nissan March"), (1, "Toyota Corolla")], "doc_id long, value string"
    )
    svc = SuggestService(spark)
    svc.add_disc_index("cars", base, path)
    new = spark.createDataFrame([(7, "Mazda Demio")], "doc_id long, value string")
    svc.upsert_disc_index("cars", new)

    # restart: fresh service re-opens the path with the PRE-upsert frame
    svc2 = SuggestService(spark)
    svc2.add_disc_index("cars", base, path, rebuild=False)
    got = svc2.suggest("cars", "mazda de", JACCARD, 0.3, 3)
    assert [v for _, v in got] == ["Mazda Demio"]  # value, not null

    # restart with REBUILD: caller's corpus is the new truth everywhere —
    # a later upsert must merge into it, not into the stale sibling
    svc3 = SuggestService(spark)
    svc3.add_disc_index("cars", base, path, rebuild=True)
    assert svc3.suggest("cars", "mazda de", JACCARD, 0.3, 3) == []
    svc3.upsert_disc_index(
        "cars",
        spark.createDataFrame([(9, "Honda Fit")], "doc_id long, value string"),
    )
    vals = {
        v
        for _, v in svc3.suggest("cars", "honda fit", JACCARD, 0.1, 5)
    }
    assert "Honda Fit" in vals and "Mazda Demio" not in vals


# -- warm Spark-tier serving: Arrow query frames over a doc_id-partitioned
# index ------------------------------------------------------------------

#: a 256-query warm batch runs 4 jobs: the query-gram broadcast, the top-k
#: shuffle's map stage, the query re-attach broadcast and the result stage.
#: A fifth job means the ScanCount aggregation shuffle is back.
WARM_BATCH_MAX_JOBS = 4


@pytest.fixture(scope="module")
def warm_svc(spark, tmp_path_factory):
    """One DISC index served four ways: "warm" (warm(): doc_id-partitioned
    cache + value map), "cold" (re-opened, never warmed: parquet scan and
    dictionary broadcast), "ram" (add_ram_index) and "replica"."""
    from test_replica import MULTISET_VALS

    from suggest_spark.sources.synth import cars_synth

    vals = SERVICE_CARS + MULTISET_VALS + cars_synth(300)
    d = spark.createDataFrame(list(enumerate(vals)), "doc_id long, value string")
    path = str(tmp_path_factory.mktemp("warm_svc") / "idx")
    svc = SuggestService(spark)
    svc.add_disc_index("warm", d, path)
    svc.warm("warm")
    svc.add_disc_index("cold", d, path, rebuild=False)
    svc.add_ram_index("ram", d)
    svc.add_disc_index("replica", d, path, rebuild=False)
    svc.enable_hot_replica("replica")
    return svc, vals, path, d


def _warm_queries(vals) -> list[str]:
    from test_replica import MULTISET_QUERIES

    # misspelled synth values, the Cyrillic duplicate-gram fixtures and an
    # empty string, all through the Arrow query frame
    return [q for q, _ in GOLDENS] + MULTISET_QUERIES + [
        v[:-2] + v[-1] for v in vals[20:60]
    ] + [""]


@pytest.mark.parametrize("name, shuffled", [("warm", False), ("cold", True)])
def test_warm_index_aggregates_without_exchange(spark, warm_svc, name, shuffled):
    """Over the warmed (doc_id-partitioned) index the final AQE plan of
    suggest_topk runs partial and final HashAggregate in one stage; the
    unwarmed entry is the control that shows the probe sees an exchange."""
    from suggest_spark.functions.metrics import JACCARD
    from suggest_spark.operators.service import _query_frame
    from suggest_spark.operators.suggest import suggest_topk

    svc, vals, _, _ = warm_svc
    e = svc._get(name)
    q = _query_frame(spark, _warm_queries(vals))
    df = suggest_topk(e.index, q, JACCARD, 0.5, 5, e.config, ordered=False)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString().splitlines()
    final = next(i for i, line in enumerate(plan) if "functions=[count(1)]" in line)
    partial = next(i for i, line in enumerate(plan) if "functions=[partial_count(1)]" in line)
    between = plan[final + 1:partial]
    assert final < partial
    assert any("Exchange" in line for line in between) == shuffled, "\n".join(plan)


def test_warm_batches_start_no_python_worker(spark, warm_svc):
    """suggest_batch and autocomplete_batch build their query frame from
    Arrow: no job of either runs a Python RDD."""
    from conftest import _job_group, _rdd_names

    from suggest_spark.functions.metrics import JACCARD

    sc = spark.sparkContext
    svc, vals, _, _ = warm_svc
    with _job_group(sc, "warm_batch_python_rdd_control"):
        # control: a row-list createDataFrame does run a Python RDD
        spark.createDataFrame([(1,)], "x long").collect()
    assert "PythonRDD" in _rdd_names(sc, "warm_batch_python_rdd_control")

    queries = _warm_queries(vals)
    with _job_group(sc, "warm_batches"):
        svc.suggest_batch("warm", queries, JACCARD, 0.5, 5)
        svc.autocomplete_batch("warm", queries, 5)
    names = _rdd_names(sc, "warm_batches")
    assert names and "PythonRDD" not in names, names


def test_warm_batch_job_budget(spark, warm_svc):
    from conftest import _job_group

    from suggest_spark.functions.metrics import JACCARD

    sc = spark.sparkContext
    svc, vals, _, _ = warm_svc
    queries = [vals[i % len(vals)][:-1] for i in range(256)]
    svc.suggest_batch("warm", queries, JACCARD, 0.5, 5)
    with _job_group(sc, "warm_batch_256"):
        out = svc.suggest_batch("warm", queries, JACCARD, 0.5, 5)
    assert len(out) == 256 and all(out)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("warm_batch_256"))
    assert n_jobs <= WARM_BATCH_MAX_JOBS, n_jobs


@pytest.mark.parametrize("alpha", [0.3, 0.7])
@pytest.mark.parametrize("k", [3, 5])
def test_warm_cold_ram_replica_rows_identical(warm_svc, alpha, k):
    from suggest_spark.functions.metrics import METRICS

    svc, vals, _, _ = warm_svc
    queries = _warm_queries(vals)
    hits = 0
    for metric in METRICS.values():
        want = svc.suggest_batch("cold", queries, metric, alpha, k)
        for name in ("warm", "ram", "replica"):
            got = svc.suggest_batch(name, queries, metric, alpha, k)
            assert got == want, (name, metric.name, alpha, k)
        hits += sum(bool(r) for r in want)
        assert want[-1] == []  # the empty query
    assert hits > len(METRICS) * len(queries) // 2


def test_warm_cold_ram_replica_autocomplete_identical(warm_svc):
    svc, vals, _, _ = warm_svc
    prefixes = ["NISSAN", "kamaz", "lada", "лада", "лада к", "toy", "zzz", ""]
    prefixes += [v[:4] for v in vals[30:50]]
    for k in (3, 5):
        want = svc.autocomplete_batch("cold", prefixes, k)
        assert sum(len(r) == k for r in want) > len(prefixes) // 2
        for name in ("warm", "ram", "replica"):
            assert svc.autocomplete_batch(name, prefixes, k) == want, (name, k)


def test_warm_empty_batch(warm_svc):
    from suggest_spark.functions.metrics import JACCARD

    svc = warm_svc[0]
    for name in ("warm", "cold", "ram", "replica"):
        assert svc.suggest_batch(name, [], JACCARD, 0.5, 3) == []
        assert svc.autocomplete_batch(name, [], 3) == []


def test_warm_prefix_plan_with_stats_armed(spark, warm_svc, monkeypatch):
    """refresh_stats after warm arms the planner over the partitioned
    cache; the prefix plan it is forced onto returns the cold plain plan's
    rows."""
    from suggest_spark.functions.metrics import METRICS
    from suggest_spark.operators import suggest as suggest_mod

    svc, vals, path, d = warm_svc
    svc.add_disc_index("stats", d, path, rebuild=False)
    svc.warm("stats")
    svc.refresh_stats("stats")
    assert svc._get("stats").stats is not None and svc._get("stats").index.is_cached

    calls = []
    prefix = suggest_mod.suggest_topk_prefix

    def spy(*a, **kw):
        calls.append(1)
        return prefix(*a, **kw)

    monkeypatch.setattr(suggest_mod, "select_suggest_plan", lambda *a, **kw: "prefix")
    monkeypatch.setattr(suggest_mod, "suggest_topk_prefix", spy)
    queries = _warm_queries(vals)
    for metric in METRICS.values():
        for alpha in (0.3, 0.7):
            want = svc.suggest_batch("cold", queries, metric, alpha, 5)
            assert svc.suggest_batch("stats", queries, metric, alpha, 5) == want, (
                metric.name, alpha,
            )
    assert len(calls) == len(METRICS) * 2


def test_swap_keeps_a_cache_another_entry_serves(spark, tmp_path):
    """Two entries opened on one snapshot share Spark's cache of the warmed
    index (one cache per plan): an upsert swap of one must not evict the
    other's, and removing the last holder releases it."""
    from suggest_spark.functions.metrics import JACCARD

    d = spark.createDataFrame(list(enumerate(SERVICE_CARS)), "doc_id long, value string")
    path = str(tmp_path / "idx")
    svc = SuggestService(spark)
    svc.add_disc_index("a", d, path)
    svc.warm("a", metrics=[JACCARD])
    svc.add_disc_index("b", d, path, rebuild=False)
    svc.warm("b", metrics=[JACCARD])
    cache = spark._jsparkSession.sharedState().cacheManager()

    def cached(frame) -> bool:
        return cache.lookupCachedData(frame._jdf).isDefined()

    b_index = svc._get("b").index
    assert b_index.sameSemantics(svc._get("a").index) and cached(b_index)
    svc.upsert_disc_index(
        "a", spark.createDataFrame([(100, "MAZDA DEMIO")], "doc_id long, value string")
    )
    assert cached(b_index)
    svc.remove("a")
    assert cached(b_index)
    svc.remove("b")
    assert not cached(b_index)
