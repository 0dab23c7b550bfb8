"""The spark-submit job entry points accept the REFERENCE's own config-file
formats and reproduce its golden outputs.

- jobs/indexer_job.py mirrors ``suggest indexer``
  (/root/reference/cmd/suggest/cmd/indexer.go:35-137): IndexDescription JSON
  list, DISC entries built / RAM entries skipped.
- jobs/lm_count_job.py mirrors ``language-model ngram-count``
  (/root/reference/cmd/language-model/cmd/ngram-count.go:17-77): lm.Config
  JSON, Google-format k-gm output — byte-compared here against the
  reference's committed fixtures (pkg/lm/testdata/fixtures/{1,2,3}-gm).
"""

import glob
import json
import os
import shutil

REF = "/root/reference"


def _read_kgm(path_glob: str) -> set:
    rows = set()
    for p in glob.glob(path_glob):
        with open(p, encoding="utf-8") as f:
            rows.update(line.rstrip("\n") for line in f if line.strip())
    return rows


def test_indexer_job_reference_config(spark, tmp_path):
    from jobs.indexer_job import run_index_job
    from suggest_spark.operators.versioned import (
        read_versioned_bucketed_table,
        read_versioned_index,
    )

    shutil.copy(f"{REF}/pkg/suggest/testdata/cars.dict", tmp_path / "cars.dict")
    descs = json.load(open(f"{REF}/pkg/suggest/testdata/config.json"))
    cars = next(d for d in descs if d["name"] == "cars")

    # RAM driver entries are skipped exactly as indexJob does (indexer.go:44-47)
    assert run_index_job(spark, {"driver": "RAM", "name": "x"}, str(tmp_path)) is None

    res = run_index_job(spark, cars, str(tmp_path))
    assert res["name"] == "cars"

    dictionary = read_versioned_bucketed_table(spark, res["dictionary"])
    assert dictionary.count() == 5066  # cars.dict line count
    index = read_versioned_index(spark, res["index"])
    # size-partitioned layout: the ngram_index_test.go:15-40 golden — doc 2's
    # value "Мазда мазда" has its trigram postings present under its size
    assert index.select("size").distinct().count() > 1
    assert dictionary.filter("doc_id = 0").count() == 1


def test_lm_count_job_matches_reference_fixtures(spark, tmp_path):
    from jobs.lm_count_job import run_count_job

    shutil.copy(f"{REF}/pkg/lm/testdata/test.txt", tmp_path / "test.txt")
    conf = json.load(open(f"{REF}/pkg/lm/testdata/config-example.json"))
    res = run_count_job(spark, conf, str(tmp_path))

    for order in (1, 2, 3):
        mine = _read_kgm(os.path.join(res["output"], f"{order}-gm", "part-*.csv"))
        golden = _read_kgm(f"{REF}/pkg/lm/testdata/fixtures/{order}-gm")
        assert mine == golden, f"{order}-gm mismatch vs reference fixture"


def test_curation_job_end_to_end(spark, tmp_path):
    """The curation job over the sf0.001 documents table: funnel accounts
    for every input doc, curated output readable, near-dup stage composes."""
    from jobs.curation_job import run_curation
    from suggest_spark.operators.curation import CurationConfig

    out = str(tmp_path / "out")
    res = run_curation(
        spark,
        "/root/testdata/sf0.001/documents.parquet",
        out,
        CurationConfig(langs=("en",), min_words=8, max_words=60,
                       min_alpha_ratio=0.55, max_digit_ratio=0.2,
                       min_stopword_ratio=0.05),
        near_dup=True,
    )
    n_input = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    funnel = res["funnel"]
    # the funnel accounts for EVERY input doc, near-dups included, and
    # 'kept' equals the written output row count
    assert sum(funnel.values()) == n_input
    curated = spark.read.parquet(res["curated"])
    assert curated.count() == res["n_curated"] == funnel["kept"] > 0
    assert {"doc_id", "text", "lang", "n_words"} <= set(curated.columns)
    import json as _json

    with open(f"{out}/funnel.json") as f:
        assert _json.load(f) == funnel


def test_curation_job_redaction(spark, tmp_path):
    """--redact-pii: the curated output text carries typed tokens instead
    of the injected PII."""
    from jobs.curation_job import run_curation
    from suggest_spark.operators.curation import CurationConfig

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "the quick brown fox contact bob@example.com jumps over the lazy dog today")],
        "doc_id long, text string",
    ).write.parquet(src)
    res = run_curation(
        spark, src, str(tmp_path / "out"),
        CurationConfig(langs=("en",), min_words=5, min_stopword_ratio=0.01),
        redact=True,
    )
    rows = spark.read.parquet(res["curated"]).collect()
    assert len(rows) == 1
    assert "<EMAIL>" in rows[0]["text"] and "bob@example.com" not in rows[0]["text"]


def test_lm_config_separators_are_alphabet_declarations():
    """pkg/lm/config.go:31-33 resolves `separators` through the same
    alphabet resolver as `alphabet`: named groups expand to their runes."""
    from jobs.lm_count_job import lm_config_from_json

    cfg = lm_config_from_json(
        {"nGramOrder": 2, "separators": ["numbers", ".!"], "alphabet": ["english"]}
    )
    assert set(cfg.separators) == set("0123456789.!")
    # a literal newline entry still means the newline rune
    cfg2 = lm_config_from_json({"separators": ["\n"]})
    assert cfg2.separators == "\n"


def test_service_boots_from_indexer_job_output(spark, tmp_path):
    """Full loop: reference-format indexer config -> indexer_job artifacts ->
    SuggestService.load_disc_index -> query, with the index config carried
    from the same IndexDescription.  Re-running the indexer over the same
    output while the entry serves never fails a read: the re-run commits new
    versions beside the served snapshot, which a fresh boot then picks up."""
    import threading

    from jobs.indexer_job import index_config_from_description, run_index_job
    from suggest_spark.functions.metrics import JACCARD
    from suggest_spark.operators.service import SuggestService

    with open(tmp_path / "cars.dict", "w") as f:
        f.write("Nissan March\nNissan Juke\nNissan Maxima\nToyota Corolla\n")
    desc = {
        "driver": "DISC", "name": "cars", "nGramSize": 3,
        "alphabet": ["english", "$"], "source": "cars.dict",
        "output": "db", "pad": "$", "wrap": ["$", "$"],
    }
    run_index_job(spark, desc, str(tmp_path))

    cfg = index_config_from_description(desc)
    svc = SuggestService(spark)
    svc.load_disc_index("cars", str(tmp_path / "db"), cfg)
    got = svc.suggest("cars", "Nissan ma", JACCARD, 0.5, 2)
    assert [v for _, v in got] == ["Nissan Maxima", "Nissan March"]

    with open(tmp_path / "cars.dict", "w") as f:
        f.write("Mazda Demio\nNissan Juke\nNissan Maxima\nToyota Corolla\n")
    reads, errors = [], []
    done = threading.Event()

    def reader():
        while True:
            try:
                reads.append(svc.suggest("cars", "Nissan ma", JACCARD, 0.5, 2))
            except Exception as e:  # any failure is the bug under test
                errors.append(e)
            if done.is_set():
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        run_index_job(spark, desc, str(tmp_path))
    finally:
        done.set()
        t.join(timeout=300)
    assert not t.is_alive()
    assert errors == [] and reads
    # the live entry kept its own snapshot throughout
    assert all([v for _, v in r] == ["Nissan Maxima", "Nissan March"] for r in reads)

    svc.load_disc_index("cars", str(tmp_path / "db"), cfg)
    assert [v for _, v in svc.suggest("cars", "Mazda Demio", JACCARD, 0.5, 2)] == [
        "Mazda Demio"
    ]
    got = svc.suggest("cars", "Nissan ma", JACCARD, 0.5, 2)
    assert [v for _, v in got] == ["Nissan Maxima"]


def test_warm_service_warms_all_and_tolerates_oversized_entries():
    """http_service_job.warm_service: every dictionary gets warm() +
    enable_hot_replica(); an entry above the replica bound (ValueError)
    stays registered on the Spark path instead of failing the boot."""
    from jobs.http_service_job import warm_service

    calls = []

    class _FakeService:
        def dictionaries(self):
            return ["big", "cars"]

        def warm(self, name):
            calls.append(("warm", name))

        def enable_hot_replica(self, name):
            calls.append(("replica", name))
            if name == "big":
                raise ValueError("index has 10^9 postings > max_postings")

    warm_service(_FakeService())
    assert calls == [
        ("warm", "big"),
        ("replica", "big"),
        ("warm", "cars"),
        ("replica", "cars"),
    ]


def test_warm_service_logs_refused_replica(spark, monkeypatch, caplog):
    """An entry over the replica's postings bound is logged (entry name and
    bound), not silently skipped, and keeps serving on the Spark path."""
    import logging

    from jobs.http_service_job import warm_service
    from suggest_spark.functions.metrics import JACCARD
    from suggest_spark.operators.service import SuggestService
    from suggest_spark.serving import replica

    svc = SuggestService(spark)
    cars = ["Nissan March", "Nissan Juke", "Nissan Maxima"]
    svc.add_ram_index(
        "cars", spark.createDataFrame(list(enumerate(cars)), "doc_id long, value string")
    )
    monkeypatch.setattr(replica, "DEFAULT_MAX_POSTINGS", 1)
    with caplog.at_level(logging.WARNING, logger="jobs.http_service_job"):
        warm_service(svc)
    refused = [r.getMessage() for r in caplog.records if r.name == "jobs.http_service_job"]
    assert len(refused) == 1
    assert "'cars'" in refused[0] and "max_postings=1" in refused[0]
    assert svc._entries["cars"].replica is None
    got = svc.suggest("cars", "Nissan ma", JACCARD, 0.5, 2)
    assert [v for _, v in got] == ["Nissan Maxima", "Nissan March"]


def test_sighup_reindex_logs_done_and_failure(caplog):
    """The reload loop logs a finished reindex at INFO and a failed one with
    its traceback, and keeps serving after the failure."""
    import logging
    import signal

    from jobs.http_service_job import install_sighup_reindex

    runs = []

    def reindex_job():
        runs.append(1)
        if len(runs) == 2:
            raise RuntimeError("warehouse unreachable")

    old = signal.getsignal(signal.SIGHUP)
    try:
        install_sighup_reindex(reindex_job, background=False)
        with caplog.at_level(logging.INFO, logger="jobs.http_service_job"):
            os.kill(os.getpid(), signal.SIGHUP)
            os.kill(os.getpid(), signal.SIGHUP)
    finally:
        signal.signal(signal.SIGHUP, old)
    recs = [r for r in caplog.records if r.name == "jobs.http_service_job"]
    assert len(runs) == 2
    assert [r.levelno for r in recs] == [logging.INFO, logging.ERROR]
    assert recs[0].getMessage().startswith("reindex done in ")
    assert recs[1].exc_info and "warehouse unreachable" in str(recs[1].exc_info[1])


def test_indexer_job_logs_skipped_ram_entry(caplog):
    """A RAM entry is skipped (as the reference's indexJob does) with an
    INFO log line naming it, before any Spark work."""
    import logging

    from jobs.indexer_job import run_index_job

    desc = {"name": "cars", "driver": "RAM", "source": "cars.txt"}
    with caplog.at_level(logging.INFO, logger="jobs.indexer_job"):
        assert run_index_job(None, desc, "/nonexistent") is None
    recs = [r for r in caplog.records if r.name == "jobs.indexer_job"]
    assert [(r.levelno, r.getMessage()) for r in recs] == [
        (logging.INFO, "skip processing 'cars', there is no disc configuration")
    ]
