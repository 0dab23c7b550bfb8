"""Every DISC artifact has one on-disk layout (operators/versioned.py): the
index a size-partitioned versioned manifest, the dictionary a
doc_id-bucketed one.  Any other layout — a flat ``size=*`` index, an
unpartitioned ``{"all": N}`` dictionary manifest, a dictionary manifest
without ``n_buckets`` — is refused with ValueError by every service entry
point and by the indexer job, before anything on disk changes.  The legacy
fixtures are built by hand from plain parquet and manifest JSON."""

import json
import os
import shutil

import pytest

from suggest_spark.operators.indexing import build_ngram_index
from suggest_spark.operators.service import SuggestService
from suggest_spark.operators.versioned import (
    write_versioned_bucketed_table,
    write_versioned_index,
)

ROWS = [(0, "Nissan March"), (1, "Nissan Juke"), (2, "Nissan Maxima")]
SCHEMA = "doc_id long, value string"
# where load_disc_index and add_disc_index look for the dictionary
DICT_DIRS = ("cars_dictionary", "cars_index_dictionary")


def _manifest(base: str, manifest: dict) -> None:
    os.makedirs(f"{base}/_manifests")
    with open(f"{base}/_manifests/v00000001.json", "w") as f:
        json.dump(manifest, f)


def _flat_index(spark, wh):
    path = f"{wh}/cars_index"
    shutil.rmtree(path)
    index = build_ngram_index(spark.createDataFrame(ROWS, SCHEMA))
    index.write.partitionBy("size").parquet(path)


def _all_manifest(spark, wh):
    for name in DICT_DIRS:
        base = f"{wh}/{name}"
        shutil.rmtree(base, ignore_errors=True)
        spark.createDataFrame(ROWS, SCHEMA).write.parquet(f"{base}/v=1")
        _manifest(base, {"version": 1, "partitions": {"all": 1}})


def _no_n_buckets(spark, wh):
    for name in DICT_DIRS:
        base = f"{wh}/{name}"
        shutil.rmtree(base, ignore_errors=True)
        spark.createDataFrame(ROWS, SCHEMA).write.parquet(f"{base}/v=1/bucket=0")
        _manifest(base, {"version": 1, "partitions": {"0": 1}})


LEGACY = {
    "flat_size_index": _flat_index,
    "all_manifest": _all_manifest,
    "no_n_buckets": _no_n_buckets,
}


def _listing(root) -> list:
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, files in os.walk(root)
        for f in files
    )


@pytest.mark.parametrize("legacy", sorted(LEGACY))
def test_legacy_layout_refused_before_any_write(spark, tmp_path, legacy):
    from jobs.indexer_job import run_index_job

    wh = str(tmp_path / "db")
    d = spark.createDataFrame(ROWS, SCHEMA)
    write_versioned_index(build_ngram_index(d), f"{wh}/cars_index")
    write_versioned_bucketed_table(d, f"{wh}/cars_dictionary")
    # a stats pointer the mutators would invalidate first if they wrote at all
    os.makedirs(f"{wh}/cars_index_stats")
    with open(f"{wh}/cars_index_stats/stats.json", "w") as f:
        f.write("{}")
    with open(tmp_path / "cars.dict", "w") as f:
        f.write("\n".join(v for _, v in ROWS) + "\n")
    svc = SuggestService(spark)
    svc.load_disc_index("cars", wh)  # a live entry over the valid layout...
    LEGACY[legacy](spark, wh)  # ...then a legacy artifact lands under it

    index_path = f"{wh}/cars_index"
    new_docs = spark.createDataFrame([(9, "Mazda Demio")], SCHEMA)
    desc = {"driver": "DISC", "name": "cars", "source": "cars.dict", "output": "db"}
    calls = {
        "add_disc_index(rebuild=True)": lambda: svc.add_disc_index("x", d, index_path),
        "add_disc_index(rebuild=False)": lambda: svc.add_disc_index(
            "x", d, index_path, rebuild=False
        ),
        "load_disc_index": lambda: svc.load_disc_index("cars", wh),
        "upsert_disc_index": lambda: svc.upsert_disc_index("cars", new_docs),
        "rebucket_dictionary": lambda: svc.rebucket_dictionary("cars", 8),
        "run_index_job": lambda: run_index_job(spark, desc, str(tmp_path)),
    }
    before = _listing(tmp_path)
    for what, call in calls.items():
        with pytest.raises(ValueError, match="fresh output dir"):
            call()
        assert _listing(tmp_path) == before, what
    assert svc.dictionaries() == ["cars"]
