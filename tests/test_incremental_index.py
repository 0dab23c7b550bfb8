"""Incremental disc-index maintenance (upsert_versioned_index) and the
service trickle-reindex path: only affected size partitions rewritten, final
state identical to a from-scratch rebuild."""

import glob
import os

from suggest_spark.functions.metrics import JACCARD
from suggest_spark.operators.indexing import build_ngram_index
from suggest_spark.operators.service import SuggestService
from suggest_spark.operators.versioned import (
    read_manifest,
    read_versioned_index,
    upsert_versioned_index,
    write_versioned_index,
)

BASE = [
    (0, "Nissan March"),
    (1, "Nissan Juke"),
    (2, "Nissan Maxima"),
    (3, "Toyota Corolla"),
    (4, "Honda Fit"),
    (5, "ab"),  # tiny doc → its own small size partition, untouched below
]


def _rows(df):
    return sorted(
        (r["doc_id"], r["size"], r["term"])
        for r in df.select("doc_id", "size", "term").collect()
    )


def _part_files(path):
    return {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(path, "v=*", "size=*", "*.parquet"))
    }


def test_upsert_matches_full_rebuild(spark, tmp_path):
    path = str(tmp_path / "idx")
    dictionary = spark.createDataFrame(BASE, "doc_id long, value string")
    write_versioned_index(build_ngram_index(dictionary), path)
    before = _part_files(path)

    # new doc, a replacement that CHANGES the doc's size, and a deletion
    new_docs = spark.createDataFrame(
        [(6, "Mazda Demio"), (3, "Toyota")], "doc_id long, value string"
    )
    deleted = spark.createDataFrame([(4,)], "doc_id long")
    stats = upsert_versioned_index(spark, path, new_docs, deleted_ids=deleted)
    assert stats["rows_written"] > 0

    final_dict = spark.createDataFrame(
        [(0, "Nissan March"), (1, "Nissan Juke"), (2, "Nissan Maxima"),
         (3, "Toyota"), (5, "ab"), (6, "Mazda Demio")],
        "doc_id long, value string",
    )
    assert _rows(read_versioned_index(spark, path)) == _rows(
        build_ngram_index(final_dict)
    )

    # the size partition holding only doc 5 was untouched: the new manifest
    # still points it at v=1, whose files keep their mtimes (proof the merge
    # pruned to affected partitions)
    doc5_size = build_ngram_index(
        spark.createDataFrame([(5, "ab")], "doc_id long, value string")
    ).first()["size"]
    untouched = {p: t for p, t in before.items() if f"size={doc5_size}{os.sep}" in p}
    assert untouched
    after = _part_files(path)
    for p, t in untouched.items():
        assert after.get(p) == t, f"untouched partition rewritten: {p}"
    assert doc5_size not in stats["sizes_touched"]
    assert read_manifest(spark, path)["partitions"][str(doc5_size)] == 1


def test_service_upsert_disc_index(spark, tmp_path):
    path = str(tmp_path / "svc_idx")
    svc = SuggestService(spark)
    dictionary = spark.createDataFrame(BASE, "doc_id long, value string")
    svc.add_disc_index("cars", dictionary, path)

    assert svc.suggest("cars", "mazda de", JACCARD, 0.3, 3) == []

    new_docs = spark.createDataFrame([(6, "Mazda Demio")], "doc_id long, value string")
    deleted = spark.createDataFrame([(4,)], "doc_id long")
    svc.upsert_disc_index("cars", new_docs, deleted_ids=deleted)

    got = svc.suggest("cars", "mazda de", JACCARD, 0.3, 3)
    assert [v for _, v in got] == ["Mazda Demio"]
    # deleted doc no longer suggested even on a perfect-match query
    assert all(v != "Honda Fit" for _, v in svc.suggest("cars", "honda fit", JACCARD, 0.1, 5))
    # untouched entries still served
    assert svc.suggest("cars", "Nissan ma", JACCARD, 0.5, 2)[0][1] == "Nissan Maxima"


def test_randomized_upsert_sequence_matches_rebuild(spark, tmp_path):
    """Seeded random add/replace/delete rounds: after each round the on-disk
    index must equal a from-scratch build of the tracked dictionary."""
    import numpy as np

    rng = np.random.RandomState(99)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa"]

    def rand_value():
        return " ".join(words[i] for i in rng.randint(0, len(words), size=rng.randint(1, 4)))

    state = {i: rand_value() for i in range(30)}
    path = str(tmp_path / "ridx")
    write_versioned_index(
        build_ngram_index(
            spark.createDataFrame(sorted(state.items()), "doc_id long, value string")
        ),
        path,
    )

    for _ in range(3):
        n_new = rng.randint(1, 5)
        new_ids = rng.choice(60, size=n_new, replace=False)
        new_docs = [(int(i), rand_value()) for i in new_ids]
        victims = [int(i) for i in rng.choice(sorted(state), size=2, replace=False)
                   if int(i) not in {i for i, _ in new_docs}]
        upsert_versioned_index(
            spark,
            path,
            spark.createDataFrame(new_docs, "doc_id long, value string"),
            deleted_ids=spark.createDataFrame([(v,) for v in victims], "doc_id long")
            if victims
            else None,
        )
        for i, v in new_docs:
            state[i] = v
        for v in victims:
            state.pop(v, None)
        want = build_ngram_index(
            spark.createDataFrame(sorted(state.items()), "doc_id long, value string")
        )
        assert _rows(read_versioned_index(spark, path)) == _rows(want)
