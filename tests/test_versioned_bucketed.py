"""Bucketed copy-on-write versioned tables (round-4 verdict #1): the
dictionary artifact's trickle upserts must rewrite only the buckets holding
a changed key — never the whole table — under the same manifest/snapshot
protocol as the index."""

import pytest

from suggest_spark.operators.versioned import (
    read_manifest,
    read_versioned_bucketed_table,
    rebucket_versioned_bucketed_table,
    upsert_versioned_bucketed_table,
    write_versioned_bucketed_table,
)
from suggest_spark.sources import fsutil

ROWS = [(i, f"value {i}") for i in range(40)]
SCHEMA = "doc_id long, value string"


def _vals(df):
    return sorted((r["doc_id"], r["value"]) for r in df.collect())


def test_bucketed_roundtrip_and_dispatch(spark, tmp_path):
    base = str(tmp_path / "tbl")
    df = spark.createDataFrame(ROWS, SCHEMA)
    m = write_versioned_bucketed_table(df, base, n_buckets=8)
    assert m["n_buckets"] == 8 and m["version"] == 1
    # readers see exactly the data columns, not the layout ones
    got = read_versioned_bucketed_table(spark, base)
    assert got.columns == ["doc_id", "value"] and _vals(got) == sorted(ROWS)


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    base = str(tmp_path / "tbl")
    df = spark.createDataFrame(ROWS, SCHEMA)
    write_versioned_bucketed_table(df, base, n_buckets=8)

    new = spark.createDataFrame([(3, "replaced 3"), (100, "new 100")], SCHEMA)
    deleted = spark.createDataFrame([(7,)], "doc_id long")
    stats = upsert_versioned_bucketed_table(spark, base, new, deleted_keys=deleted)
    assert stats["version"] == 2
    # only the buckets of doc_ids {3, 100, 7} were written into v=2 —
    # the copy-on-write proof, from the new version's own directory listing
    v2_buckets = {
        int(n.split("=", 1)[1])
        for n in fsutil.list_names(spark, f"{base}/v=2")
        if n.startswith("bucket=")
    }
    assert v2_buckets == set(stats["buckets_touched"]) and 0 < len(v2_buckets) <= 3
    manifest = read_manifest(spark, base)
    untouched_owners = {
        v for b, v in manifest["partitions"].items() if int(b) not in v2_buckets
    }
    assert untouched_owners == {1}  # untouched buckets still owned by v1
    expect = sorted(
        [(i, f"value {i}") for i in range(40) if i not in (3, 7)]
        + [(3, "replaced 3"), (100, "new 100")]
    )
    assert _vals(read_versioned_bucketed_table(spark, base)) == expect
    # previous snapshot still fully readable (grace period)
    old = read_versioned_bucketed_table(spark, base, read_manifest(spark, base, 1))
    assert _vals(old) == sorted(ROWS)


def test_bucketed_upsert_noop_and_emptied_bucket(spark, tmp_path):
    base = str(tmp_path / "tbl")
    small = [(0, "a"), (1, "b")]
    write_versioned_bucketed_table(
        spark.createDataFrame(small, SCHEMA), base, n_buckets=4
    )
    # no changed keys -> no new version
    none = upsert_versioned_bucketed_table(
        spark, base, spark.createDataFrame([], SCHEMA)
    )
    assert none["buckets_touched"] == [] and none["version"] == 1
    # deleting a bucket's only key removes the bucket from the manifest (a
    # null key deletes nothing and touches no bucket)
    gone = upsert_versioned_bucketed_table(
        spark,
        base,
        spark.createDataFrame([], SCHEMA),
        deleted_keys=spark.createDataFrame([(0,), (None,)], "doc_id long"),
    )
    assert gone["version"] == 2 and len(gone["buckets_touched"]) == 1
    assert _vals(read_versioned_bucketed_table(spark, base)) == [(1, "b")]


def test_rebuild_reuses_pinned_bucket_count(spark, tmp_path):
    base = str(tmp_path / "tbl")
    write_versioned_bucketed_table(
        spark.createDataFrame(ROWS, SCHEMA), base, n_buckets=4
    )
    # a rebuild asking for a DIFFERENT count must keep the pinned one —
    # upserts and rebuilds co-own the table's layout
    m = write_versioned_bucketed_table(
        spark.createDataFrame(ROWS, SCHEMA), base, n_buckets=16
    )
    assert m["n_buckets"] == 4


def test_service_dictionary_upsert_is_bucket_granular(spark, tmp_path):
    """Service-level done-criterion (round-3 verdict #1): a trickle upsert
    writes only touched dictionary buckets, upserted values survive in the
    persisted sibling, and a fresh service boot serves them."""
    from suggest_spark.functions.metrics import JACCARD
    from suggest_spark.operators.service import SuggestService

    base = str(tmp_path / "svc_idx")
    svc = SuggestService(spark)
    dictionary = spark.createDataFrame(
        [(i, f"Nissan model {i}") for i in range(30)], SCHEMA
    )
    svc.add_disc_index("cars", dictionary, base)

    # upsert #1 seeds the bucketed sibling from the served dictionary
    svc.upsert_disc_index(
        "cars", spark.createDataFrame([(100, "Mazda Demio")], SCHEMA)
    )
    sib = f"{base}_dictionary"
    m1 = read_manifest(spark, sib)
    assert "n_buckets" in m1

    # upsert #2 is incremental: exactly one bucket version-bumped
    svc.upsert_disc_index(
        "cars", spark.createDataFrame([(101, "Suzuki Swift")], SCHEMA)
    )
    m2 = read_manifest(spark, sib)
    assert m2["version"] == m1["version"] + 1
    bumped = [
        b for b, v in m2["partitions"].items() if m1["partitions"].get(b) != v
    ]
    assert len(bumped) == 1  # only doc 101's bucket was rewritten
    got = svc.suggest("cars", "Suzuki Swift", JACCARD, 0.5, 5)
    assert [v for _, v in got] == ["Suzuki Swift"]

    # restart durability: a new service boots the sibling and serves values
    svc2 = SuggestService(spark)
    svc2.add_disc_index("cars", dictionary, base, rebuild=False)
    got = svc2.suggest("cars", "Mazda Demio", JACCARD, 0.5, 5)
    assert [v for _, v in got] == ["Mazda Demio"]


def test_service_rebucket_dictionary_keeps_serving(spark, tmp_path):
    """Service-level re-layout: a dictionary sibling that outgrew its bucket
    count migrates in one maintenance call — serving answers and hot state
    (value_map) survive unchanged, and later upserts are bucket-granular at
    the NEW count."""
    from suggest_spark.functions.metrics import JACCARD
    from suggest_spark.operators.service import SuggestService

    base = str(tmp_path / "svc_idx")
    svc = SuggestService(spark)
    dictionary = spark.createDataFrame(
        [(i, f"Nissan model {i}") for i in range(30)], SCHEMA
    )
    svc.add_disc_index("cars", dictionary, base)
    svc.upsert_disc_index(
        "cars", spark.createDataFrame([(100, "Mazda Demio")], SCHEMA)
    )
    svc.warm("cars", metrics=[JACCARD])
    vm_before = svc._get("cars").value_map
    assert vm_before is not None and vm_before[100] == "Mazda Demio"

    sib = f"{base}_dictionary"
    old_count = read_manifest(spark, sib)["n_buckets"]
    stats = svc.rebucket_dictionary("cars", 32)
    assert stats["rebucketed"] and old_count != 32
    assert read_manifest(spark, sib)["n_buckets"] == 32
    # hot state carried through by identity — no re-warm needed
    assert svc._get("cars").value_map is vm_before
    got = svc.suggest("cars", "Mazda Demio", JACCARD, 0.5, 5)
    assert [v for _, v in got] == ["Mazda Demio"]

    # same-count call is a no-op (no new version committed)
    again = svc.rebucket_dictionary("cars", 32)
    assert not again["rebucketed"]
    # a later upsert buckets at the new count: exactly one of 32 touched
    m_pre = read_manifest(spark, sib)
    svc.upsert_disc_index(
        "cars", spark.createDataFrame([(101, "Suzuki Swift")], SCHEMA)
    )
    m_post = read_manifest(spark, sib)
    bumped = [
        b for b, v in m_post["partitions"].items() if m_pre["partitions"].get(b) != v
    ]
    assert len(bumped) == 1
    assert [v for _, v in svc.suggest("cars", "Suzuki Swift", JACCARD, 0.5, 5)] == [
        "Suzuki Swift"
    ]


def test_bucketed_read_empty_raises(spark, tmp_path):
    base = str(tmp_path / "tbl")
    write_versioned_bucketed_table(
        spark.createDataFrame([(0, "a")], SCHEMA), base, n_buckets=4
    )
    upsert_versioned_bucketed_table(
        spark,
        base,
        spark.createDataFrame([], SCHEMA),
        deleted_keys=spark.createDataFrame([(0,)], "doc_id long"),
    )
    with pytest.raises(FileNotFoundError):
        read_versioned_bucketed_table(spark, base)


def test_rebucket_online_relayout(spark, tmp_path):
    """A table whose corpus outgrew its creation-time bucket count re-layouts
    in one commit: values identical, old snapshot still readable under its
    own manifest (grace period), and every LATER mutator inherits the new
    pinned count — including rebuilds, which otherwise keep the pinned one."""
    base = str(tmp_path / "tbl")
    write_versioned_bucketed_table(
        spark.createDataFrame(ROWS, SCHEMA), base, n_buckets=2
    )
    upsert_versioned_bucketed_table(
        spark, base, spark.createDataFrame([(3, "replaced 3")], SCHEMA)
    )

    stats = rebucket_versioned_bucketed_table(spark, base, 16)
    assert stats["rebucketed"] and stats["n_buckets"] == 16
    m = read_manifest(spark, base)
    assert m["n_buckets"] == 16 and m["version"] == stats["version"]
    # every bucket in the new manifest is owned by the rebucket version —
    # a hybrid old/new-layout manifest would double- or mis-read keys
    assert set(m["partitions"].values()) == {stats["version"]}
    assert len(m["partitions"]) > 2  # genuinely spread beyond the old count
    expect = sorted(
        [(i, f"value {i}") for i in range(40) if i != 3] + [(3, "replaced 3")]
    )
    assert _vals(read_versioned_bucketed_table(spark, base)) == expect
    # pre-rebucket snapshot still fully readable through ITS manifest
    old = read_versioned_bucketed_table(spark, base, read_manifest(spark, base, 2))
    assert _vals(old) == expect

    # later mutators bucket at the NEW count: an upsert touches exactly the
    # changed key's bucket within the 16-way layout...
    up = upsert_versioned_bucketed_table(
        spark, base, spark.createDataFrame([(200, "new 200")], SCHEMA)
    )
    assert len(up["buckets_touched"]) == 1
    assert _vals(read_versioned_bucketed_table(spark, base)) == sorted(expect + [(200, "new 200")])
    # ...and a rebuild keeps the rebucketed count, not its own ask
    m2 = write_versioned_bucketed_table(
        spark.createDataFrame(ROWS, SCHEMA), base, n_buckets=4
    )
    assert m2["n_buckets"] == 16


def test_rebucket_noop_key_preservation_and_errors(spark, tmp_path):
    base = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    write_versioned_bucketed_table(df, base, n_buckets=4)

    same = rebucket_versioned_bucketed_table(spark, base, 4)
    assert not same["rebucketed"] and same["version"] == 1  # no new commit

    stats = rebucket_versioned_bucketed_table(spark, base, 8)
    assert stats["rebucketed"] and read_manifest(spark, base)["n_buckets"] == 8
    # the doc_id bucketing key carries across: an upsert after the re-layout
    # replaces the row in place, no stale copy left in its old bucket
    upsert_versioned_bucketed_table(spark, base, spark.createDataFrame([(1, "A")], SCHEMA))
    assert _vals(read_versioned_bucketed_table(spark, base)) == [(1, "A"), (2, "b")]

    with pytest.raises(ValueError, match="new_n_buckets"):
        rebucket_versioned_bucketed_table(spark, base, 0)
    with pytest.raises(FileNotFoundError):
        rebucket_versioned_bucketed_table(spark, str(tmp_path / "missing"), 8)


def test_rebucket_emptied_table_commits_new_count(spark, tmp_path):
    """An emptied table (delete-all upsert leaves partitions={} with the old
    count pinned) must still be re-bucketable — operators pre-size before a
    bulk reload — and the re-layout is a pure manifest commit (no data)."""
    base = str(tmp_path / "tbl")
    write_versioned_bucketed_table(
        spark.createDataFrame(ROWS[:4], SCHEMA), base, n_buckets=2
    )
    upsert_versioned_bucketed_table(
        spark,
        base,
        spark.createDataFrame([], SCHEMA),
        deleted_keys=spark.createDataFrame([(i,) for i in range(4)], "doc_id long"),
    )
    assert read_manifest(spark, base)["partitions"] == {}

    stats = rebucket_versioned_bucketed_table(spark, base, 16)
    assert stats["rebucketed"] and stats["n_buckets"] == 16
    m = read_manifest(spark, base)
    assert m["partitions"] == {} and m["n_buckets"] == 16
    # the next bulk load seeds at the NEW count, spread beyond the old one
    upsert_versioned_bucketed_table(spark, base, spark.createDataFrame(ROWS, SCHEMA))
    assert _vals(read_versioned_bucketed_table(spark, base)) == sorted(ROWS)
    assert len(read_manifest(spark, base)["partitions"]) > 2


def test_service_rebucket_refuses_empty_sibling(spark, tmp_path):
    """An emptied dictionary sibling must be refused BEFORE any commit — not
    crash on the post-commit re-read with the new layout half-applied."""
    from suggest_spark.operators.service import SuggestService

    base = str(tmp_path / "svc_idx")
    svc = SuggestService(spark)
    svc.add_disc_index(
        "cars", spark.createDataFrame(ROWS[:8], SCHEMA), base
    )
    sib = f"{base}_dictionary"
    write_versioned_bucketed_table(spark.createDataFrame(ROWS[:2], SCHEMA), sib)
    upsert_versioned_bucketed_table(
        spark,
        sib,
        spark.createDataFrame([], SCHEMA),
        deleted_keys=spark.createDataFrame([(0,), (1,)], "doc_id long"),
    )
    before = read_manifest(spark, sib)
    with pytest.raises(ValueError, match="is empty"):
        svc.rebucket_dictionary("cars", 32)
    # unconditional: even the same-count no-op surfaces the broken state
    with pytest.raises(ValueError, match="is empty"):
        svc.rebucket_dictionary("cars", before["n_buckets"])
    assert read_manifest(spark, sib) == before  # nothing committed
