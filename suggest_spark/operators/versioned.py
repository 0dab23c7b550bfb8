"""Snapshot-isolated, versioned copy-on-write tables: the on-disk n-gram
index and the on-disk dictionary.

The reference hot-reindexes by building a fresh in-memory/mmap index and
swapping the registry pointer under a lock (/root/reference/pkg/suggest/
service.go:78-91) — readers of the old index keep a consistent snapshot.
This module gives the DISC artifacts the same swap semantics on any Hadoop
filesystem, without an Iceberg jar, with a miniature manifest-log layout —
the idea Iceberg/Delta use, specialized to one table shape:

    <base>/_manifests/v00000002.json   # {"version": 2, "partitions": {"7": 1, "9": 2}}
    <base>/v=1/size=7/*.parquet        # data files, IMMUTABLE once written
    <base>/v=2/size=9/*.parquet        # an upsert wrote only the touched size

Each artifact has exactly one layout:

* the **index** ``(doc_id, size, term)`` is partitioned by ``size`` — the
  reference's length segments (pkg/index/indices.go:3-14);
* the **dictionary** ``(doc_id, value)`` is partitioned by ``bucket =
  crc32(doc_id) % n_buckets``, with ``n_buckets`` pinned in every manifest
  (two writers can never bucket one table two ways; only
  :func:`rebucket_versioned_bucketed_table` changes it).

Both keep a manifest that maps each partition value to the version
directory owning it, and share one core: listing, reading the touched
partitions, anti-join/union merge, writing a fresh ``v=N``, and committing
the new ownership map.

* The CURRENT snapshot is the highest-numbered manifest — committed via
  temp-file + atomic exclusive rename (fsutil.publish_text_atomic), so a
  swap is one filesystem metadata operation, readers never see a torn
  manifest, and concurrent committers of one version cannot corrupt the log
  (one wins, one raises).  On an object store, where no filesystem op is
  atomic-exclusive, the commit goes through the publisher installed with
  ``fsutil.set_object_store_publisher``.
* **Readers never race writers**: a snapshot resolves to an explicit list
  of immutable directories; a rebuild/upsert writes a brand-new ``v=N``
  directory and commits a new manifest — nothing a live query has resolved
  is ever modified.
* **Upserts are copy-on-write per partition**: only touched partitions are
  written into ``v=N``; untouched ones keep their owner version in the new
  manifest.  A partition whose rows were all deleted has no entry in the
  new manifest.
* **GC after a grace period**: :func:`gc_versions` keeps every version
  referenced by the latest ``keep_manifests`` manifests (default 2 =
  current + previous), so queries resolved against the previous snapshot
  finish safely; anything older is deleted through the Hadoop FS API.
* **No other layout is read or written.**  Flat data at ``base`` (bare
  ``size=*`` dirs or parquet files), an unpartitioned ``{"all": N}``
  manifest, or a dictionary manifest without ``n_buckets`` makes every
  reader and writer here raise ``ValueError`` before anything is written;
  re-run ``jobs/indexer_job.py`` into a fresh output dir.

At 100 TB the manifest is a dict of a few hundred (index) to a few
thousand (dictionary) entries — driver-side JSON is the right tool; the
data plane stays partition-pruned parquet scans.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, IndexConfig
from ..sources import fsutil
from .indexing import build_ngram_index

try:  # py4j wraps JVM-side FS read failures in its own exception type
    from py4j.protocol import Py4JError

    _TRANSIENT_READ_ERRORS = (Py4JError,)
except ImportError:  # pragma: no cover — py4j ships with pyspark
    _TRANSIENT_READ_ERRORS = ()

INDEX_SCHEMA = "doc_id long, size int, term string"
_MANIFEST_DIR = "_manifests"


def _manifest_path(base: str, version: int) -> str:
    return f"{base}/{_MANIFEST_DIR}/v{version:08d}.json"


def _data_dir(base: str, version: int) -> str:
    return f"{base}/v={version}"


def list_manifest_versions(spark: SparkSession, base: str) -> list[int]:
    names = fsutil.list_names(spark, f"{base}/{_MANIFEST_DIR}")
    return sorted(int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json"))


def read_manifest(spark: SparkSession, base: str, version: int | None = None) -> dict:
    """The manifest dict for ``version`` (default: current = highest).

    When resolving CURRENT, a manifest that exists but does not parse (a
    torn or zero-length file — impossible under the rename-based commit,
    but reachable via a non-atomic object-store publisher, an external
    writer or a pre-round-4 log)
    falls back to the next-lower version: a ONE-step fallback is always a
    consistent read whose data files the grace-period GC still guarantees.
    Deeper fallbacks (several consecutive torn commits) are best-effort —
    data older than the GC keep-window may be gone; with the rename-based
    commit this path never executes.  During a fallback, an OLDER
    manifest that VANISHES (IO error — a concurrent gc_versions deleted it
    between the listing and the read) steps down too; the same error on the
    NEWEST manifest raises instead — GC never deletes the newest, so that
    is a transient FS failure, and falling back would serve (or let an
    upsert republish) a stale snapshot.  An EXPLICITLY requested version
    still raises on corruption."""
    if version is not None:
        return json.loads(fsutil.read_text(spark, _manifest_path(base, version)))
    versions = list_manifest_versions(spark, base)
    if not versions:
        raise FileNotFoundError(f"no manifests under {base}/{_MANIFEST_DIR}")
    newest = versions[-1]
    for v in reversed(versions):
        try:
            return json.loads(fsutil.read_text(spark, _manifest_path(base, v)))
        except ValueError:  # json.JSONDecodeError ⊂ ValueError: a TORN file
            # (non-atomic external writer / pre-round-4 log) — never
            # readable by anyone, so stepping down is always correct
            if v == versions[0]:
                raise
        except (OSError,) + _TRANSIENT_READ_ERRORS:
            # Step down ONLY for a file that genuinely VANISHED (deleted by
            # a concurrent gc_versions between the listing and this read).
            # A file that still exists failed on a TRANSIENT FS error —
            # falling back then would silently serve (or worse, let an
            # upsert MERGE AGAINST AND REPUBLISH) a stale snapshot, at ANY
            # depth: after a torn newest, the next readable version is the
            # effective current and deserves the same protection.  The
            # newest manifest additionally never falls back at all — GC
            # never deletes it, so even "vanished" means foul play there.
            if v == newest or v == versions[0]:
                raise
            if fsutil.exists(spark, _manifest_path(base, v)):
                raise  # still on disk: transient read failure, not a GC race
    raise FileNotFoundError(f"no readable manifest under {base}/{_MANIFEST_DIR}")


def _commit(spark: SparkSession, base: str, manifest: dict) -> None:
    """Atomically publish ``manifest`` as the new current snapshot: a whole
    manifest or none is visible, and of two committers of one version
    exactly one returns while the other raises ``FileExistsError``."""
    fsutil.publish_text_atomic(
        spark,
        _manifest_path(base, manifest["version"]),
        json.dumps(manifest, sort_keys=True),
        overwrite=False,
    )


def _data_versions(spark: SparkSession, base: str) -> list[int]:
    """Version numbers of ALL ``v=`` data dirs on disk — committed or not."""
    return sorted(
        int(n.split("=", 1)[1])
        for n in fsutil.list_names(spark, base)
        if n.startswith("v=")
    )


def _next_version(spark: SparkSession, base: str, floor: int = 0) -> int:
    """The next safe version number: one past every committed manifest AND
    every data dir on disk.  A writer that crashed after its parquet write
    but before its manifest commit leaves an orphan ``v=N`` dir; computing
    from manifests alone would make every retry collide with it
    (``errorifexists``) and wedge the index.  The orphan itself is swept by
    the next :func:`gc_versions` (it is referenced by no manifest)."""
    versions = list_manifest_versions(spark, base)
    highest = max(
        versions[-1] if versions else 0,
        max(_data_versions(spark, base), default=0),
        floor,
    )
    return highest + 1


def checked_manifest(spark: SparkSession, base: str, col: str) -> dict | None:
    """The current manifest of the table at ``base`` partitioned by ``col``
    (``"size"``: the index, ``"bucket"``: the dictionary), or ``None`` when
    nothing is there yet.  Any other layout raises ``ValueError`` — callers
    run this before they change anything durable."""
    stray = [
        n
        for n in fsutil.list_names(spark, base)
        if not (n == _MANIFEST_DIR or n.startswith(("v=", ".", "_")))
    ]
    if stray:
        what = f"flat parquet data ({stray[0]})"
    else:
        try:
            manifest = read_manifest(spark, base)
        except FileNotFoundError:
            return None
        if "all" in manifest["partitions"]:
            what = 'an unpartitioned {"all": N} manifest'
        elif col == "bucket" and "n_buckets" not in manifest:
            what = "a manifest without n_buckets"
        else:
            return manifest
    raise ValueError(
        f"{base} holds {what}, not the versioned {col}-partitioned layout; "
        "re-run jobs/indexer_job.py into a fresh output dir"
    )


def _current(spark: SparkSession, base: str, col: str) -> dict:
    manifest = checked_manifest(spark, base, col)
    if manifest is None:
        raise FileNotFoundError(f"no versioned table at {base}")
    return manifest


# -- the shared copy-on-write core -------------------------------------------


def _read_parts(spark: SparkSession, base: str, parts: dict, col: str) -> DataFrame:
    """An explicit list of immutable partition dirs; ``col`` is parsed from
    the dir names (``basePath``), so pruning on it still applies."""
    dirs = [f"{_data_dir(base, v)}/{col}={p}" for p, v in sorted(parts.items())]
    return spark.read.option("basePath", base).parquet(*dirs).drop("v")


def _write_parts(df: DataFrame, base: str, version: int, col: str) -> dict:
    """Write ``df`` partitioned by ``col`` under the immutable ``v=version``
    dir; return the ``{partition: version}`` ownership fragment for exactly
    the partitions that received rows (from the listing, no Spark job)."""
    data_dir = _data_dir(base, version)
    df.write.mode("errorifexists").partitionBy(col).parquet(data_dir)
    return {
        n.split("=", 1)[1]: version
        for n in fsutil.list_names(df.sparkSession, data_dir)
        if n.startswith(f"{col}=")
    }


def _rebuild(df: DataFrame, base: str, col: str, floor: int = 0, **pinned) -> dict:
    """Full write of every partition under a fresh ``v=N`` and a manifest
    owning all of them (``pinned`` adds layout fields such as
    ``n_buckets``)."""
    spark = df.sparkSession
    version = _next_version(spark, base, floor)
    manifest = {
        "version": version,
        "partitions": _write_parts(df, base, version, col),
        **pinned,
    }
    _commit(spark, base, manifest)
    return manifest


def _drop_ids(new_rows: DataFrame, deleted: DataFrame | None) -> DataFrame:
    """Distinct ``doc_id`` of every replaced or deleted row (``deleted``'s
    first column holds the ids).  A null id matches no row, so it is
    dropped here rather than touching a partition for nothing."""
    ids = new_rows.select("doc_id")
    if deleted is not None:
        ids = ids.unionByName(deleted.select(F.col(deleted.columns[0]).alias("doc_id")))
    return ids.where(F.col("doc_id").isNotNull()).distinct()


def _upsert(
    spark: SparkSession,
    base: str,
    current: dict,
    col: str,
    touched: set[str],
    drop_ids: DataFrame,
    new_rows: DataFrame,
) -> tuple[int, dict]:
    """Copy-on-write: rewrite the ``touched`` partitions of ``current`` —
    their rows minus ``drop_ids``, plus ``new_rows`` (which carry ``col``) —
    under a fresh version, and commit a manifest in which every other
    partition keeps its owner.  Returns the version and the partitions it
    wrote."""
    version = _next_version(spark, base, floor=current["version"])
    held = {p: v for p, v in current["partitions"].items() if p in touched}
    merged = new_rows
    if held:
        kept = _read_parts(spark, base, held, col).join(drop_ids, "doc_id", "left_anti")
        merged = kept.select(new_rows.columns).unionByName(new_rows)
    written = _write_parts(merged, base, version, col)
    partitions = {p: v for p, v in current["partitions"].items() if p not in touched}
    _commit(spark, base, {**current, "version": version, "partitions": {**partitions, **written}})
    return version, written


# -- the index: partitioned by size ------------------------------------------


def write_versioned_index(index_df: DataFrame, base: str) -> dict:
    """Full (re)build: write every ``size`` partition under a fresh ``v=N``
    and commit a manifest owning all of them (reference full-rebuild + swap,
    service.go:78-91).  Returns the committed manifest."""
    checked_manifest(index_df.sparkSession, base, "size")
    return _rebuild(index_df.select("doc_id", "size", "term"), base, "size")


def read_versioned_index(
    spark: SparkSession, base: str, manifest: dict | None = None
) -> DataFrame:
    """The index DataFrame for a snapshot (default: current).  The plan reads
    an explicit list of immutable partition directories; ``size`` pruning on
    a ``size BETWEEN`` predicate still applies."""
    if manifest is None:
        manifest = _current(spark, base, "size")
    if not manifest["partitions"]:
        return spark.createDataFrame([], INDEX_SCHEMA)
    return _read_parts(spark, base, manifest["partitions"], "size").select(
        "doc_id", "size", "term"
    )


def upsert_versioned_index(
    spark: SparkSession,
    base: str,
    new_docs: DataFrame,
    config: IndexConfig = DEFAULT_CONFIG,
    deleted_ids: DataFrame | None = None,
) -> dict:
    """Incremental copy-on-write upsert of ``(doc_id, value)`` documents: a
    doc_id already present is replaced, ``deleted_ids`` are removed, and
    only the touched ``size`` partitions are rewritten.

    The touched set is every size receiving new rows plus every size
    currently holding a replaced or deleted id — a re-added doc whose text
    changed size would otherwise leave stale rows in its old partition (one
    column-pruned scan of the current snapshot).

    Returns ``{"version", "sizes_touched", "rows_written"}``.
    """
    current = _current(spark, base, "size")
    new_rows = build_ngram_index(new_docs, config=config)
    drop_ids = _drop_ids(new_docs, deleted_ids)
    held = read_versioned_index(spark, base, current).join(drop_ids, "doc_id")
    sizes = sorted(
        r["size"]
        for r in new_rows.select("size").union(held.select("size")).distinct().collect()
    )
    if not sizes:
        return {"version": current["version"], "sizes_touched": [], "rows_written": 0}
    version, written = _upsert(
        spark, base, current, "size", {str(s) for s in sizes}, drop_ids, new_rows
    )
    # parquet footer count — no recompute of the merge plan
    rows_written = spark.read.parquet(_data_dir(base, version)).count() if written else 0
    return {"version": version, "sizes_touched": sizes, "rows_written": rows_written}


# -- the dictionary: partitioned by bucket = crc32(doc_id) % n_buckets --------
#
# ``bucket`` is a pure function of the key, so an upsert maps replaced and
# deleted ids straight to their buckets — no scan of the current snapshot.

DEFAULT_TABLE_BUCKETS = 64  # tests/local; a 100 TB-corpus dictionary: 4096+


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", (F.crc32(F.col("doc_id").cast("string")) % n_buckets).cast("int")
    )


def write_versioned_bucketed_table(
    df: DataFrame, base: str, n_buckets: int = DEFAULT_TABLE_BUCKETS
) -> dict:
    """Full (re)build of a ``doc_id``-bucketed table: every bucket lands
    under a fresh ``v=N`` and the manifest owns them all.  An existing
    manifest's ``n_buckets`` is reused (a rebuild must not silently
    re-bucket a table its upserts co-own)."""
    existing = checked_manifest(df.sparkSession, base, "bucket") or {}
    n_buckets = existing.get("n_buckets", n_buckets)
    return _rebuild(_bucketed(df, n_buckets), base, "bucket", n_buckets=n_buckets)


def read_versioned_bucketed_table(
    spark: SparkSession, base: str, manifest: dict | None = None
) -> DataFrame:
    """Current (or given) snapshot of a bucketed table, with exactly the
    data columns (the layout columns ``v`` and ``bucket`` are dropped)."""
    if manifest is None:
        manifest = _current(spark, base, "bucket")
    if not manifest["partitions"]:
        raise FileNotFoundError(f"versioned bucketed table at {base} is empty")
    return _read_parts(spark, base, manifest["partitions"], "bucket").drop("bucket")


def upsert_versioned_bucketed_table(
    spark: SparkSession,
    base: str,
    new_rows: DataFrame,
    deleted_keys: DataFrame | None = None,
) -> dict:
    """Copy-on-write upsert: rewrite ONLY the buckets holding a replaced or
    deleted ``doc_id`` (plus those receiving new ones); untouched buckets
    keep their owner version — O(touched buckets) work per trickle update,
    never O(table).  Returns ``{"version", "buckets_touched"}``."""
    current = _current(spark, base, "bucket")
    n_buckets = current["n_buckets"]
    drop_ids = _drop_ids(new_rows, deleted_keys)
    touched = sorted(
        r["bucket"] for r in _bucketed(drop_ids, n_buckets).select("bucket").distinct().collect()
    )
    if not touched:
        return {"version": current["version"], "buckets_touched": []}
    version, _ = _upsert(
        spark,
        base,
        current,
        "bucket",
        {str(b) for b in touched},
        drop_ids,
        _bucketed(new_rows, n_buckets),
    )
    return {"version": version, "buckets_touched": touched}


def rebucket_versioned_bucketed_table(
    spark: SparkSession, base: str, new_n_buckets: int
) -> dict:
    """Online re-layout of a bucketed table whose corpus outgrew its
    creation-time ``n_buckets``.  Every other mutator deliberately REUSES
    the pinned count, so without this a table created at 64 buckets
    trickle-upserts into ever-fatter buckets forever.

    The current snapshot is rewritten in full under a fresh ``v=N`` at the
    new count and one manifest pinning ``new_n_buckets`` is committed
    atomically.  Readers holding the old manifest keep reading the old
    version's immutable dirs (gc grace applies).  Even a racing upsert
    cannot mix layouts: each manifest pins its OWN ``n_buckets`` and full
    bucket→version map, so the loser's commit is a superseded but
    self-consistent snapshot, never a hybrid.  An emptied table re-buckets
    as a pure manifest commit.

    Cost is one full-table rewrite — paid once per growth step; at the
    100 TB tier re-bucket when median bucket size crosses the comfortable
    task-input size (e.g. 64 → 4096 as the corpus grows 64×).
    """
    if new_n_buckets < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
    current = _current(spark, base, "bucket")
    if current["n_buckets"] == new_n_buckets:
        return {"version": current["version"], "n_buckets": new_n_buckets, "rebucketed": False}
    if current["partitions"]:
        snapshot = read_versioned_bucketed_table(spark, base, current)
        manifest = _rebuild(
            _bucketed(snapshot, new_n_buckets),
            base,
            "bucket",
            floor=current["version"],
            n_buckets=new_n_buckets,
        )
    else:
        # an emptied table has nothing to rewrite, but the pinned count must
        # still change or the next bulk reload re-seeds the stale layout
        manifest = {
            "version": _next_version(spark, base, floor=current["version"]),
            "partitions": {},
            "n_buckets": new_n_buckets,
        }
        _commit(spark, base, manifest)
    return {"version": manifest["version"], "n_buckets": new_n_buckets, "rebucketed": True}


def gc_versions(
    spark: SparkSession,
    base: str,
    keep_manifests: int = 2,
    min_age_sec: float = 0.0,
) -> list[int]:
    """Delete version directories referenced by NONE of the latest
    ``keep_manifests`` manifests, and the manifests older than those — the
    grace period: the previous snapshot stays fully readable until the next
    swap, so in-flight queries never lose files.  Returns deleted versions.

    ``min_age_sec`` adds a TIME floor on top of the swap-count window: a
    manifest (and everything it references) younger than this is kept even
    beyond ``keep_manifests``.  Swap count alone is not a safe grace measure
    under rapid trickle upserts — two quick swaps would delete files a
    long-running query planned against moments earlier; the service layer
    passes its ``gc_min_age_sec`` here.  The same floor protects a
    not-yet-committed ``v=N`` dir (an in-progress or crashed write) from
    being swept while fresh; once stale it is reclaimed as an orphan.

    Single-writer assumption (same as the reference's reindex): concurrent
    REBUILDS of one index are not coordinated — run GC from the maintenance
    path that owns the index."""
    import time

    now = time.time()

    def _young(path: str) -> bool:
        return min_age_sec > 0 and (now - fsutil.mtime(spark, path)) < min_age_sec

    versions = list_manifest_versions(spark, base)

    def _superseded_recently(i: int) -> bool:
        # age since SUPERSEDED, not since created: a snapshot that served
        # for an hour still needs the full grace window after the swap that
        # replaced it — an in-flight query planned against it moments before
        # the swap.  Supersession time = the successor manifest's creation.
        return i + 1 < len(versions) and _young(
            _manifest_path(base, versions[i + 1])
        )

    kept_manifests = [
        m
        for i, m in enumerate(versions)
        if m in versions[-keep_manifests:] or _superseded_recently(i)
    ]
    referenced: set[int] = set(kept_manifests)
    for m in kept_manifests:
        try:
            referenced |= set(read_manifest(spark, base, m)["partitions"].values())
        except ValueError:
            # ValueError ONLY (torn file): a TRANSIENT read failure (OSError/
            # Py4JError) must abort the GC instead — skipping a kept manifest
            # on a flaky read would delete versions it still references.
            # a torn manifest inside the keep window (reachable only via a
            # non-atomic external writer or a pre-round-4 log): no reader
            # can resolve it (read_manifest falls back past it), so it
            # protects nothing — and GC must keep RUNNING, or every mutator's
            # post-commit GC raises until the torn file ages out
            continue
    deleted = []
    for name in fsutil.list_names(spark, base):
        if name.startswith("v="):
            v = int(name.split("=", 1)[1])
            if v not in referenced and not _young(f"{base}/{name}"):
                fsutil.delete(spark, f"{base}/{name}")
                deleted.append(v)
    for m in versions:
        if m not in kept_manifests:
            fsutil.delete(spark, _manifest_path(base, m))
    return sorted(deleted)
