"""Multi-dictionary suggest service: named index registry + hot reindex +
per-dictionary Suggest/Autocomplete — the Spark form of the reference's
Service (/root/reference/pkg/suggest/service.go:20-91: a name → (NGramIndex,
Dictionary) map swapped atomically under sync.RWMutex, reindexed live via
SIGHUP/POST, internal/suggest/api/app.go:47-68).

Spark mapping: an index "build" is a DataFrame plan over the dictionary
table (materialized to a versioned, size-partitioned warehouse path — the
DISC driver; cached in memory — the RAM driver); a reindex is a REBUILD +
ATOMIC SWAP of the registry entry.  The Python ``threading.Lock`` only
guards the registry dict itself.

Reader isolation: RAM entries are cached immutable lineage, so concurrent
queries against a swapped-out entry keep their snapshot (the
reader-isolation the reference needs the RWMutex for).  DISC entries are
SNAPSHOT-ISOLATED too: every DISC artifact has one on-disk layout
(operators/versioned.py) — the index a size-partitioned versioned
manifest, the dictionary a ``doc_id``-bucketed one — and every mutator
writes a fresh immutable ``v=N`` directory and atomically commits a
manifest (the reference's build-then-swap, service.go:78-91, at the
filesystem level), then GCs versions older than the previous snapshot
(grace period for in-flight queries).  Nothing a live query has resolved is
ever modified; a transactional table format (Iceberg/Delta —
sources/tables.py) would provide the same guarantee catalog-side.

An entry whose index or dictionary is in any other layout is refused with
``ValueError`` before anything durable changes; re-run
``jobs/indexer_job.py`` into a fresh output dir.
"""

from __future__ import annotations

import threading
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, IndexConfig
from ..functions.metrics import Metric
from .indexing import IndexStats, build_ngram_index
from .suggest import autocomplete_firstk, suggest_topk_auto

#: largest dictionary (rows) admitted into a driver-side value map — shared
#: by warm()'s build and upsert_disc_index's patch (a patched map must obey
#: the same bound its build did)
DEFAULT_VALUE_MAP_MAX_ROWS = 2_000_000


def _cached_by_doc(index: DataFrame) -> DataFrame:
    """The served index's one cached layout: hash-partitioned by ``doc_id``.

    ScanCount + CountFilter is a per-document sum, so over this layout the
    broadcast posting join keeps ``HashPartitioning(doc_id)`` and the
    ``groupBy(query_id, size_a, doc_id, size)`` aggregates each partition
    in place — the only shuffle left is the k-row top-k merge on
    ``query_id`` (suggest.py "Scale notes").  Lazy: the caller materializes
    it."""
    n = index.sparkSession.sparkContext.defaultParallelism
    return index.repartition(n, "doc_id").cache()


def _query_frame(spark: SparkSession, queries: list[str]) -> DataFrame:
    """``(query_id, query)`` for a batch, built from an Arrow table: a
    JVM-side local relation.  A row-list ``createDataFrame`` would go
    through a Python RDD, starting Python workers in every job that
    broadcasts the batch."""
    import pyarrow as pa

    table = pa.table(
        {
            "query_id": pa.array(range(len(queries)), pa.int64()),
            "query": pa.array(queries, pa.string()),
        }
    )
    return spark.createDataFrame(table, "query_id long, query string")


def _collect_hot_delta(
    new_docs: DataFrame, deleted_ids: DataFrame | None, max_rows: int
):
    """``(upserts, deleted)`` as driver lists when BOTH frames are ≤
    ``max_rows``; ``None`` (patching declined) otherwise.  ``limit(max+1)``
    bounds the transfer — an over-bound delta costs one truncated Arrow
    batch, never a full collect.

    Null handling mirrors the upsert's join semantics so the patch can
    never crash AFTER the disk mutation: a null id in ``deleted_ids`` is
    dropped (a null key never matches the left_anti join — it was always a
    no-op).  A null or DUPLICATE ``doc_id`` in ``new_docs`` DECLINES the
    patch — defense in depth: ``upsert_disc_index`` validates and raises on
    such batches before any mutation, but this helper enforces its own
    contract for any other caller (a driver map can hold only one value per
    doc, so an out-of-contract batch is unrepresentable here)."""
    pdf = new_docs.select("doc_id", "value").limit(max_rows + 1).toPandas()
    if (
        len(pdf) > max_rows
        or pdf["doc_id"].isna().any()
        or pdf["doc_id"].duplicated().any()
    ):
        return None
    ups = list(zip((int(d) for d in pdf["doc_id"]), pdf["value"].tolist()))
    dels: list = []
    if deleted_ids is not None:
        col = deleted_ids.columns[0]
        dpdf = (
            # filter nulls SPARK-side: a null row reaching toPandas coerces
            # the whole column to float64, silently rounding ids > 2^53 —
            # the patch would then delete a NEIGHBORING doc on the hot tier
            deleted_ids.select(F.col(col).alias("doc_id"))
            .where(F.col("doc_id").isNotNull())
            .limit(max_rows + 1)
            .toPandas()
        )
        if len(dpdf) > max_rows:
            return None
        dels = [int(d) for d in dpdf["doc_id"]]
    return ups, dels


@dataclass(frozen=True)
class _Entry:
    dictionary: DataFrame
    index: DataFrame
    config: IndexConfig
    path: str | None = None  # DISC entries: the versioned warehouse dir
    owns_dict: bool = False  # the SERVICE cached this dictionary (upsert path)
    # planner statistics (indexing.IndexStats) — present only when FRESH for
    # the served index: suggest() feeds them to suggest_topk_auto, whose
    # prefix branch verifies against stats.doc_terms, so stale stats would
    # return wrong scores (not just a bad plan choice).  Upserts therefore
    # INVALIDATE stats (suggest falls back to the plain plan, always
    # correct); refresh_stats() recomputes and re-arms auto selection.
    stats: IndexStats | None = None
    stats_path: str | None = None
    # load_disc_index entries: the persisted dictionary artifact — upserts
    # write the merged dictionary back here (versioned), else a restart
    # would serve upserted docs with null values and a later rebuild from
    # the stale artifact would silently drop them
    dict_path: str | None = None
    # serving hot state, built by warm()/enable_hot_replica().  A mutator
    # swap must never serve a pre-upsert value or posting: upsert_disc_index
    # PATCHES both to the exact post-upsert snapshot when the delta is small
    # (O(delta), replica.patched) and drops them otherwise — an operator
    # re-warms after a dropped swap:
    # value_map — driver-side {doc_id: value}; lets the serving batch path
    #   skip the per-request dictionary broadcast (the single biggest
    #   per-request cost on a large dictionary) and resolve the ≤ k·|batch|
    #   result values in Python.
    # replica — serving.replica.HotReplica: the full in-driver index
    #   snapshot for millisecond lone requests (reference mmap parity).
    value_map: dict | None = None
    replica: object | None = None
    # the value_map_max_rows bound the map was ADMITTED under (warm()):
    # upsert patching must grow/drop the map against the caller's bound,
    # not the module default
    value_map_max_rows: int | None = None


class SuggestService:
    """Named registry of (dictionary, n-gram index) pairs.

    ``add_ram_index``   — RAM driver: index plan cached in executor memory.
    ``add_disc_index``  — DISC driver: index written to (or read from) a
                          versioned, size-partitioned parquet path.
    Re-adding a name REBUILDS and atomically swaps the entry — the hot
    reindex path (service.go:78-91 AddIndex under Lock).
    """

    #: time floor for version GC after a swap — swap COUNT alone is not a
    #: safe grace window under rapid trickle upserts (two quick swaps would
    #: delete files a long-running query planned against moments earlier).
    #: Tests drive gc_versions directly with 0.
    gc_min_age_sec: float = 300.0

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._lock = threading.Lock()
        # serializes MUTATORS (rebuild/upsert/refresh) per service: queries
        # stay lock-free on immutable snapshots, but two concurrent mutators
        # could interleave read-compute-swap (e.g. refresh_stats persisting
        # stats of a pre-upsert index AFTER the upsert invalidated them and
        # swapping serving back to the stale snapshot).  The reference holds
        # its registry lock across the whole AddIndex for the same reason
        # (service.go:78-91); mutations are rare, so holding this across the
        # Spark jobs is the point, not a bottleneck.
        self._mutate = threading.Lock()
        self._entries: dict[str, _Entry] = {}

    # -- registration ------------------------------------------------------

    def add_ram_index(
        self,
        name: str,
        dictionary: DataFrame,
        config: IndexConfig = DEFAULT_CONFIG,
    ) -> None:
        """RAM driver: build the index and cache it in the same
        ``doc_id``-partitioned layout :meth:`warm` gives a DISC entry
        (:func:`_cached_by_doc`), so suggest aggregates without a shuffle
        on either driver."""
        with self._mutate:
            index = _cached_by_doc(build_ngram_index(dictionary, config=config))
            index.count()  # materialize before the swap, like builder.Build()
            self._swap(name, _Entry(dictionary, index, config))

    def add_disc_index(
        self,
        name: str,
        dictionary: DataFrame,
        path: str,
        config: IndexConfig = DEFAULT_CONFIG,
        rebuild: bool = True,
    ) -> None:
        """Build (or open) a DISC entry at ``path``.  ``rebuild=True`` writes
        a fresh immutable version and atomically swaps the snapshot — safe
        under concurrent queries (versioned.py); old versions beyond the
        grace window are GC'd after the swap."""
        from .versioned import (
            checked_manifest,
            gc_versions,
            read_versioned_bucketed_table,
            read_versioned_index,
            write_versioned_bucketed_table,
            write_versioned_index,
        )

        with self._mutate:
            stats_path = f"{path}_stats"
            # service-owned dictionary sibling, created by upsert_disc_index
            # for entries registered without a dictionary artifact — when it
            # exists, the on-disk index includes persisted upserts the
            # caller's dictionary frame knows nothing about.  Both layouts
            # are checked before anything durable changes.
            sib = f"{path}_dictionary"
            checked_manifest(self.spark, path, "size")
            has_sib = checked_manifest(self.spark, sib, "bucket") is not None
            if rebuild:
                # stats describe the OLD snapshot — invalidate on disk BEFORE
                # the index changes (crash-safe: worst case is missing stats =
                # plain plan, never stale doc_terms feeding the prefix verify)
                self._invalidate_stats(stats_path)
                if has_sib:
                    # the rebuild's dictionary is the new truth — publish it
                    # over the stale sibling (versioned swap + grace GC, so
                    # in-flight queries on the old entry keep their snapshot);
                    # a later upsert/boot must never merge into the old
                    # corpus.  Ordering: sibling BEFORE index, same rule as
                    # stats — a crash in between leaves the new dictionary
                    # against the old index, where removed docs resolve to
                    # NULL values (visible, retry-healed by re-running the
                    # rebuild); index-first would serve the old dictionary's
                    # stale VALUES against the new index, silently wrong.
                    write_versioned_bucketed_table(dictionary, sib)
                    gc_versions(self.spark, sib, min_age_sec=self.gc_min_age_sec)
                write_versioned_index(build_ngram_index(dictionary, config=config), path)
                stats = None
            else:
                stats, _ = self._load_stats(stats_path)
                if has_sib:
                    # serve the persisted post-upsert dictionary, not the
                    # caller's pre-upsert frame — else upserted doc_ids
                    # resolve to null values after a restart
                    dictionary = read_versioned_bucketed_table(self.spark, sib)
            self._swap(
                name,
                _Entry(
                    dictionary,
                    read_versioned_index(self.spark, path),
                    config,
                    path,
                    stats=stats,
                    stats_path=stats_path,
                    dict_path=sib if has_sib else None,
                ),
            )
            if rebuild:
                gc_versions(self.spark, path, min_age_sec=self.gc_min_age_sec)

    def load_disc_index(
        self,
        name: str,
        warehouse_dir: str,
        config: IndexConfig = DEFAULT_CONFIG,
    ) -> None:
        """Boot a DISC entry from an ``indexer_job`` run's artifacts —
        ``<warehouse>/<name>_dictionary`` + ``<warehouse>/<name>_index``
        (jobs/indexer_job.py layout; the reference's service startup reads
        the indexer's output the same way, service.go:20-45).  No rebuild:
        the on-disk index is served as-is."""
        import os

        from .versioned import read_versioned_bucketed_table, read_versioned_index

        with self._mutate:
            dict_path = os.path.join(warehouse_dir, f"{name}_dictionary")
            dictionary = read_versioned_bucketed_table(self.spark, dict_path)
            path = os.path.join(warehouse_dir, f"{name}_index")
            index = read_versioned_index(self.spark, path)
            stats, stats_path = self._load_stats(f"{path}_stats")
            self._swap(
                name,
                _Entry(
                    dictionary,
                    index,
                    config,
                    path,
                    stats=stats,
                    stats_path=stats_path,
                    dict_path=dict_path,
                ),
            )

    def upsert_disc_index(
        self,
        name: str,
        new_docs: DataFrame,
        deleted_ids: DataFrame | None = None,
        max_hot_delta: int = 100_000,
    ) -> dict:
        """Incremental hot reindex of a DISC entry: merge/delete documents
        through :func:`upsert_versioned_index` (only affected ``size=``
        partitions written, into a fresh immutable version; atomic manifest
        swap; grace-period GC) — the trickle-update form of the reference's
        full rebuild+swap (service.go:78-91), safe under concurrent queries.
        ``new_docs`` is ``(doc_id, value)``; a doc_id already present is
        replaced.  ``new_docs`` must be DETERMINISTIC: the upsert evaluates
        it more than once (index write, dictionary merge, and — when hot
        state is patched — the delta collect), so a nondeterministic plan
        (``rand()``, ``current_timestamp()``, a source being appended to)
        can diverge between what the index, the dictionary and the patched
        hot state each saw.  An index or dictionary in any other on-disk
        layout raises ``ValueError`` before anything durable changes.

        Durability: the merged dictionary is ALWAYS persisted (versioned,
        ``doc_id``-bucketed: only buckets holding a changed doc_id are
        rewritten, ``upsert_versioned_bucketed_table``) — to the entry's
        ``dict_path`` (load_disc_index boots), or to a service-owned sibling
        at ``{path}_dictionary`` for entries registered with a caller
        dictionary (add_disc_index), which later re-opens prefer over the
        caller's frame.  Index and dictionary must change TOGETHER or a
        restart serves upserted docs with null values.  A crash between the
        index write and the dictionary write leaves exactly that transient
        state; the upsert is idempotent, so retrying it heals.

        Serving stays HOT across the upsert: when the entry has a warm
        ``value_map`` and/or a :class:`~suggest_spark.serving.replica.
        HotReplica` and the delta is ≤ ``max_hot_delta`` rows, both are
        patched in O(delta) to the exact post-upsert snapshot
        (:meth:`HotReplica.patched`) and swapped in with the new entry —
        lone requests keep their millisecond path with no rebuild and no
        window of pre-upsert answers.  A larger delta (or a patch that
        would exceed the replica's admitted ``max_postings``) drops the
        hot state as before; re-run :meth:`warm` / :meth:`enable_hot_replica`."""
        from .versioned import (
            checked_manifest,
            gc_versions,
            read_versioned_bucketed_table,
            read_versioned_index,
            upsert_versioned_bucketed_table,
            upsert_versioned_index,
            write_versioned_bucketed_table,
        )

        with self._mutate:
            e = self._get(name)
            if e.path is None:
                raise ValueError(f"{name!r} is a RAM entry; use add_ram_index to rebuild")
            # enforce the mutation contract BEFORE anything durable changes:
            # "a doc_id already present is replaced" is only meaningful for
            # unique, non-null ids — a duplicate would be indexed twice (the
            # dictionary union keeps both rows; multiset overlap doubles)
            # and a null id poisons every driver-side consumer.  One small
            # agg job on the delta frame, raised loudly, beats silently
            # persisting a corrupt dictionary.
            chk = new_docs.agg(
                F.count(F.lit(1)).alias("rows"),
                F.count("doc_id").alias("nonnull"),
                F.countDistinct("doc_id").alias("distinct"),
            ).first()
            if chk["nonnull"] != chk["rows"] or chk["distinct"] != chk["nonnull"]:
                raise ValueError(
                    f"new_docs must have unique non-null doc_ids: got "
                    f"{chk['rows']} rows, {chk['nonnull']} non-null, "
                    f"{chk['distinct']} distinct"
                )
            dict_path = e.dict_path or f"{e.path}_dictionary"
            if checked_manifest(self.spark, e.path, "size") is None:
                raise FileNotFoundError(f"no versioned index at {e.path}")
            has_dict = checked_manifest(self.spark, dict_path, "bucket") is not None
            # bounded delta collect for hot-state patching — BEFORE any
            # mutation (a failure here leaves the entry untouched, and the
            # collected rows are exactly the frames the upsert below applies)
            delta = None
            if e.replica is not None or e.value_map is not None:
                delta = _collect_hot_delta(new_docs, deleted_ids, max_hot_delta)
            # invalidate persisted stats BEFORE the index changes: a later boot
            # (load_disc_index) must never re-arm pre-upsert stats against the
            # post-upsert index (stale doc_terms ⇒ wrong prefix-plan scores)
            self._invalidate_stats(e.stats_path or f"{e.path}_stats")
            stats = upsert_versioned_index(
                self.spark, e.path, new_docs, e.config, deleted_ids
            )
            # persist, then serve the RE-READ — a lineage cut: chaining each
            # upsert's join/union onto the previous in-memory dictionary
            # grows the plan unboundedly across trickle upserts (a cache
            # eviction would recompute the whole chain).  Entries registered
            # without a dictionary artifact (add_disc_index) get a
            # service-owned sibling at {path}_dictionary, seeded from the
            # served frame by their first upsert: a cache can't cut lineage
            # and localCheckpoint blocks die with an executor — only a
            # persisted table survives both, and it is what makes the upsert
            # durable across restarts (the on-disk index keeps upserted
            # docs; serving them against a pre-upsert dictionary would
            # resolve their values to null).  Bucketed copy-on-write: a
            # trickle upsert rewrites only the buckets holding a changed
            # doc_id.
            if not has_dict:
                write_versioned_bucketed_table(e.dictionary, dict_path)
            upsert_versioned_bucketed_table(
                self.spark, dict_path, new_docs.select("doc_id", "value"), deleted_ids
            )
            gc_versions(self.spark, dict_path, min_age_sec=self.gc_min_age_sec)
            dictionary = read_versioned_bucketed_table(self.spark, dict_path).cache()
            dictionary.count()
            index = read_versioned_index(self.spark, e.path)
            # stats are NOT carried over: the index just changed, and serving
            # the prefix plan against the previous doc_terms would be wrong
            # (_Entry.stats).  stats_path survives so refresh_stats() re-arms.
            #
            # hot state IS carried over when the delta was collectible:
            # patched in O(delta) to the exact post-upsert snapshot, so the
            # millisecond path never goes cold and never serves a pre-upsert
            # row.  Patch failures degrade to the old drop-and-rewarm.
            hot: dict = {}
            if delta is not None:
                ups, dels = delta
                # the disk mutation above already committed — a patch
                # failure here must degrade to drop-and-rewarm, never
                # leave the service serving (and GC reclaiming) the
                # pre-upsert snapshot because the swap was skipped
                try:
                    if e.replica is not None:
                        try:
                            hot["replica"] = e.replica.patched(ups, dels)
                        except ValueError:
                            pass  # over admitted max_postings: Spark path takes over
                    if e.value_map is not None:
                        if "replica" in hot:
                            # single source of truth: the patched replica's
                            # values map IS the post-upsert {doc_id: value}
                            vm = hot["replica"].values_copy()
                        else:
                            vm = dict(e.value_map)
                            for d in dels:
                                vm.pop(d, None)
                            vm.update(ups)  # ids are unique (validated above)
                        bound = e.value_map_max_rows or DEFAULT_VALUE_MAP_MAX_ROWS
                        if len(vm) <= bound:
                            hot["value_map"] = vm
                            hot["value_map_max_rows"] = e.value_map_max_rows
                except Exception as exc:  # unexpected: degrade loudly, stay correct
                    warnings.warn(
                        f"hot-state patch failed ({exc!r}); dropping serving "
                        "hot state for re-warm",
                        RuntimeWarning,
                    )
                    hot = {}
            self._swap(
                name,
                _Entry(
                    dictionary,
                    index,
                    e.config,
                    e.path,
                    owns_dict=True,
                    stats_path=e.stats_path or (f"{e.path}_stats" if e.path else None),
                    dict_path=dict_path,
                    **hot,
                ),
            )
            gc_versions(self.spark, e.path, min_age_sec=self.gc_min_age_sec)
            return stats

    def rebucket_dictionary(self, name: str, new_n_buckets: int) -> dict:
        """Re-layout ``name``'s persisted dictionary sibling at a new bucket
        count (:func:`~suggest_spark.operators.versioned.
        rebucket_versioned_bucketed_table`) — the maintenance step for a
        dictionary whose corpus outgrew its creation-time ``n_buckets``, so
        trickle upserts stop rewriting ever-fatter buckets.  One full
        rewrite now buys O(touched buckets) upserts at the right granularity
        from then on.

        Runs under the same single-maintenance-writer lock as upserts.  The
        re-layout changes no values, so the index, planner stats and serving
        hot state (value_map / replica) all stay valid and are carried
        through; only the served dictionary frame is re-read and re-cached
        so its plan points at the NEW layout's immutable dirs before
        grace-period GC reclaims the old ones (a cache eviction after GC
        would otherwise recompute from deleted paths).  Entries that have
        never been upserted have no bucketed sibling yet — that raises
        FileNotFoundError rather than inventing one; the first upsert seeds
        the sibling at the count it needs.  An index or dictionary in any
        other on-disk layout raises ``ValueError`` before any commit."""
        from .versioned import (
            checked_manifest,
            gc_versions,
            read_versioned_bucketed_table,
            rebucket_versioned_bucketed_table,
        )

        with self._mutate:
            e = self._get(name)
            if e.path is None:
                raise ValueError(
                    f"{name!r} is a RAM entry; it has no persisted dictionary"
                )
            dict_path = e.dict_path or f"{e.path}_dictionary"
            checked_manifest(self.spark, e.path, "size")
            current = checked_manifest(self.spark, dict_path, "bucket")
            if current is None:
                raise FileNotFoundError(
                    f"{name!r} has no dictionary at {dict_path}; its first upsert creates it"
                )
            if not current["partitions"]:
                # a served dictionary is never empty under the service
                # contract; refusing BEFORE the commit beats crashing on the
                # re-read below with the new layout already half-applied.
                # deliberately unconditional (even for a same-count no-op):
                # a served dictionary must never be empty, so ANY maintenance
                # call against one should surface the broken state loudly.
                raise ValueError(
                    f"{name!r}'s dictionary sibling at {dict_path} is empty; "
                    "reload it before re-bucketing"
                )
            stats = rebucket_versioned_bucketed_table(self.spark, dict_path, new_n_buckets)
            if not stats["rebucketed"]:
                return stats
            dictionary = read_versioned_bucketed_table(self.spark, dict_path).cache()
            dictionary.count()
            self._swap(
                name,
                _Entry(
                    dictionary,
                    e.index,
                    e.config,
                    e.path,
                    owns_dict=True,
                    stats=e.stats,  # index unchanged: planner stats stay fresh
                    stats_path=e.stats_path,
                    dict_path=dict_path,
                    # re-layout changes no values: hot state carries by identity
                    replica=e.replica,
                    value_map=e.value_map,
                    value_map_max_rows=e.value_map_max_rows,
                ),
            )
            gc_versions(self.spark, dict_path, min_age_sec=self.gc_min_age_sec)
            return stats

    def _load_stats(self, stats_path: str):
        """(IndexStats, path) when persisted planner stats exist at
        ``stats_path``; (None, path) otherwise — never raises on absence or
        a torn ``stats.json`` (treated as absent: plain plan, always safe)."""
        from ..sources import fsutil
        from .indexing import read_index_stats

        if fsutil.exists(self.spark, f"{stats_path}/stats.json"):
            try:
                return read_index_stats(self.spark, stats_path), stats_path
            except Exception:
                return None, stats_path
        return None, stats_path

    def _invalidate_stats(self, stats_path: str) -> None:
        from .indexing import invalidate_index_stats  # the freshness contract

        invalidate_index_stats(self.spark, stats_path)

    def refresh_stats(self, name: str) -> dict:
        """Recompute and persist planner statistics from the entry's CURRENT
        served index, then re-arm auto plan selection (run after a batch of
        upserts; one full index scan + two columnar writes — amortize it
        over many trickle updates, not per upsert)."""
        from .indexing import write_index_stats

        with self._mutate:  # see _mutate: never interleave with an upsert
            e = self._get(name)
            stats_path = e.stats_path or (f"{e.path}_stats" if e.path else None)
            if stats_path is None:
                raise ValueError(f"{name!r} has no stats path (RAM entry)")
            written = write_index_stats(
                self.spark, e.index, stats_path, min_age_sec=self.gc_min_age_sec
            )
            stats, _ = self._load_stats(stats_path)
            self._swap(
                name,
                _Entry(
                    e.dictionary,
                    e.index,
                    e.config,
                    e.path,
                    owns_dict=e.owns_dict,
                    stats=stats,
                    stats_path=stats_path,
                    dict_path=e.dict_path,
                    # metadata-only swap over the SAME data: hot serving
                    # state stays valid (unlike the mutator swaps, which
                    # must drop it)
                    value_map=e.value_map,
                    replica=e.replica,
                    value_map_max_rows=e.value_map_max_rows,
                ),
            )
            return written

    def _swap(self, name: str, entry: _Entry) -> None:
        with self._lock:
            old = self._entries.get(name)
            self._entries[name] = entry
        # non-blocking unpersist of the old entry's cached pieces — without
        # the dictionary leg, repeated hot upserts (which cache a fresh
        # dictionary per swap) leak executor storage.  Dictionaries the
        # CALLER cached (RAM/DISC add paths) are left alone (owns_dict).
        # blocking=False: an in-flight query still holding the old plan
        # recomputes from the immutable lineage instead of failing.
        if old is not None:
            if old.index.is_cached and not self._still_served(old.index):
                old.index.unpersist(blocking=False)
            if (
                old.owns_dict
                and old.dictionary.is_cached
                and not self._still_served(old.dictionary)
            ):
                old.dictionary.unpersist(blocking=False)

    def _still_served(self, frame: DataFrame) -> bool:
        """True when a registered entry serves a cached frame with
        ``frame``'s plan — the frame itself after a metadata-only swap
        (refresh_stats), or an equal plan: Spark keeps ONE cache per plan,
        so two entries opened on the same snapshot share it, and releasing
        one entry's frame would evict the other's."""
        with self._lock:
            live = [f for e in self._entries.values() for f in (e.index, e.dictionary)]
        return any(f.is_cached and (f is frame or f.sameSemantics(frame)) for f in live)

    def _get(self, name: str) -> _Entry:
        with self._lock:
            if name not in self._entries:
                raise KeyError(f"unknown dictionary: {name!r}")
            return self._entries[name]

    def dictionaries(self) -> list[str]:
        with self._lock:
            return sorted(self._entries)

    def remove(self, name: str) -> None:
        """Unregister ``name`` and RELEASE its serving state: unpersists the
        entry's cached index and dictionary (including caches warm() pinned
        — callers that handed in a cached dictionary and still use it
        elsewhere should not rely on it staying cached; a cache another
        registered entry still serves is kept) and drops the hot
        replica / value map with the entry.  The teardown counterpart of
        the add_* registrations (benchmarks and service shutdown both need
        it; reaching into the registry from outside would bypass the
        locks)."""
        with self._mutate:
            with self._lock:
                e = self._entries.pop(name, None)
            if e is None:
                raise KeyError(f"unknown dictionary: {name!r}")
            for frame in (e.index, e.dictionary):
                if frame.is_cached and not self._still_served(frame):
                    frame.unpersist(blocking=True)

    def warm(
        self,
        name: str,
        metrics=None,
        query: str = "warm",
        topk: int = 3,
        value_map_max_rows: int = DEFAULT_VALUE_MAP_MAX_ROWS,
    ) -> dict:
        """Pre-warm the serving path for ``name`` so a user's FIRST lone
        request doesn't pay the one-time costs: whole-stage-codegen
        compilation of the suggest/autocomplete plan shapes, materialization
        of the entry's cached index/dictionary, and first-job scheduler
        overhead (measured 4-20x a warm request on a fresh driver —
        BENCH detail ``lone_request_*``).  Runs one tiny suggest probe per
        metric (default: every registered metric — each compiles its own
        generated code) plus one autocomplete probe; returns per-probe wall
        seconds.

        Also PINS the entry's index and dictionary in executor memory when
        not already cached: the dictionary is re-broadcast per request, and
        re-scanning parquet per keystroke would dominate the warm floor.
        For a DISC entry this holds the served snapshot hot
        (MEMORY_AND_DESERIALIZED with disk spill — the Spark analogue of the
        reference's mmap-resident index, ngram_index_test.go:112-139).
        The index is cached hash-partitioned by ``doc_id``
        (:func:`_cached_by_doc`, the layout ``add_ram_index`` caches too) and
        swapped into the entry: the posting join keeps that partitioning,
        so the per-document ScanCount aggregates without a shuffle and only
        the k-row top-k merge crosses partitions.  Scale caveat: the
        repartition is a one-off shuffle of the whole index, paid here at
        warm time, not per request.
        Registration-time cost, not request-time: jobs/http_service_job
        runs it per dictionary at boot and after every reindex/upsert swap.
        A mutator swap installs fresh uncached frames, and ``_swap``
        unpersists the partitioned cache it replaces (unless another entry
        still serves it), so re-warm after mutating.

        When the dictionary has ≤ ``value_map_max_rows`` rows it is also
        collected into a driver-side ``{doc_id: value}`` map, after which
        serving requests resolve result values in Python instead of
        broadcast-joining the whole dictionary per request — the single
        biggest per-request cost on a large dictionary.  Mutator swaps drop
        the map (it describes the pre-mutation snapshot); pass 0 to skip."""
        import dataclasses
        import time as _time

        from ..functions.metrics import METRICS

        with self._mutate:  # value_map must describe the entry it's swapped
            # into — never interleave with an upsert's read-compute-swap
            e = self._get(name)
            warmed = e
            if not e.index.is_cached:
                warmed = dataclasses.replace(warmed, index=_cached_by_doc(e.index))
            if not e.dictionary.is_cached:
                e.dictionary.cache()
            if e.value_map is None and value_map_max_rows > 0:
                if e.dictionary.count() <= value_map_max_rows:
                    # one Arrow batch transfer, not a row-at-a-time collect
                    pdf = e.dictionary.select("doc_id", "value").toPandas()
                    vm = dict(zip(pdf["doc_id"].tolist(), pdf["value"].tolist()))
                    warmed = dataclasses.replace(
                        warmed, value_map=vm, value_map_max_rows=value_map_max_rows
                    )
            if warmed is not e:
                self._swap(name, warmed)
        timings: dict[str, float] = {}
        t0 = _time.time()
        self.autocomplete_batch(name, [query], topk)
        timings["autocomplete"] = round(_time.time() - t0, 4)
        for metric in metrics if metrics is not None else METRICS.values():
            t0 = _time.time()
            self.suggest_batch(name, [query], metric, 0.5, topk)
            timings[f"suggest_{metric.name}"] = round(_time.time() - t0, 4)
        return timings

    def enable_hot_replica(self, name: str, max_postings: int | None = None) -> dict:
        """Install an in-driver :class:`~suggest_spark.serving.replica.
        HotReplica` of the entry's CURRENT snapshot: lone suggest /
        autocomplete requests then answer in ~a millisecond instead of one
        Spark job (~1-3 s) — the reference's own serve-from-process-memory
        architecture (app.go:73-77), fed by the distributed build, verified
        row-identical by tests/test_replica.py.

        Raises ``ValueError`` when the index exceeds ``max_postings``
        (driver-memory bound — corpus-scale entries stay on the Spark path
        behind the request coalescer).  MUTATORS DROP THE REPLICA: a
        rebuild/upsert installs an entry without one, so queries fall back
        to the (always-correct) Spark path until the operator re-enables it
        — a replica can never serve a pre-mutation snapshot.  Returns
        ``{"n_postings", "build_sec"}``."""
        import time as _time

        from ..serving.replica import DEFAULT_MAX_POSTINGS, HotReplica

        with self._mutate:  # snapshot must describe the entry it lands on
            import dataclasses

            e = self._get(name)
            t0 = _time.time()
            replica = HotReplica.from_frames(
                e.index,
                e.dictionary,
                e.config,
                # explicit None-check: a caller's max_postings=0 must mean
                # "refuse any replica", not silently become the default
                max_postings=DEFAULT_MAX_POSTINGS if max_postings is None else max_postings,
            )
            self._swap(name, dataclasses.replace(e, replica=replica))
            return {
                "n_postings": replica.n_postings,
                "build_sec": round(_time.time() - t0, 3),
            }

    # -- queries -----------------------------------------------------------

    def suggest(
        self,
        name: str,
        query: str,
        metric: Metric,
        similarity: float,
        topk: int,
    ) -> list[tuple[float, str]]:
        """Top-k ``(score, value)`` for one query — ResultItem parity
        (service.go:105-139).  Physical plan is auto-selected from the
        entry's persisted planner stats when present (indexer-job artifacts
        or refresh_stats); without stats the plain plan runs — both return
        identical rows.  A batch of one: same plan, one unpacking path."""
        return self.suggest_batch(name, [query], metric, similarity, topk)[0]

    def autocomplete(self, name: str, query: str, topk: int) -> list[str]:
        """First-k values in docID order (service.go:142-173)."""
        return self.autocomplete_batch(name, [query], topk)[0]

    # -- batched queries (one Spark job for N concurrent requests) ----------
    #
    # The per-request path above runs createDataFrame → job → collect per
    # call (~0.5-3 s on a shared driver).  These take a LIST of query
    # strings and run the identical plan ONCE over a query_id-keyed frame —
    # the suggest/autocomplete operators are batch-shaped already (their
    # queries side is a DataFrame), so a batch costs one job regardless of
    # N.  serving/coalesce.py folds concurrent HTTP requests into these.

    def suggest_batch(
        self,
        name: str,
        queries: list[str],
        metric: Metric,
        similarity: float,
        topk: int,
    ) -> list[list[tuple[float, str]]]:
        """Per-query top-k lists, aligned with ``queries`` — row-identical to
        N single :meth:`suggest` calls (same plan, same final ordering).

        Serving fast paths (both result-identical, enforced by goldens):
        a hot replica (:meth:`enable_hot_replica`) answers entirely
        in-driver; else a warm ``value_map`` lets the Spark job skip the
        per-request dictionary broadcast, and the ≤ k·|batch| result rows
        are sorted driver-side (``ordered=False`` skips the range-sampling
        job + sort exchange every request would otherwise pay)."""
        e = self._get(name)
        if e.replica is not None:
            return [e.replica.suggest(q, metric, similarity, topk) for q in queries]
        q = _query_frame(self.spark, queries)
        rows = suggest_topk_auto(
            e.index, q, metric, similarity, topk, e.config,
            dictionary=None if e.value_map is not None else e.dictionary,
            stats=e.stats, ordered=False,
        ).collect()
        rows.sort(key=lambda r: (r["query_id"], r["rank"]))
        out: list[list[tuple[float, str]]] = [[] for _ in queries]
        if e.value_map is not None:
            for r in rows:
                out[r["query_id"]].append((r["score"], e.value_map.get(r["doc_id"])))
        else:
            for r in rows:
                out[r["query_id"]].append((r["score"], r["value"]))
        return out

    def autocomplete_batch(
        self, name: str, queries: list[str], topk: int
    ) -> list[list[str]]:
        """Per-query first-k lists, aligned with ``queries``."""
        e = self._get(name)
        if e.replica is not None:
            return [e.replica.autocomplete(q, topk) for q in queries]
        q = _query_frame(self.spark, queries)
        rows = autocomplete_firstk(
            e.index, q, topk, e.config,
            dictionary=None if e.value_map is not None else e.dictionary,
            ordered=False,
        ).collect()
        rows.sort(key=lambda r: (r["query_id"], r["rank"]))
        out: list[list[str]] = [[] for _ in queries]
        if e.value_map is not None:
            for r in rows:
                out[r["query_id"]].append(e.value_map.get(r["doc_id"]))
        else:
            for r in rows:
                out[r["query_id"]].append(r["value"])
        return out
