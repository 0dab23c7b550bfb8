"""Length-segmented character n-gram inverted index as a DataFrame.

The reference groups documents by n-gram-set cardinality and keeps one
inverted index per cardinality (reference: pkg/index/indices.go:3-14,
pkg/index/indexer_writer.go:66-86).  The Spark-native equivalent is a single
relation ``(size int, term string, doc_id long)`` physically partitioned by
``size``: the per-segment loop of the reference becomes Catalyst partition
pruning on a ``size BETWEEN min_y AND max_y`` predicate (the LengthFilter),
and posting lists are just the exploded relational form grouped by term.
On disk the index has one layout, written and read only through
operators/versioned.py.

Duplicate normalized terms for one document are KEPT (the reference appends
the doc id once per term occurrence, indexer_writer.go:80-84), so overlap
counts downstream reproduce ScanCount semantics exactly
(pkg/merger/scan_count.go:7-88).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, IndexConfig
from ..functions.analysis import ngram_terms_col


def with_terms(
    df: DataFrame,
    text_col: str = "value",
    config: IndexConfig = DEFAULT_CONFIG,
    head_only: bool = False,
) -> DataFrame:
    """Add ``terms array<string>`` and ``size int`` columns for ``text_col``."""
    return df.withColumn("terms", ngram_terms_col(F.col(text_col), config, head_only)).withColumn(
        "size", F.size("terms")
    )


def build_ngram_index(
    dictionary: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "value",
    config: IndexConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """``(doc_id, size, term)`` index rows from a ``(doc_id, value)`` dictionary.

    One narrow projection + explode; the single shuffle in any consumer comes
    from its own join/agg, not from the build.
    """
    return (
        with_terms(dictionary, text_col, config)
        .select(F.col(id_col).alias("doc_id"), "size", F.explode("terms").alias("term"))
    )


@dataclass
class IndexStats:
    """Index-build-time artifacts the query planner needs at plan time.

    The scalars come from ``stats.json`` (no Spark job to load) and the two
    DataFrames are lazy parquet reads — so constructing ANY suggest plan from
    an ``IndexStats``, including the prefix-filtered one, runs zero driver
    jobs (the round-2 criterion for ``suggest_topk_prefix``'s plan-time
    ``delta_max`` aggregate, suggest.py).  Analogue of the reference's
    indexer artifacts that ship WITH the index to the service boot
    (cmd/suggest/cmd/indexer.go:35-137 writes dictionary+index together).
    """

    num_docs: int
    num_postings: int
    distinct_terms: int
    max_df: int
    delta_max: int
    term_df: DataFrame
    doc_terms: DataFrame


def term_document_frequency(index_df: DataFrame) -> DataFrame:
    """``(term, df)`` global document frequency over the index — the rarity
    table behind the CPMerge prefix probe order and skew detection.  Single
    source of truth: persisted by :func:`write_index_stats`, used as the
    plan-time fallback by ``suggest.suggest_topk_prefix`` (re-exported from
    ``operators.suggest``)."""
    return index_df.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def doc_term_lists(index_df: DataFrame) -> DataFrame:
    """``(doc_id, size, terms)`` per-document multiset gram lists — the
    prefix path's verify side; persisted by :func:`write_index_stats`."""
    return index_df.groupBy("doc_id", "size").agg(F.collect_list("term").alias("terms"))


def invalidate_index_stats(spark, stats_path: str) -> None:
    """Remove the stats pointer file so no loader re-arms statistics that
    predate an index mutation (the artifact dirs stay readable for in-flight
    queries; the next :func:`write_index_stats` GCs them).  Call BEFORE
    mutating the index: a crash between the index write and the stats
    rewrite must leave MISSING stats (plain plan, always correct), never
    stale ones armed against the new index.  Single source of the freshness
    contract — the service layer and the indexer job both call this."""
    from ..sources import fsutil

    fsutil.delete(spark, f"{stats_path}/stats.json", recursive=False)


def write_index_stats(
    spark, index_df: DataFrame, path: str, min_age_sec: float = 0.0
) -> dict:
    """Compute and persist the planner statistics for an index at ``path``:

    * ``{path}/term_df`` — ``(term, df)`` global document frequency (the
      rarity table: drives the CPMerge prefix probe order and skew
      detection);
    * ``{path}/doc_terms`` — ``(doc_id, size, terms)`` per-document multiset
      gram lists (the prefix path's verify side);
    * ``{path}/stats.json`` — scalar summary: ``num_docs num_postings
      distinct_terms max_df delta_max`` (``delta_max`` = corpus-wide max
      duplicate-gram excess, the prefix-slack constant).

    Run ONCE per index (re)build, next to ``write_versioned_index`` — two
    aggregate jobs + two columnar writes over data the build already
    shuffled; afterwards every query batch plans against the persisted
    artifacts job-free.  Written through Spark so the artifacts land on
    whatever filesystem holds the index (hdfs/s3a/file).

    Snapshot isolation: each write lands in a fresh immutable ``v=N``
    subdirectory and ``stats.json`` is re-pointed at it — a refresh never
    rewrites files a concurrent reader's lazy DataFrames resolve to (same
    build-then-swap rule as operators/versioned.py).  The previous version
    dir is kept as the grace window; older ones are deleted.

    FRESHNESS is the caller's contract: stats describe one index snapshot,
    and the prefix suggest plan VERIFIES against ``doc_terms`` — stale stats
    mean wrong scores, not just a bad plan choice.  Any index mutation must
    invalidate ``{path}/stats.json`` before touching the index (the service
    layer does) and re-run this afterwards.
    """
    from ..sources import fsutil

    versions = sorted(
        int(n.split("=", 1)[1])
        for n in fsutil.list_names(spark, path)
        if n.startswith("v=")
    )
    v = (versions[-1] + 1) if versions else 1
    vdir = f"{path}/v={v}"

    term_df = term_document_frequency(index_df)
    doc_terms = doc_term_lists(index_df)
    term_df.write.mode("errorifexists").parquet(f"{vdir}/term_df")
    doc_terms.write.mode("errorifexists").parquet(f"{vdir}/doc_terms")

    d = spark.read.parquet(f"{vdir}/doc_terms").agg(
        F.count(F.lit(1)).alias("num_docs"),
        F.sum("size").alias("num_postings"),
        F.max(F.size("terms") - F.size(F.array_distinct("terms"))).alias("delta_max"),
    ).first()
    t = spark.read.parquet(f"{vdir}/term_df").agg(
        F.count(F.lit(1)).alias("distinct_terms"), F.max("df").alias("max_df")
    ).first()
    stats = {
        "num_docs": int(d["num_docs"] or 0),
        "num_postings": int(d["num_postings"] or 0),
        "distinct_terms": int(t["distinct_terms"] or 0),
        "max_df": int(t["max_df"] or 0),
        "delta_max": int(d["delta_max"] or 0),
    }
    # atomic publish: a cross-process reader racing this refresh sees the
    # old stats, the new stats, or (briefly, HDFS replace) none — never a
    # torn file that would make read_index_stats raise instead of fall back
    fsutil.publish_text_atomic(
        spark, f"{path}/stats.json", json.dumps({**stats, "v": v}, sort_keys=True),
        overwrite=True,
    )
    # grace GC: current + previous stay readable, older versions go — with
    # the same TIME floor the index GC has (gc_versions min_age_sec): two
    # quick refreshes must not delete artifact dirs an in-flight prefix-plan
    # query is still scanning.  Age is measured from when a version was
    # SUPERSEDED (its successor's creation time), never from its own
    # creation: a version that served for an hour is not "old" the moment a
    # refresh replaces it.  The serving layer passes its gc_min_age_sec;
    # fresh builds with no possible readers use the 0 default.
    import time as _time

    now = _time.time()
    for i, old in enumerate(versions[:-1]):
        if min_age_sec > 0:
            superseded_at = fsutil.mtime(spark, f"{path}/v={versions[i + 1]}")
            if (now - superseded_at) < min_age_sec:
                continue
        fsutil.delete(spark, f"{path}/v={old}")
    return stats


def read_index_stats(spark, path: str) -> IndexStats:
    """Load persisted planner stats — scalars from ``stats.json`` (no job),
    DataFrames as lazy parquet reads of the version dir the json points at."""
    from ..sources import fsutil

    scalars = json.loads(fsutil.read_text(spark, f"{path}/stats.json"))
    v = scalars.pop("v", None)
    vdir = f"{path}/v={v}" if v is not None else path
    return IndexStats(
        term_df=spark.read.parquet(f"{vdir}/term_df"),
        doc_terms=spark.read.parquet(f"{vdir}/doc_terms"),
        **scalars,
    )

