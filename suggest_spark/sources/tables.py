"""Warehouse table access: Iceberg when available, Parquet otherwise.

The north-rule deployment target is an Iceberg table of web pages.  Iceberg
support in Spark is a runtime jar (``iceberg-spark-runtime``) plus catalog
configuration — not a code change: every operator in this engine consumes
plain DataFrames, so the only Iceberg-specific surface is (a) catalog conf,
(b) ``spark.table``/``writeTo`` instead of path-based parquet IO.  This
container ships no Iceberg jar, so the helpers degrade to Parquet with the
same call shape; on a real cluster pass ``iceberg=True`` and a catalog name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CONF = {
    # documented cluster configuration (requires iceberg-spark-runtime jar):
    "spark.sql.extensions": "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "spark.sql.catalog.warehouse": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.warehouse.type": "hadoop",
}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, location: str, iceberg: bool | None = None) -> DataFrame:
    """Read the pages table from an Iceberg table name or a parquet path."""
    if iceberg is None:
        iceberg = "/" not in location and iceberg_available(spark)
    if iceberg:
        return spark.table(location)
    return spark.read.parquet(location)


def write_pages(df: DataFrame, location: str, iceberg: bool | None = None) -> None:
    """Write pages partitioned for scan locality: by lang (low cardinality,
    prunable) — at petabyte scale add a bucket transform on url for
    co-located joins (Iceberg ``bucket(N, url)``)."""
    if iceberg is None:
        iceberg = False
    if iceberg:
        df.writeTo(location).partitionedBy(df.lang).createOrReplace()
    else:
        df.write.mode("overwrite").partitionBy("lang").parquet(location)


def merge_upsert(spark: SparkSession, table: str, updates: DataFrame, key: str = "url") -> None:
    """Snapshot-isolated upsert into an Iceberg table via ``MERGE INTO``.

    This is the transactional form of every in-place maintenance path in the
    engine (index upsert, page re-crawl): matched keys
    are updated, new keys inserted, and concurrent readers keep the previous
    snapshot — no localCheckpoint pin, no versioned-path swap needed
    (operators/versioned.py is the Parquet-only substitute).  Requires the
    Iceberg extensions (``ICEBERG_CONF``); plain Parquet tables do not parse
    MERGE, which is exactly why the Parquet paths use dynamic-partition
    overwrite + manifest swap instead.
    """
    import re
    import uuid

    # the table name is the one identifier backticks cannot fully launder
    # (it is dotted: catalog.namespace...table, and Iceberg REST catalogs
    # nest namespaces arbitrarily deep); validate each part instead of
    # interpolating an arbitrary string into SQL.  Parts needing backtick
    # quoting (hyphens etc.) are rejected — pass them pre-quoted is NOT
    # supported, by design (a quoted part could smuggle SQL).
    if not re.fullmatch(r"[A-Za-z_][\w]*(\.[A-Za-z_][\w]*)*", table):
        raise ValueError(f"unsafe table identifier: {table!r}")

    def _q(c: str) -> str:  # backtick-quote a column identifier
        if "`" in c:
            raise ValueError(f"unsafe column identifier: {c!r}")
        return f"`{c}`"

    # per-call view name: concurrent callers on one session must not clobber
    # each other's source frame mid-merge
    view = f"_merge_updates_{uuid.uuid4().hex}"
    updates.createOrReplaceTempView(view)
    try:
        cols = updates.columns
        sets = ", ".join(f"t.{_q(c)} = s.{_q(c)}" for c in cols if c != key)
        # a key-only updates frame has nothing to update — MATCHED rows are
        # already present; emitting an empty SET would be a ParseException
        matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else ""
        spark.sql(
            f"MERGE INTO {table} t USING {view} s ON t.{_q(key)} = s.{_q(key)} "
            f"{matched}"
            f"WHEN NOT MATCHED THEN INSERT ({', '.join(_q(c) for c in cols)}) "
            f"VALUES ({', '.join('s.' + _q(c) for c in cols)})"
        )
    finally:
        spark.catalog.dropTempView(view)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on the join
    key.  Two tables bucketed the same way join WITHOUT a shuffle — each
    task reads matching buckets from both sides (SortMergeJoin with zero
    Exchange; the sort is also pre-done when ``sort=True``).  This is the
    at-rest co-location strategy for the 100 TB regime: the records table
    and every per-stage derivative (pairs, matches) bucket on ``rid``, so
    the pipeline's joins never re-shuffle the big side.

    Spark bucketing requires the session catalog (``saveAsTable``), not
    path-based parquet — configure ``spark.sql.warehouse.dir``.  On
    Iceberg the equivalent is a ``bucket(N, col)`` partition transform.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def bucketed_join_is_shuffle_free(spark: SparkSession, left: str, right: str, on: str) -> bool:
    """True when joining the two bucketed tables plans NO shuffle exchange
    on either side — the plan-level proof of co-location (used by tests;
    call it on a sample in production to validate a layout assumption).
    Broadcast joins trivially avoid shuffles, so broadcasting is disabled
    around the probe: the question is whether the SORT-MERGE join — the
    only strategy available when both sides are 100 TB-class — can run on
    the at-rest layout alone."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            spark.table(left)
            .join(spark.table(right), on)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    return "Exchange hashpartitioning" not in plan and "SortMergeJoin" in plan
