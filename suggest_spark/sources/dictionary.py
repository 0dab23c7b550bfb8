"""Dictionary sources (reference: pkg/dictionary).

* Line-file scan (S1): newline-delimited dictionary; docID = line number
  (pkg/dictionary/helpers.go:25-48 + cmd/suggest/cmd/indexer.go:156-190
  assign dense uint32 keys in line order).  Spark has no stable "line
  number" primitive across splits, so the deterministic id is derived by a
  two-pass scheme: per-file, per-split offsets via zipWithIndex on a
  single-pass text read — reproducible for a fixed input file.
* Parquet store (S2): the CDB (constant DB) of the reference maps to a
  ``(doc_id, value)`` parquet table — random access becomes predicate
  pushdown on doc_id.  It has one on-disk layout, the ``doc_id``-bucketed
  versioned table of operators/versioned.py
  (``write_versioned_bucketed_table`` / ``read_versioned_bucketed_table``).
* In-memory (S3): ``from_list``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_line_dictionary(spark: SparkSession, path: str) -> DataFrame:
    """``(doc_id, value)`` with doc_id = 0-based line number in file order.

    Uses RDD ``zipWithIndex`` (a documented exception to the DataFrame-only
    rule: line order is a property of the file byte stream, which only the
    RDD API exposes deterministically).
    """
    rdd = spark.sparkContext.textFile(path).zipWithIndex()
    return spark.createDataFrame(
        rdd.map(lambda t: (t[1], t[0])), "doc_id long, value string"
    )


def from_list(spark: SparkSession, values: list[str]) -> DataFrame:
    """S3: in-memory dictionary (pkg/dictionary/memory_dictionary.go:9-38)."""
    return spark.createDataFrame(
        list(enumerate(values)), "doc_id long, value string"
    )
