"""Physical-plan quality assertions: the optimizations SURVEY.md §4 promises
must actually appear in the executed plans."""

import pytest
from pyspark.sql import functions as F

from suggest_spark.config import DEFAULT_CONFIG
from suggest_spark.functions.metrics import JACCARD
from suggest_spark.operators.indexing import build_ngram_index
from suggest_spark.operators.suggest import suggest_topk
from suggest_spark.operators.versioned import read_versioned_index, write_versioned_index

CARS8 = [
    "Nissan March", "Nissan Juke", "Nissan Maxima", "Nissan Murano",
    "Nissan Note", "Toyota Mark II", "Toyota Corolla", "Toyota Corona",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_partition_pruning_on_size(spark, tmp_path):
    """The LengthFilter must become Parquet partition pruning on ``size``
    (the Spark analogue of the reference's per-cardinality index segments,
    pkg/index/indices.go:3-14)."""
    d = spark.createDataFrame(list(enumerate(CARS8)), "doc_id long, value string")
    path = str(tmp_path / "index")
    write_versioned_index(build_ngram_index(d, config=DEFAULT_CONFIG), path)

    index = read_versioned_index(spark, path)
    q = spark.createDataFrame([(0, "Nissan ma")], "query_id long, query string")
    out = suggest_topk(index, q, JACCARD, 0.5, 2, DEFAULT_CONFIG)
    assert [r["doc_id"] for r in out.collect()] == [2, 0]

    plan = _plan(out)
    # dynamic partition pruning or pushed partition filters on `size`
    assert "size" in plan
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan


def test_suggest_plan_shape(spark):
    d = spark.createDataFrame(list(enumerate(CARS8)), "doc_id long, value string")
    index = build_ngram_index(d, config=DEFAULT_CONFIG)
    q = spark.createDataFrame([(0, "Nissan ma")], "query_id long, query string")
    out = suggest_topk(index, q, JACCARD, 0.5, 2, DEFAULT_CONFIG)
    out.collect()
    plan = _plan(out)
    # query side broadcast, top-k pushed into WindowGroupLimit
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_column_pruning_reaches_scan(spark, tmp_path):
    """A 2-column projection over a wide parquet table must read 2 columns."""
    path = str(tmp_path / "wide")
    spark.range(100).select(
        "id",
        F.col("id").alias("a"),
        F.col("id").alias("b"),
        F.col("id").cast("string").alias("c"),
    ).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("a") > 10).select("id", "a")
    plan = _plan(df)
    assert "ReadSchema: struct<id:bigint,a:bigint>" in plan
    assert "PushedFilters: [IsNotNull(a), GreaterThan(a,10)]" in plan
