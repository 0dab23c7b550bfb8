"""Pairwise candidate scoring: exact reference n-gram similarity in a
batched Arrow pandas UDF, plus Levenshtein / Jaro-Winkler tie-breakers.

Score parity: ``overlap`` is the ScanCount product Σ_t mult_a(t)·mult_b(t)
(each occurrence of a doc in each query-term posting list increments the
candidate — /root/reference/pkg/merger/scan_count.go:55-80), and
``sim = 1 − Distance(overlap, |A|, |B|)`` with the reference metric formulas
(pkg/metric/*.go) over MULTISET cardinalities — so a pair scored here gets
exactly the score the reference's suggest pipeline would assign.

Execution split: overlap + similarity run JVM-side in whole-stage codegen
over ALL candidates (the hot path never crosses the Python boundary);
Levenshtein (built-in) and the Arrow-batched Jaro-Winkler pandas UDF run
only on pairs that already passed the similarity threshold — batched
vectorized Python on the small survivor set, never per-row on the firehose.

Why the survivor set is rebalanced: without a shuffle of its own, the
Python stage inherits the partitioning of the pair⋈record join, which is
sized by the CANDIDATE set — dozens of tasks, each starting a Python
worker for a handful of survivors (36 tasks for 545 rows at bench scale).
``attach_tiebreakers`` puts a ``rebalance`` hint on the survivors, so AQE
sizes the UDF stage by survivor bytes: one partition when the survivors
are few, many (and skew-split) when they are many at cluster scale.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..functions.metrics import Metric


def overlap_py(terms_a: list[str], terms_b: list[str]) -> int:
    """ScanCount multiset overlap: Σ_t mult_a(t) × mult_b(t)."""
    ca, cb = Counter(terms_a), Counter(terms_b)
    if len(cb) < len(ca):
        ca, cb = cb, ca
    return sum(m * cb[t] for t, m in ca.items() if t in cb)


def jaro_winkler_py(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Standard Jaro-Winkler similarity (public formula)."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    match_window = max(l1, l2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * l1
    flags2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(l2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions
    k = 0
    transpositions = 0
    for i in range(l1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    transpositions //= 2
    jaro = (
        matches / l1 + matches / l2 + (matches - transpositions) / matches
    ) / 3.0
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def _jw_udf():
    @F.pandas_udf(DoubleType())
    def _jw(text_a: pd.Series, text_b: pd.Series) -> pd.Series:
        return pd.Series(
            [jaro_winkler_py(a or "", b or "") for a, b in zip(text_a, text_b)]
        )

    return _jw


def overlap_col() -> F.Column:
    """ScanCount multiset overlap of ``tids_a``/``tids_b`` (sorted int-id
    arrays from blocking.encode_records), JVM-side.

    Fast path: duplicate-free on both sides (the overwhelming majority) →
    multiset product == set intersection size (hash-based, O(|A|+|B|));
    exact Σ_t mult_a(t)·mult_b(t) product only when a side has duplicate
    normalized grams (delta > 0)."""
    dup_free = (F.col("delta_a") == 0) & (F.col("delta_b") == 0)
    product = F.aggregate(
        F.array_distinct("tids_a"),
        F.lit(0),
        lambda acc, t: acc
        + F.size(F.filter("tids_a", lambda x: x == t))
        * F.size(F.filter("tids_b", lambda x: x == t)),
    )
    return F.when(
        dup_free, F.size(F.array_intersect("tids_a", "tids_b"))
    ).otherwise(product)


def attach_tiebreakers(
    survivors: DataFrame,
    records: DataFrame,
    broadcast_records: bool = True,
) -> DataFrame:
    """Stage 2 — tie-breakers on SURVIVORS only (orders of magnitude fewer
    rows than candidates): JVM levenshtein + Arrow-batched Jaro-Winkler
    pandas UDF (north-rule mandate).

    ``survivors`` is rebalanced first, so the Python stage gets partitions
    sized by survivor bytes rather than the scoring join's partition count
    (see the module docstring)."""
    texts = records.select("rid", "text")

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_records else df

    ta = _side(texts).select(F.col("rid").alias("rid_a"), F.col("text").alias("text_a"))
    tb = _side(texts).select(F.col("rid").alias("rid_b"), F.col("text").alias("text_b"))
    with_text = survivors.hint("rebalance").join(ta, "rid_a").join(tb, "rid_b")
    return with_text.select(
        "rid_a",
        "rid_b",
        "overlap",
        "size_a",
        "size_b",
        "sim",
        F.levenshtein("text_a", "text_b").alias("lev"),
        _jw_udf()("text_a", "text_b").alias("jw"),
    )


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    metric: Metric,
    alpha: float,
    broadcast_records: bool = False,
    dedup_pairs: bool = False,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Score candidate pairs and keep matches with sim >= alpha.

    ``pairs``   — (rid_a, rid_b)
    ``records`` — (rid, url, text, terms, size)

    Returns (rid_a, rid_b, overlap, size_a, size_b, sim, lev, jw).

    Join strategy: the pair table is usually one to two orders of magnitude
    LARGER than the record table (every record yields many candidates), so
    when the caller KNOWS the record table is broadcastable (~100 bytes of
    int ids per record keeps multi-million-record dictionaries under
    executor memory), pass ``broadcast_records=True`` — the pair table is
    then never shuffled and the whole scoring stage is embarrassingly
    parallel.  The flag is explicit only: the default path runs NO hidden
    ``count()`` job (AQE's runtime size stats already upgrade the shuffle
    join to broadcast when the records side turns out small); default-shape
    joins shuffle on rid, and a bucketed records table makes them
    co-located.
    """

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_records else df

    if encoded is None:
        from .blocking import encode_records

        encoded = encode_records(records)

    # Stage 1 — JVM-side overlap + similarity on EVERY candidate (the hot
    # path: whole-stage codegen, no Arrow transfer of millions of term
    # arrays into Python).  Records are pre-encoded as sorted int-id arrays
    # (blocking.encode_records) — int-set intersection, minimal memory
    # traffic.
    a = _side(encoded).select(
        F.col("rid").alias("rid_a"),
        F.col("tids").alias("tids_a"),
        F.col("msize").alias("size_a"),
        F.col("delta").alias("delta_a"),
    )
    b = _side(encoded).select(
        F.col("rid").alias("rid_b"),
        F.col("tids").alias("tids_b"),
        F.col("msize").alias("size_b"),
        F.col("delta").alias("delta_b"),
    )
    enriched = pairs.join(a, "rid_a").join(b, "rid_b")

    sim = metric.similarity(F.col("overlap"), F.col("size_a"), F.col("size_b"))
    survivors = (
        enriched.withColumn("overlap", overlap_col().cast("int"))
        .withColumn("sim", sim)
        .where(F.col("sim") >= alpha)
        .select("rid_a", "rid_b", "overlap", "size_a", "size_b", "sim")
    )
    if dedup_pairs:
        # fused path (candidate_pairs(dedup=False)): duplicates from multiple
        # shared prefix grams are collapsed HERE, on the tiny survivor set
        survivors = survivors.dropDuplicates(["rid_a", "rid_b"])

    return attach_tiebreakers(survivors, records, broadcast_records=broadcast_records)
