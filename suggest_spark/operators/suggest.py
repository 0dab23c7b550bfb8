"""Fuzzy top-k suggest and autocomplete as declarative DataFrame plans.

The reference query lifecycle (pkg/suggest/suggester.go:46-131) is:
tokenize → LengthFilter size range [MinY, MaxY] → per-size-segment
T-occurrence merge (CPMerge, pkg/merger/cp_merge.go:19-120) → score
1−Distance → bounded top-k heap (pkg/suggest/topk.go:82-147) → dictionary
lookup.  Its goroutine-per-segment scheduling, dynamic threshold raising
(suggester.go:93-105) and center-out segment order (suggester.go:112-121)
are monotone *pruning* optimizations that cannot change the result set —
batch Spark computes the exact global answer with one 5-stage plan:

    query grams (exploded, duplicates kept)
      ⋈ index ON term AND size BETWEEN min_y AND max_y     -- LengthFilter ⇒
                                                           -- partition pruning
      → groupBy(query_id, doc_id, size) count AS overlap   -- _scan_count ≡ J1-J4
      → HAVING overlap >= T(alpha, size_a, size) AND T valid  -- CountFilter
      → score = 1 − Distance(overlap, size_a, size)
      → row_number OVER (PARTITION BY query_id
                         ORDER BY score DESC, doc_id ASC) <= k

Tie-break parity: the reference heap orders equal scores by *descending*
Key for eviction, which yields output sorted by score desc then doc_id asc
(pkg/suggest/collector.go:19-26, topk.go:127-147).

Scale notes (100 TB design):
* The query batch is usually ≪ index: the planner broadcasts the exploded
  query-gram side automatically under AQE; we give an explicit hint.
* ScanCount is a per-document sum.  Over an index hash-partitioned by
  doc_id (the layout the serving tier caches, service._cached_by_doc) the
  broadcast join keeps that partitioning, so the groupBy runs partial and
  final aggregation in one stage with no shuffle; WindowGroupLimit then
  cuts each partition to ≤ k rows per query, and the only shuffle is that
  k-row top-k merge on query_id.  Over an unpartitioned index the groupBy
  is a partial-aggregated hash shuffle on (query_id, doc_id).  No per-row
  Python anywhere in the plan.
* Segment-validity predicates (threshold==0 / > size_a / > size_b skip the
  whole segment, suggester.go:73-77) are applied as post-aggregation
  filters — identical semantics because they depend only on (size_a, size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, IndexConfig
from ..functions.metrics import Metric
from .indexing import doc_term_lists, term_document_frequency, with_terms  # noqa: F401
# term_document_frequency is re-exported here for API continuity — it lives
# in indexing.py (single source of truth with write_index_stats)


def _scan_count(matches: DataFrame, keys: list[str], t: Column | int) -> DataFrame:
    """ScanCount + CountFilter: ``(*keys, overlap)`` for every key group
    with ``overlap >= t`` matches.  ``t`` may read the grouping keys.

    The reference's four T-occurrence mergers — ScanCount
    (pkg/merger/scan_count.go:7-88), CPMerge (cp_merge.go:9-120), MergeSkip
    (merge_skip.go:40-151), DivideSkip (divide_skip.go:12-74) — are
    result-identical by shared goldens (pkg/merger/list_merger_test.go:42-160)
    and differ only in single-core CPU strategy.  Their distributed form is
    this one hash aggregation: Catalyst's partial aggregation plays the
    per-list counting loops, and a ``doc_id``-partitioned input makes the
    final aggregation local.  With ``t`` = the number of lists it is the
    exact k-way intersection (pkg/merger/list_intersector.go:17-81).
    """
    return (
        matches.groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("int").alias("overlap"))
        .where(F.col("overlap") >= t)
    )


def _query_grams(queries: DataFrame, config: IndexConfig, head_only: bool = False) -> DataFrame:
    """(query_id, query, size_a, term) — duplicates kept (multiset semantics)."""
    q = with_terms(queries, "query", config, head_only=head_only)
    return q.select(
        "query_id",
        "query",
        F.col("size").alias("size_a"),
        F.explode("terms").alias("term"),
    )


def suggest_topk(
    index_df: DataFrame,
    queries: DataFrame,
    metric: Metric,
    alpha: float,
    k: int,
    config: IndexConfig = DEFAULT_CONFIG,
    dictionary: DataFrame | None = None,
    broadcast_queries: bool = True,
    ordered: bool = True,
) -> DataFrame:
    """Top-k fuzzy matches for a batch of queries.

    Parameters
    ----------
    index_df : ``(doc_id, size, term)`` from :func:`build_ngram_index`.
    queries : ``(query_id, query)``.
    dictionary : optional ``(doc_id, value)`` to attach matched values
        (the lookup join of pkg/suggest/service.go:126-138).
    ordered : skip the final global sort when False — rank is already
        per-query unique, so a caller that sorts the collected ≤ k·|queries|
        rows itself (the serving path) saves the range-partitioner sampling
        job + sort exchange every request pays otherwise.

    Returns ``(query_id, query, doc_id, score, rank[, value])`` ordered by
    (query_id, rank) when ``ordered``.
    """
    # the query STRING never enters the hot path: the join output and the
    # hash-agg key are all-int (query_id, size_a, doc_id, size) — at web
    # scale the candidate stream is 10^2-10^3 rows per (query, doc) gram
    # match, and carrying a string through it roughly doubles shuffle and
    # hash-table bytes.  The text is re-attached to the tiny top-k result.
    grams = _query_grams(queries, config).drop("query")
    if broadcast_queries:
        grams = F.broadcast(grams)

    min_b = metric.min_y(alpha, F.col("size_a"))
    max_b = metric.max_y(alpha, F.col("size_a"))

    joined = grams.join(
        index_df,
        on=[grams["term"] == index_df["term"], index_df["size"].between(min_b, max_b)],
        how="inner",
    ).select("query_id", "size_a", "doc_id", "size")

    t = metric.threshold(alpha, F.col("size_a"), F.col("size"))
    candidates = _scan_count(joined, ["query_id", "size_a", "doc_id", "size"], t).where(
        # segment validity (suggester.go:73-77)
        (t >= 1) & (t <= F.col("size_a")) & (t <= F.col("size"))
    )

    scored = candidates.select(
        "query_id",
        "doc_id",
        metric.similarity(F.col("overlap"), F.col("size_a"), F.col("size")).alias("score"),
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .join(F.broadcast(queries.select("query_id", "query")), "query_id")
    )

    if dictionary is not None:
        topk = topk.join(F.broadcast(dictionary), "doc_id", "left")

    out = topk.select(
        "query_id", "query", *[c for c in topk.columns if c not in ("query_id", "query")]
    )
    return out.orderBy("query_id", "rank") if ordered else out


def select_suggest_plan(
    num_docs: int,
    num_postings: int,
    max_df: int,
    min_postings: int = 100_000_000,
    skew_ratio: float = 0.6,
) -> str:
    """Choose ``"plain"`` (:func:`suggest_topk`) or ``"prefix"``
    (:func:`suggest_topk_prefix`) from persisted index statistics.

    Deterministic, stats-only, no Spark — unit-testable and auditable.  The
    two plans return identical rows (proven by tests + the shared oracle);
    this picks the cheaper physical strategy:

    * ``plain`` streams every (query-gram × posting) match into one hash
      aggregation — measured 2.6× faster than prefix at 2.4M postings
      (236k-entry dictionary, suggest_topk_prefix docstring) because the
      match stream fits comfortably in memory and skips the verify shuffle.
    * ``prefix`` probes only each query's rarest grams and verifies exact
      overlap on the candidate set — it wins when the unfiltered match
      stream is the bottleneck: very large posting counts
      (``num_postings >= min_postings``, default 10^8 ≈ multi-GB match
      stream per 1k-query batch) or hot-gram skew
      (``max_df / num_docs >= skew_ratio``: a gram hitting that fraction of
      the corpus makes every query containing it stream ``ratio·num_docs``
      pre-aggregation rows through the plain join, while the prefix path
      never probes hot grams at all — same rare-first rationale as
      linkage/blocking.py).

    The ``skew_ratio=0.6`` default is MEASURED, not argued
    (bench_calibrate_suggest.py grid, bench_out/CALIBRATION_suggest.json;
    round-5 run 2026-08-18 local[32] extends the grid to 32M postings): at
    max_df/num_docs ≈ 0.25 the plain plan still wins ~2× at every measured
    scale, while at ≈ 0.6 the prefix plan wins 2.42× at 8M postings and
    2.28× at 32M.  The 2M/0.6 cell is BORDERLINE (prefix 1.01× in the
    round-4 run, 0.79× in round 5 — host jitter straddles the line), so
    firing the skew rule from 10^6 postings costs at most ~20% in that one
    borderline decade and pays 2×+ everywhere above it.
    ``min_postings=10^8`` stays the cluster-scale threshold, and the
    round-5 XL row turns its extrapolation into a measured TREND: at zero
    skew the prefix plan's per-posting cost falls 1.55 → 0.32 µs from 8M →
    32M postings (its verify shuffle amortizes) while plain holds at
    0.18-0.29 µs, shrinking plain's lead from 5.4× to 1.8× per 4× scale
    step — the curves CONVERGE, with the implied no-skew crossover in the
    10^8-10^9 range.  Recalibrate on the target cluster before lowering it.
    The skew rule only fires above 10^6 postings (below that even a
    fully-skewed stream is trivially small; measured: at 0.5M postings and
    0.6 skew, prefix still loses 2×).
    """
    if num_postings >= min_postings:
        return "prefix"
    if num_docs > 0 and num_postings >= 1_000_000 and max_df / num_docs >= skew_ratio:
        return "prefix"
    return "plain"


def suggest_topk_auto(
    index_df: DataFrame,
    queries: DataFrame,
    metric: Metric,
    alpha: float,
    k: int,
    config: IndexConfig = DEFAULT_CONFIG,
    dictionary: DataFrame | None = None,
    stats=None,
    min_postings: int = 100_000_000,
    skew_ratio: float = 0.6,
    ordered: bool = True,
) -> DataFrame:
    """Top-k suggest with automatic physical-plan selection.

    ``stats`` is an :class:`~suggest_spark.operators.indexing.IndexStats`
    from ``read_index_stats`` (persisted at index-build time by
    ``write_index_stats``).  With stats supplied, plan CONSTRUCTION runs
    zero Spark jobs on either branch: the selector reads three scalars from
    ``stats.json`` and the prefix branch gets its ``term_df`` / ``doc_terms``
    / ``delta_max`` from the persisted artifacts instead of plan-time
    aggregates.  Without stats the plain path is used unconditionally (the
    safe default at unknown scale — and the only job-free option, since the
    prefix path would have to derive its artifacts).
    """
    if stats is None:
        return suggest_topk(
            index_df, queries, metric, alpha, k, config, dictionary, ordered=ordered
        )
    plan = select_suggest_plan(
        stats.num_docs, stats.num_postings, stats.max_df, min_postings, skew_ratio
    )
    if plan == "prefix":
        return suggest_topk_prefix(
            index_df,
            queries,
            metric,
            alpha,
            k,
            config,
            dictionary,
            term_df=stats.term_df,
            doc_terms=stats.doc_terms,
            delta_max=stats.delta_max,
            ordered=ordered,
        )
    return suggest_topk(
        index_df, queries, metric, alpha, k, config, dictionary, ordered=ordered
    )


def suggest_topk_prefix(
    index_df: DataFrame,
    queries: DataFrame,
    metric: Metric,
    alpha: float,
    k: int,
    config: IndexConfig = DEFAULT_CONFIG,
    dictionary: DataFrame | None = None,
    term_df: DataFrame | None = None,
    doc_terms: DataFrame | None = None,
    delta_max: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Exact top-k suggest via the distributed CPMerge prefix filter.

    Identical results to :func:`suggest_topk` (asserted by tests), but the
    candidate join probes only each query's RAREST ``L − T_min + 1`` grams
    (reference O3, pkg/merger/cp_merge.go:21-32: only the N−T+1 shortest
    posting lists can introduce a candidate), where
    ``T_min = Threshold(alpha, L, MinY(alpha, L))`` — the minimum count
    threshold over the admissible candidate-size range (T is non-decreasing
    in the candidate size for every reference metric, so the bound at MinY
    is sound for the whole range).  Soundness of the prefix: if B shares
    >= T_min grams with A, then by pigeonhole B shares at least one gram of
    ANY (L − T_min + 1)-subset of A's grams — we pick the globally rarest
    subset, so hot-gram posting lists never enter the candidate join (the
    same df-rarity trick the blocking stage uses against skew).

    Both sides are MULTISETS (normalization can re-create duplicate grams
    after the raw-gram dedup — analysis.py chain order), so the bound and
    the verify both use the multiset machinery of linkage/blocking.py:

    * prefix slack: keep occurrence rank p iff
      ``tailmass(p) + kappa_A * delta_max >= T_min``, where ``kappa_A`` is
      A's max gram multiplicity (bounded by 1 + duplicate excess) and
      ``delta_max`` the corpus-wide max duplicate excess (0 on duplicate-
      free data → classic prefix);
    * verify: overlap = Σ_t mult_A(t)·mult_B(t), the exact ScanCount
      product of the groupBy-count in the unfiltered plan (dup-free fast
      path = plain ``array_intersect`` size).

    ``doc_terms``: ``(doc_id, size, terms)`` as produced by
    ``indexing.with_terms`` over the dictionary — derived from the index by
    a one-off groupBy when not supplied (suboptimal; pass it).
    ``delta_max``: pass the precomputed corpus constant to keep the driver
    action out of the hot path.

    WHEN TO USE: the prefix path trades the full gram-match scan for a
    probe join + a candidate-verify shuffle against ``doc_terms``.  It wins
    when the match stream dwarfs the candidate set — very large corpora,
    skew-heavy gram distributions, or memory-bound clusters where the
    unfiltered stream cannot materialize.  Measured on a 236k-entry
    dictionary (1000 queries, local[32]) it does NOT yet win — plain
    18.3s vs prefix 48.3s at Cosine α=0.5, 11.2s vs 14.3s at α=0.8 —
    because the verify shuffle costs more than the stream it saves at this
    scale; both paths return identical rows (tests + 1000-query sweep).
    """
    if term_df is None:
        term_df = term_document_frequency(index_df)
    if doc_terms is None:
        doc_terms = doc_term_lists(index_df)

    q = with_terms(queries, "query", config).select(
        "query_id", F.col("size").alias("size_a"), F.col("terms").alias("qterms")
    )

    if delta_max is None:
        row = doc_terms.agg(
            F.max(F.size("terms") - F.size(F.array_distinct("terms"))).alias("d")
        ).first()
        delta_max = int(row["d"] or 0)

    # probe set: rarest occurrence ranks with tailmass + kappa*delta_max
    # slack (absent-from-index grams have df 0 = rarest; they occupy
    # prefix slots, which the pigeonhole requires — they are A's grams)
    b_min = F.greatest(metric.min_y(alpha, F.col("size_a")), F.lit(1))
    t_min = F.greatest(metric.threshold(alpha, F.col("size_a"), b_min), F.lit(1))
    kappa_a = F.lit(1) + (F.col("size_a") - F.size(F.array_distinct("qterms")))
    exploded = q.select(
        "query_id",
        "size_a",
        t_min.alias("t_min"),
        kappa_a.alias("kappa_a"),
        F.explode("qterms").alias("term"),
    ).join(F.broadcast(term_df), "term", "left").fillna({"df": 0})
    w = Window.partitionBy("query_id").orderBy(F.asc("df"), F.asc("term"))
    probes = (
        exploded.withColumn("pos", F.row_number().over(w))
        .where(
            F.col("size_a") - F.col("pos") + 1 + F.col("kappa_a") * F.lit(delta_max)
            >= F.col("t_min")
        )
        .select("query_id", "size_a", "term")
        .dropDuplicates(["query_id", "term"])
    )

    # candidate pairs from prefix probes only (distinct — multiple probe
    # hits introduce the same candidate once)
    min_b = metric.min_y(alpha, F.col("size_a"))
    max_b = metric.max_y(alpha, F.col("size_a"))
    cands = (
        F.broadcast(probes)
        .join(
            index_df,
            on=[probes["term"] == index_df["term"], index_df["size"].between(min_b, max_b)],
            how="inner",
        )
        .select("query_id", "size_a", "doc_id", "size")
        .dropDuplicates(["query_id", "doc_id"])
    )

    # verify: exact ScanCount multiset product on candidates only
    enriched = cands.join(F.broadcast(q.select("query_id", "qterms")), "query_id").join(
        doc_terms.select("doc_id", F.col("terms").alias("dterms")), "doc_id"
    )
    dup_free = (F.col("size_a") == F.size(F.array_distinct("qterms"))) & (
        F.col("size") == F.size(F.array_distinct("dterms"))
    )
    product = F.aggregate(
        F.array_distinct("qterms"),
        F.lit(0),
        lambda acc, t: acc
        + F.size(F.filter("qterms", lambda x: x == t))
        * F.size(F.filter("dterms", lambda x: x == t)),
    )
    overlap = F.when(
        dup_free, F.size(F.array_intersect("qterms", "dterms"))
    ).otherwise(product)
    t = metric.threshold(alpha, F.col("size_a"), F.col("size"))
    scored = (
        enriched.withColumn("overlap", overlap)
        .withColumn("t", t)
        .where(
            (F.col("t") >= 1)
            & (F.col("t") <= F.col("size_a"))
            & (F.col("t") <= F.col("size"))
            & (F.col("overlap") >= F.col("t"))
        )
        .select(
            "query_id",
            "doc_id",
            metric.similarity(F.col("overlap"), F.col("size_a"), F.col("size")).alias("score"),
        )
    )

    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .join(F.broadcast(queries.select("query_id", "query")), "query_id")
    )
    if dictionary is not None:
        topk = topk.join(F.broadcast(dictionary), "doc_id", "left")
    out = topk.select(
        "query_id", "query", *[c for c in topk.columns if c not in ("query_id", "query")]
    )
    return out.orderBy("query_id", "rank") if ordered else out


def autocomplete_firstk(
    index_df: DataFrame,
    queries: DataFrame,
    k: int,
    config: IndexConfig = DEFAULT_CONFIG,
    dictionary: DataFrame | None = None,
    ordered: bool = True,
) -> DataFrame:
    """First-k autocomplete: documents containing EVERY query gram, the k
    smallest doc ids per query (reference: pkg/suggest/autocomplete.go:40-77 —
    threshold = |query grams|, segments size >= |grams|; the firstK collector
    with score = −doc_id, pkg/suggest/collector.go:96-115, makes the global
    result exactly the k smallest matching doc ids in ascending order).

    Query grams use the head-only wrap (pkg/suggest/tokenizer.go:22-34).
    """
    # all-int hot path, query text re-attached post-top-k (see suggest_topk)
    grams = F.broadcast(_query_grams(queries, config, head_only=True).drop("query"))

    joined = grams.join(
        index_df,
        on=[grams["term"] == index_df["term"], index_df["size"] >= grams["size_a"]],
        how="inner",
    ).select("query_id", "size_a", "doc_id")

    matched = _scan_count(joined, ["query_id", "size_a", "doc_id"], F.col("size_a"))

    w = Window.partitionBy("query_id").orderBy(F.asc("doc_id"))
    topk = matched.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    out = topk.join(F.broadcast(queries.select("query_id", "query")), "query_id").select(
        "query_id", "query", "doc_id", "rank"
    )

    if dictionary is not None:
        out = out.join(F.broadcast(dictionary), "doc_id", "left")

    return out.orderBy("query_id", "rank") if ordered else out
