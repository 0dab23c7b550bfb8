"""Prefix-filtered n-gram signature blocking, multiset-exact.

Distributed generalization of the reference's CPMerge prefix idea
(/root/reference/pkg/merger/cp_merge.go:19-120: only the ``N−T+1`` shortest
posting lists can introduce a candidate).  In self-join form this is the
prefix filter; our match predicate, however, is the REFERENCE's similarity,
whose overlap is the multiset product Σ_t mult_a(t)·mult_b(t)
(pkg/merger/scan_count.go:55-80 counts one increment per occurrence per
list), so the classic set-based prefix/positional bounds are NOT sound as-is.
This module uses multiplicity-aware bounds that are exact for the product
overlap and degrade gracefully to the classic bounds when every multiplicity
is 1 (the common case):

* A pair can match only if overlap_m >= R_a := min_y(alpha, msize_a)
  (valid for every reference metric given its own length filter,
  pkg/metric/*.go:12-22).
* Duplicate excess is bounded ADDITIVELY: with Δ_b = msize_b − set_size_b
  (B's total excess multiplicity) and κ_a = A's max multiplicity,
  Σ_s m_a(s)·m_b(s) = Σ_s m_a(s) + Σ_s m_a(s)(m_b(s)−1)
                    <= mass_a(S) + κ_a·Δ_b           for any gram set S.
* Prefix: if every shared gram of A lies strictly after A's prefix,
  overlap_m <= tailafter_a + κ_a·Δ_max ⇒ keep rarity rank p iff
  tail_mass(p) + κ_a·Δ_max >= R_a — the classic prefix plus at most Δ_max
  extra tokens (Δ_max is a tiny corpus constant, 0 for duplicate-free data).
* Positional filter (PPJoin, Xiao et al. WWW'08, multiset form): a shared
  prefix gram at ranks (p_a, p_b) bounds
  overlap_m <= min(tmass_a + κ_a·Δ_b, tmass_b + κ_b·Δ_a);
  the pair survives only if some shared prefix gram's bound reaches the
  pairwise threshold T(alpha, msize_a, msize_b).

Skew strategy (SURVEY.md §4, north-rule mandate): rare-first prefix ordering
keeps hot shingles out of blocking keys unless a record consists almost
entirely of hot grams; AQE skew-join splitting (session default) handles the
residual self-join skew; an optional hard df cap drops super-hot keys
entirely (logged, never silent — recall trade-off documented at call site).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.metrics import Metric


def gram_document_frequency(records: DataFrame) -> DataFrame:
    """Global document frequency per distinct gram (one partial-aggregated
    shuffle; the result is tiny relative to the corpus and is broadcast)."""
    return (
        records.select(F.explode(F.array_distinct("terms")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


#: hash-id packing: tid = min(df, 2^22−1) << 41 | top 41 bits of xxhash64
_HASH_ID_DF_BITS = 22
_HASH_ID_HASH_BITS = 63 - _HASH_ID_DF_BITS  # keep tid positive


def term_id_table(
    records: DataFrame,
    term_df: DataFrame | None = None,
    hash_ids: bool = False,
) -> DataFrame:
    """``(term, tid, df)``: int ids whose numeric order is a rarity-first
    total order (rarer grams sort first).

    ``hash_ids=False`` — dense ids via a single global ranking window
    (df asc, term asc).  Right whenever the term space is bounded: character
    n-grams are ≤ |alphabet|^n ≈ tens of thousands of rows, so the one-
    partition window and the broadcast are safe at ANY corpus scale.

    ``hash_ids=True`` — the UNBOUNDED-term-space path (word shingles over a
    web corpus: billions of distinct shingles): tid packs the df-capped
    rarity class into the high bits and 41 bits of xxhash64(term) into the
    low bits — computed per-row with NO window, NO single-partition stage,
    NO driver involvement.  Prefix-filter soundness needs only a FIXED total
    order shared by both join sides (keep the first ``L−T+1`` array entries
    in that order), which any deterministic packing provides; rarity-first
    packing keeps the performance property that hot shingles stay out of
    prefixes.  Caveat: tids must stay injective per distinct term for the
    EXACT overlap count in scoring — a 41-bit-within-df-class collision is
    detectable with :func:`assert_injective_tids` (one aggregate job) before
    trusting a new corpus; candidate-stage collisions alone would only add
    false candidates, which exact verification removes.
    """
    if term_df is None:
        term_df = gram_document_frequency(records)
    if hash_ids:
        capped = F.least(F.col("df"), F.lit((1 << _HASH_ID_DF_BITS) - 1))
        h = F.shiftrightunsigned(F.xxhash64("term"), 64 - _HASH_ID_HASH_BITS)
        tid = F.shiftleft(capped, _HASH_ID_HASH_BITS).bitwiseOR(h)
        return term_df.select("term", tid.cast("long").alias("tid"), "df")
    w = Window.orderBy(F.asc("df"), F.asc("term"))
    return term_df.withColumn("tid", F.row_number().over(w).cast("long")).select(
        "term", "tid", "df"
    )


def assert_injective_tids(term_table: DataFrame) -> None:
    """Raise if two distinct terms share a tid (hash-id collision) — run
    once per new corpus before relying on hash ids for exact scoring."""
    row = term_table.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("tid").alias("d"),
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"tid collision: {row['n']} terms -> {row['d']} distinct ids; "
            "use dense ids (hash_ids=False) or rehash with a salt"
        )


def encode_records(
    records: DataFrame,
    term_table: DataFrame | None = None,
    df_cap: int | None = None,
    hash_ids: bool = False,
    broadcast_terms: bool = True,
) -> DataFrame:
    """``(rid, msize, delta, kappa, tids)``: each record's gram multiset as a
    SORTED int array in rarity-first order.  Sorted ids make the prefix a
    plain slice, pair-join keys fixed-width ints, and overlap an int-set
    intersection — a fraction of the memory traffic of string arrays.

    ``hash_ids``/``broadcast_terms``: for unbounded term spaces (word
    shingles at web scale) pass ``hash_ids=True`` (windowless id assignment,
    see :func:`term_id_table`) and ``broadcast_terms=False`` (the term table
    no longer fits an executor; the encode join shuffles on ``term`` and AQE
    handles the skewed hot-shingle keys)."""
    if term_table is None:
        term_table = term_id_table(records, hash_ids=hash_ids)
    if df_cap is not None:
        term_table = term_table.where(F.col("df") <= df_cap)
    ex = records.select(
        "rid", F.size("terms").alias("msize"), F.explode("terms").alias("term")
    )
    tt = term_table.select("term", "tid")
    if broadcast_terms:
        tt = F.broadcast(tt)
    enc = (
        ex.join(tt, "term", "inner")
        .groupBy("rid", "msize")
        .agg(F.array_sort(F.collect_list("tid")).alias("tids"))
    )
    delta = F.col("msize") - F.size(F.array_distinct("tids"))
    return enc.withColumn("delta", delta.cast("int")).withColumn(
        "kappa", F.col("delta") + F.lit(1)
    )


def prefix_keys(
    encoded: DataFrame,
    metric: Metric,
    alpha: float,
    delta_max: int | None = None,
) -> DataFrame:
    """``(tid, rid, msize, kappa, delta, tmass)`` blocking keys from encoded
    records (see :func:`encode_records`).

    ``tmass`` is the multiset mass of the record's rarity-ordered suffix
    starting at (and including) this gram; ``kappa``/``delta`` the record's
    max multiplicity (bound) and duplicate excess.  Rank p is kept iff
    tmass(p) + κ_rec·Δ_max >= min_y(alpha, msize).

    ONE shuffle total upstream (inside encode_records); the prefix cut here
    is pure array math — sorted ids make first-occurrence detection and
    suffix mass a slice-and-compare, no window functions, no extra shuffle.
    """
    if delta_max is None:
        row = encoded.agg(F.max("delta").alias("d")).first()
        delta_max = int(row["d"] or 0)

    n = F.size("tids")
    r_min = metric.min_y(alpha, F.col("msize"))
    entries = F.transform(
        "tids",
        lambda t, i: F.struct(
            t.alias("tid"),
            (n - i).cast("int").alias("tmass"),
            ((i == F.lit(0)) | (t != F.get("tids", i - 1))).alias("is_first"),
        ),
    )
    kept = F.filter(
        entries,
        lambda e: e["is_first"]
        & (e["tmass"] + F.col("kappa") * F.lit(delta_max) >= r_min),
    )

    return encoded.select(
        "rid", "msize", "kappa", "delta", F.explode(kept).alias("e")
    ).select(
        F.col("e")["tid"].alias("tid"),
        "rid",
        "msize",
        "kappa",
        "delta",
        F.col("e")["tmass"].alias("tmass"),
    )


def oversized_blocks(keys: DataFrame, max_block_size: int) -> DataFrame:
    """``(tid, block_n)`` blocking keys whose block exceeds the cap — the
    df-cap's audit trail (callers log/checkpoint it; dropping is never
    silent)."""
    return (
        keys.groupBy("tid")
        .agg(F.count(F.lit(1)).alias("block_n"))
        .where(F.col("block_n") > max_block_size)
    )


def candidate_pairs(
    records: DataFrame,
    metric: Metric,
    alpha: float,
    df_cap: int | None = None,
    max_block_size: int | None = None,
    dedup: bool = True,
    broadcast_keys: bool = False,
    delta_max: int | None = None,
) -> DataFrame:
    """Candidate ``(rid_a, rid_b)`` (rid_a < rid_b) surviving the length
    filter (reference LengthFilter, pkg/suggest/suggester.go:53-59, on
    multiset cardinalities) and the multiset positional filter.

    ``dedup=False`` skips the pair-dedup shuffle and emits one row per
    qualifying shared prefix gram (bounded by the prefix length, ~2× on
    average): the FUSED blocking→scoring path then stays entirely map-side —
    scoring filters first, and only the tiny survivor set is deduped
    (score_pairs(dedup_pairs=True)).  This removes the single largest
    shuffle of the pipeline; use dedup=True when the pair list itself is the
    product (e.g. checkpointed as a stage).

    ``broadcast_keys=True`` broadcasts the build side of the self-join when
    the caller KNOWS the prefix-key table is small (≲5M keys), eliminating
    the join shuffle as well.  It is an explicit flag only — no hidden
    ``count()`` job probes the size on the default path (AQE already
    converts the shuffle join to broadcast at runtime when the built side
    turns out small, so auto-detection would buy nothing but an extra job).

    ``delta_max`` — the corpus duplicate-excess constant (see
    :func:`prefix_keys`); pass the value computed once at encode time to
    keep the default path free of driver actions at plan-construction.

    Oversized blocks dropped by ``max_block_size`` are recomputable via
    :func:`oversized_blocks` (same inputs) for logging — never a hidden
    side-channel.

    ``records`` may be raw (with a ``terms`` column — encoded internally) or
    pre-encoded via :func:`encode_records` (share the encoding with
    score_pairs to avoid doing it twice)."""
    if "tids" not in records.columns:
        records = encode_records(records, df_cap=df_cap)
    keys = prefix_keys(records, metric, alpha, delta_max=delta_max)

    if max_block_size is not None:
        dropped = oversized_blocks(keys, max_block_size)
        keys = keys.join(F.broadcast(dropped.select("tid")), "tid", "left_anti")

    a = keys.select(
        F.col("tid"),
        F.col("rid").alias("rid_a"),
        F.col("msize").alias("size_a"),
        F.col("kappa").alias("kappa_a"),
        F.col("delta").alias("delta_a"),
        F.col("tmass").alias("tmass_a"),
    )
    b = keys.select(
        F.col("tid"),
        F.col("rid").alias("rid_b"),
        F.col("msize").alias("size_b"),
        F.col("kappa").alias("kappa_b"),
        F.col("delta").alias("delta_b"),
        F.col("tmass").alias("tmass_b"),
    )

    ub = F.least(
        F.col("tmass_a") + F.col("kappa_a") * F.col("delta_b"),
        F.col("tmass_b") + F.col("kappa_b") * F.col("delta_a"),
    )
    t = metric.threshold(alpha, F.col("size_a"), F.col("size_b"))

    if broadcast_keys:
        b = F.broadcast(b)
        # the probe side is the only parallel dimension of the fused map
        # stage; AQE coalesces the upstream (tiny) key shuffle to a handful
        # of partitions, which would idle most cores — spread it back out
        sc = records.sparkSession.sparkContext
        a = a.repartition(sc.defaultParallelism * 2)

    # all predicates BEFORE any shuffle: length filter + positional filter
    # run map-side on the join output (a pair survives if ANY shared prefix
    # gram leaves enough headroom — exists-semantics, so row-level filter +
    # later dedup ≡ group-level max(ub) >= T, at a fraction of the bytes)
    joined = a.join(b, "tid", "inner").where(
        (F.col("rid_a") < F.col("rid_b"))
        & F.col("size_b").between(
            metric.min_y(alpha, F.col("size_a")), metric.max_y(alpha, F.col("size_a"))
        )
        & (ub >= t)
    )
    pairs = joined.select("rid_a", "rid_b")
    return pairs.dropDuplicates(["rid_a", "rid_b"]) if dedup else pairs
