"""Deduplication operators for large-scale text pipelines.

Four tiers, each a pure DataFrame plan (no per-row Python):

* exact          — md5 hash groupBy; keep minimum doc_id per hash.
* ngram Jaccard  — set-similarity self-join via the same T-occurrence
                   count-filter machinery as the suggest engine (J1-J4
                   semantics over a corpus self-join instead of query→index).
* MinHash + LSH  — shingle → k independent min-hashes → banded bucket join.
                   Hash family: md5(seed || '\\x1f' || shingle) hex strings;
                   the minimum hex string per seed is a uniform min-hash
                   (string order == integer order on fixed-width hex).  This
                   choice is deliberately engine-portable so the DuckDB
                   oracle reproduces signatures bit-for-bit.
* SimHash        — 32-bit sign-of-weighted-sum fingerprint from per-shingle
                   md5 bits; near-dups = small Hamming distance.

Word shingles (``shingle_words``) keep blocking keys selective on natural
text; char n-grams (analysis.ngram_terms_col) remain available for short
strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def shingle_words(text: F.Column, k: int = 5) -> F.Column:
    """Distinct word k-gram shingles of lowercased text (array<string>)."""
    words = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda w: w != "")
    n = F.size(words)
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - F.lit(k)),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
            )
        )
    )


def duckdb_shingles_sql(text_expr: str, k: int = 5) -> str:
    """DuckDB fragment mirroring :func:`shingle_words` (list_distinct order
    differs from Spark but all consumers are order-insensitive)."""
    words = f"list_filter(string_split_regex(lower(trim({text_expr})), '\\s+'), w -> w != '')"
    return (
        f"CASE WHEN len({words}) < {k} THEN [array_to_string({words}, ' ')] "
        f"ELSE list_distinct([array_to_string({words}[i:i+{k}-1], ' ') "
        f"for i in range(1, len({words}) - {k} + 2)]) END"
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id, text_hash): canonical_id = min doc_id sharing
    the same md5(text).  One hash-aggregate shuffle on the 128-bit hash —
    never on the text bytes themselves (at 100 TB the shuffle moves 16-byte
    keys, not documents)."""
    hashed = docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return hashed.withColumn("canonical_id", F.min("doc_id").over(w)).select(
        "doc_id", "canonical_id", "text_hash"
    )


# ---------------------------------------------------------------------------
# n-gram / shingle Jaccard near-dup (set semantics)
# ---------------------------------------------------------------------------


def jaccard_near_dup_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    prefix_blocked: bool = False,
    delta_max: int | None = 0,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with set-Jaccard >= threshold.

    ``prefix_blocked=False`` — the direct relational form: explode →
    self-join on shingle → per-pair overlap count → Jaccard from set sizes.
    Joins on ALL shingles: right for post-blocking verification or moderate
    corpora, wrong at web scale (hot shingles explode the join).

    ``prefix_blocked=True`` — the scale path (VERDICT r1 #5): candidates
    come from linkage.blocking's prefix filter (only each document's
    rarity-ordered prefix shingles — the ``L−T+1`` rarest — become join
    keys, so boilerplate shingles never form blocks), then exact Jaccard
    verifies on sorted int-id arrays.  Identical output to the direct form
    (asserted by tests).

    The semantics are SET-Jaccard, so duplicate shingles in the input
    column are dropped here with ``array_distinct`` (a no-op for
    :func:`shingle_words` output, which is already distinct).  That makes
    ``delta_max=0`` unconditionally sound for the prefix filter — without
    it, a caller passing un-deduped shingles would silently lose >=
    threshold pairs (multiset prefix bound violated) AND get inflated
    overlap counts on the direct path.
    """
    docs = docs.withColumn(shingles_col, F.array_distinct(F.col(shingles_col)))
    if prefix_blocked:
        from ..functions.metrics import JACCARD
        from ..linkage.blocking import candidate_pairs, encode_records

        records = docs.select(
            F.col(id_col).alias("rid"), F.col(shingles_col).alias("terms")
        )
        encoded = encode_records(records)
        pairs = candidate_pairs(
            encoded, JACCARD, threshold, dedup=True, delta_max=delta_max
        )
        a = encoded.select(
            F.col("rid").alias("id_a"),
            F.col("tids").alias("tids_a"),
            F.col("msize").alias("sz_a"),
        )
        b = encoded.select(
            F.col("rid").alias("id_b"),
            F.col("tids").alias("tids_b"),
            F.col("msize").alias("sz_b"),
        )
        enriched = (
            pairs.withColumnRenamed("rid_a", "id_a")
            .withColumnRenamed("rid_b", "id_b")
            .join(a, "id_a")
            .join(b, "id_b")
        )
        inter = F.size(F.array_intersect("tids_a", "tids_b"))
        jac = inter.cast("double") / (
            F.col("sz_a") + F.col("sz_b") - inter
        ).cast("double")
        return enriched.select("id_a", "id_b", jac.alias("jaccard")).where(
            F.col("jaccard") >= threshold
        )

    ex = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.col(shingles_col)).alias("sz"),
        F.explode(shingles_col).alias("shingle"),
    )
    a = ex.select(F.col("shingle"), F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    b = ex.select(F.col("shingle"), F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    pairs = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).cast("int").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingles: F.Column, n_hashes: int) -> F.Column:
    """array<string> of ``n_hashes`` min-hash values.

    Hash family: lane ``i`` is the 8-hex-digit (32-bit) slice ``i mod 4`` of
    ``md5(seed_{i div 4} || '\\x1f' || shingle)`` — four independent lanes
    per digest, so ``ceil(n/4)`` md5 evaluations per shingle instead of
    ``n`` (md5 dominates signature cost; its output bits are independent, so
    disjoint slices are independent uniform 32-bit hashes).  Min per lane is
    taken on the hex string: fixed-width hex order == integer order."""
    mins = []
    for seed in range((n_hashes + 3) // 4):
        digest = F.transform(
            shingles, lambda s: F.md5(F.concat(F.lit(f"{seed}\x1f"), s))
        )
        for lane in range(min(4, n_hashes - 4 * seed)):
            mins.append(
                F.array_min(
                    F.transform(digest, lambda h: F.substring(h, lane * 8 + 1, 8))
                )
            )
    return F.array(*mins)


def duckdb_minhash_sql(shingles_expr: str, n_hashes: int) -> str:
    parts = []
    for seed in range((n_hashes + 3) // 4):
        digest = f"list_transform({shingles_expr}, s -> md5('{seed}' || chr(31) || s))"
        for lane in range(min(4, n_hashes - 4 * seed)):
            lo, hi = lane * 8 + 1, lane * 8 + 8
            parts.append(
                f"list_min(list_transform({digest}, h -> h[{lo}:{hi}]))"
            )
    return "[" + ", ".join(parts) + "]"


def minhash_bands(
    docs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
) -> DataFrame:
    """``(id, bucket)`` LSH band buckets: ``n_hashes/band_size`` bands,
    bucket key = band index + concatenated min-hashes."""
    assert n_hashes % band_size == 0
    n_bands = n_hashes // band_size
    sig = docs.select(
        F.col(id_col).alias("id"), minhash_signature(F.col(shingles_col), n_hashes).alias("sig")
    )
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col("sig")[b * band_size + i] for i in range(band_size)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )


def oversized_minhash_buckets(
    docs: DataFrame,
    max_bucket_size: int,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
) -> DataFrame:
    """``(bucket, bucket_n)`` buckets exceeding the cap — the audit trail for
    ``minhash_lsh_pairs(max_bucket_size=...)`` (log/checkpoint it; a dropped
    bucket is a recall trade-off that must never be silent)."""
    bands = minhash_bands(docs, n_hashes, band_size, id_col, shingles_col)
    return (
        bands.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .where(F.col("bucket_n") > max_bucket_size)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing at least one LSH band bucket.

    The band join is an equi-join on the bucket key — skewed buckets
    (boilerplate-heavy corpora) are split by AQE; ``max_bucket_size`` adds
    the hard cap for extreme scale: a bucket of B identical-signature docs
    yields B² candidate pairs, so one boilerplate bucket of 10⁶ docs would
    emit 10¹² pairs — the cap drops such buckets entirely (near-dup recall
    within them is better served by exact dedup on the signature).  Dropped
    buckets are enumerable via :func:`oversized_minhash_buckets` — same
    deterministic signatures, never a silent loss.
    """
    bands = minhash_bands(docs, n_hashes, band_size, id_col, shingles_col)
    if max_bucket_size is not None:
        # derive the cap from THIS bands frame — recomputing the signatures
        # via oversized_minhash_buckets(docs, ...) would run the most
        # expensive stage (shingle md5 + min-hash lanes) twice
        dropped = (
            bands.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
            .where(F.col("bucket_n") > max_bucket_size)
        )
        bands = bands.join(F.broadcast(dropped.select("bucket")), "bucket", "left_anti")
    a = bands.select("bucket", F.col("id").alias("id_a"))
    b = bands.select("bucket", F.col("id").alias("id_b"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def simhash32(shingles: F.Column) -> F.Column:
    """32-bit SimHash as an int: bit i = sign of Σ_shingles (±1 per md5 bit).

    Bit i of a shingle's hash is bit (i mod 4) of hex digit (i div 4) of
    md5(shingle) — engine-portable (same definition reproducible in DuckDB).
    """
    hashed = F.transform(shingles, lambda s: F.md5(s))
    bits = []
    for i in range(32):
        digit_pos = i // 4 + 1
        bit = i % 4
        contrib = F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                (
                    F.shiftright(
                        F.instr(F.lit(_HEX), F.substring(h, digit_pos, 1)) - F.lit(1), bit
                    ).bitwiseAND(F.lit(1))
                )
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        bits.append(F.when(contrib > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def duckdb_simhash_sql(shingles_expr: str) -> str:
    hashed = f"list_transform({shingles_expr}, s -> md5(s))"
    terms = []
    for i in range(32):
        digit_pos = i // 4 + 1
        bit = i % 4
        contrib = (
            f"list_sum(list_transform({hashed}, h -> "
            f"CASE WHEN ((strpos('{_HEX}', h[{digit_pos}:{digit_pos}]) - 1) >> {bit}) & 1 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {contrib} > 0 THEN {1 << i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"
