"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship fuzzy top-k suggest query at sf0.001.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2 +
training-data ops); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Every computed column is aliased identically on both sides; doubles produced
by non-order-deterministic aggregation are rounded inside the query on both
sides; doubles produced by order-deterministic folds are bit-identical by
construction (explicit left folds + casts mirrored in the SQL).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from suggest_spark.config import DEFAULT_CONFIG
from suggest_spark.functions import text as T
from suggest_spark.functions.analysis import duckdb_terms_sql
from suggest_spark.functions.metrics import COSINE, DICE, EXACT, JACCARD, OVERLAP, Metric
from suggest_spark.operators import ann, dedup
from suggest_spark.operators import lm as lm_ops
from suggest_spark.operators.indexing import build_ngram_index, with_terms
from suggest_spark.operators.suggest import autocomplete_firstk, suggest_topk

CFG = DEFAULT_CONFIG

# fixed query literals (misspellings of part-name vocabulary)
SUGGEST_LITERALS = [
    (0, "smal ring"),
    (1, "red widgt"),
    (2, "blu bolt"),
    (3, "hot gaer"),
    (4, "small gizmmo"),
    (5, "zzzz qqqq"),
]
AUTOCOMPLETE_LITERALS = [(0, "small"), (1, "red w"), (2, "blue")]
EXACT_LITERALS = [(0, "small ring"), (1, "red widget"), (2, "no such part")]
LM_SENTENCES = [
    (0, "small ring"),
    (1, "red widget blue bolt"),
    (2, "the data table"),
    (3, "zz qq unknown words"),
    (4, ""),
]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _part_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("doc_id"), F.col("p_name").alias("value")
    )


def _literals_df(spark: SparkSession, literals) -> DataFrame:
    return spark.createDataFrame(literals, "query_id long, query string")


def _values_sql(literals) -> str:
    rows = ", ".join(f"({i}, '{q}')" for i, q in literals)
    return f"(VALUES {rows}) AS _q(query_id, query)"


# ---------------------------------------------------------------------------
# suggest-engine queries
# ---------------------------------------------------------------------------


def q_suggest(metric: Metric, alpha: float, k: int, literals=SUGGEST_LITERALS):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        dictionary = _part_dictionary(spark, sf_dir)
        index = build_ngram_index(dictionary, config=CFG)
        out = suggest_topk(index, _literals_df(spark, literals), metric, alpha, k, CFG)
        return out.select(
            "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
        )

    return run


def q_suggest_prefix(metric: Metric, alpha: float, k: int, literals=SUGGEST_LITERALS):
    """Same query through the prefix-filtered path (suggest_topk_prefix) —
    oracle SQL is shared with the plain path because the results are
    row-identical by construction (exactness proven in tests; this entry
    lets the driver's value-hash gate verify it independently)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from suggest_spark.operators.suggest import (
            suggest_topk_prefix,
            term_document_frequency,
        )

        dictionary = _part_dictionary(spark, sf_dir)
        index = build_ngram_index(dictionary, config=CFG)
        # production shape: the df table / per-doc terms / duplicate-excess
        # constant are computed ONCE at index-build time and handed to every
        # query — the query path itself then runs no extra jobs
        doc_terms = with_terms(dictionary, "value", CFG).select(
            "doc_id", "size", "terms"
        )
        term_df = term_document_frequency(index)
        delta_max = int(
            doc_terms.agg(
                F.max(F.size("terms") - F.size(F.array_distinct("terms"))).alias("d")
            ).first()["d"]
            or 0
        )
        out = suggest_topk_prefix(
            index,
            _literals_df(spark, literals),
            metric,
            alpha,
            k,
            CFG,
            term_df=term_df,
            doc_terms=doc_terms,
            delta_max=delta_max,
        )
        return out.select(
            "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
        )

    return run


def q_suggest_auto(metric: Metric, alpha: float, k: int, literals=SUGGEST_LITERALS):
    """Same query through the auto-selected path (suggest_topk_auto): the
    full production shape — persist the index + planner stats
    (write_index_stats), reload them (read_index_stats), and let the
    stats-driven selector pick the physical plan.  ``min_postings=1``
    forces the PREFIX branch so the gate exercises the persisted
    term_df/doc_terms/delta_max artifacts end-to-end; the oracle SQL is
    shared with the plain path because both plans are row-identical."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from suggest_spark.operators.indexing import read_index_stats, write_index_stats
        from suggest_spark.operators.suggest import suggest_topk_auto
        from suggest_spark.operators.versioned import (
            read_versioned_index,
            write_versioned_index,
        )

        dictionary = _part_dictionary(spark, sf_dir)
        base = tempfile.mkdtemp(prefix="suggest_auto_gate_")
        index = build_ngram_index(dictionary, config=CFG)
        write_versioned_index(index, f"{base}/index")
        write_index_stats(spark, index, f"{base}/stats")
        out = suggest_topk_auto(
            read_versioned_index(spark, f"{base}/index"),
            _literals_df(spark, literals),
            metric,
            alpha,
            k,
            CFG,
            stats=read_index_stats(spark, f"{base}/stats"),
            min_postings=1,
        )
        return out.select(
            "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
        )

    return run


def sql_suggest(metric: Metric, alpha: float, k: int, literals=SUGGEST_LITERALS) -> str:
    terms_v = duckdb_terms_sql("value", CFG)
    terms_q = duckdb_terms_sql("query", CFG)
    min_b = metric.min_y_sql(alpha, "q.size_a")
    max_b = metric.max_y_sql(alpha, "q.size_a")
    thr = metric.threshold_sql(alpha, "size_a", "size")
    sim = metric.similarity_sql("overlap", "size_a", "size")
    return f"""
WITH dict AS (SELECT p_partkey AS doc_id, p_name AS value FROM part),
toks AS (SELECT doc_id, unnest({terms_v}) AS term FROM dict),
sized AS (SELECT doc_id, count(*) AS size FROM toks GROUP BY doc_id),
queries AS (SELECT query_id, query FROM {_values_sql(literals)}),
qtoks AS (SELECT query_id, unnest({terms_q}) AS term FROM queries),
qsized AS (SELECT query_id, count(*) AS size_a FROM qtoks GROUP BY query_id),
joined AS (
  SELECT q.query_id, q.size_a, t.doc_id, s.size, count(*) AS overlap
  FROM (SELECT qt.query_id, qs.size_a, qt.term
        FROM qtoks qt JOIN qsized qs USING (query_id)) q
  JOIN toks t ON t.term = q.term
  JOIN sized s ON s.doc_id = t.doc_id
  WHERE s.size BETWEEN {min_b} AND {max_b}
  GROUP BY 1, 2, 3, 4
),
cand AS (SELECT query_id, doc_id, size_a, size, overlap, {thr} AS t FROM joined),
scored AS (
  SELECT query_id, doc_id, {sim} AS score
  FROM cand WHERE t >= 1 AND t <= size_a AND t <= size AND overlap >= t
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def q_autocomplete(k: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        dictionary = _part_dictionary(spark, sf_dir)
        index = build_ngram_index(dictionary, config=CFG)
        return autocomplete_firstk(index, _literals_df(spark, AUTOCOMPLETE_LITERALS), k, CFG)

    return run


def sql_autocomplete(k: int) -> str:
    terms_v = duckdb_terms_sql("value", CFG)
    # head-only wrap: emulate by wrapping with '' tail
    from suggest_spark.config import IndexConfig

    head_cfg = IndexConfig(
        ngram_size=CFG.ngram_size, pad=CFG.pad, wrap=(CFG.wrap[0], ""), alphabet=CFG.alphabet
    )
    terms_q = duckdb_terms_sql("query", head_cfg)
    return f"""
WITH dict AS (SELECT p_partkey AS doc_id, p_name AS value FROM part),
toks AS (SELECT doc_id, unnest({terms_v}) AS term FROM dict),
sized AS (SELECT doc_id, count(*) AS size FROM toks GROUP BY doc_id),
queries AS (SELECT query_id, query FROM {_values_sql(AUTOCOMPLETE_LITERALS)}),
qtoks AS (SELECT query_id, query, unnest({terms_q}) AS term FROM queries),
qsized AS (SELECT query_id, count(*) AS size_a FROM qtoks GROUP BY query_id),
matched AS (
  SELECT q.query_id, q.query, t.doc_id
  FROM (SELECT qt.query_id, qt.query, qs.size_a, qt.term
        FROM qtoks qt JOIN qsized qs USING (query_id)) q
  JOIN toks t ON t.term = q.term
  JOIN sized s ON s.doc_id = t.doc_id AND s.size >= q.size_a
  GROUP BY q.query_id, q.query, q.size_a, t.doc_id
  HAVING count(*) >= q.size_a
),
ranked AS (
  SELECT query_id, query, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY doc_id ASC) AS rank
  FROM matched
)
SELECT query_id, query, doc_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= {k}
"""


def q_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    dictionary = _part_dictionary(spark, sf_dir).where(F.col("doc_id") < 200)
    return build_ngram_index(dictionary, config=CFG).select("doc_id", "size", "term")


SQL_INDEX_BUILD = f"""
WITH dict AS (SELECT p_partkey AS doc_id, p_name AS value FROM part WHERE p_partkey < 200),
toks AS (SELECT doc_id, unnest({duckdb_terms_sql('value', CFG)}) AS term FROM dict),
sized AS (SELECT doc_id, count(*) AS size FROM toks GROUP BY doc_id)
SELECT t.doc_id, CAST(s.size AS INT) AS size, t.term
FROM toks t JOIN sized s USING (doc_id)
"""

_UPSERT_NEW = [(10, "upserted omega widget"), (100000, "brand new zeta gizmo")]
_UPSERT_DELETED = [20]


def q_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental disc-index maintenance under the value-hash gate: build
    the doc_id<200 index on disk, upsert (replace doc 10, add a new doc,
    delete doc 20) through the versioned copy-on-write path, and return the
    FINAL ON-DISK index — the oracle rebuilds the post-upsert
    dictionary from scratch, so any stale or lost row hash-mismatches."""
    import tempfile

    from suggest_spark.operators.versioned import (
        read_versioned_index,
        upsert_versioned_index,
        write_versioned_index,
    )

    dictionary = _part_dictionary(spark, sf_dir).where(F.col("doc_id") < 200)
    path = tempfile.mkdtemp(prefix="upsert_gate_") + "/idx"
    write_versioned_index(build_ngram_index(dictionary, config=CFG), path)
    new_docs = spark.createDataFrame(_UPSERT_NEW, "doc_id long, value string")
    deleted = spark.createDataFrame([(i,) for i in _UPSERT_DELETED], "doc_id long")
    upsert_versioned_index(spark, path, new_docs, CFG, deleted_ids=deleted)
    return read_versioned_index(spark, path).select(
        "doc_id", F.col("size").cast("int").alias("size"), "term"
    )


_upsert_values = ", ".join(f"({i}, '{v}')" for i, v in _UPSERT_NEW)
_upsert_gone = ", ".join(str(i) for i in [i for i, _ in _UPSERT_NEW] + _UPSERT_DELETED)
SQL_INDEX_UPSERT = f"""
WITH dict AS (
  SELECT p_partkey AS doc_id, p_name AS value FROM part
  WHERE p_partkey < 200 AND p_partkey NOT IN ({_upsert_gone})
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), value
  FROM (VALUES {_upsert_values}) AS t(doc_id, value)
),
toks AS (SELECT doc_id, unnest({duckdb_terms_sql('value', CFG)}) AS term FROM dict),
sized AS (SELECT doc_id, count(*) AS size FROM toks GROUP BY doc_id)
SELECT t.doc_id, CAST(s.size AS INT) AS size, t.term
FROM toks t JOIN sized s USING (doc_id)
"""


def q_dict_bucketed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed copy-on-write dictionary maintenance under the value-hash
    gate (round-4: operators/versioned.py bucketed tables — the dictionary
    analogue of the index upsert's partition-granular rewrite): write the
    doc_id<200 dictionary key-bucketed, upsert (replace doc 10, add a new
    doc, delete doc 20) touching only the affected buckets, and return the
    FINAL ON-DISK table — the oracle rebuilds the post-upsert dictionary
    from scratch, so a stale bucket or a lost row hash-mismatches."""
    import tempfile

    from suggest_spark.operators.versioned import (
        read_versioned_bucketed_table,
        upsert_versioned_bucketed_table,
        write_versioned_bucketed_table,
    )

    dictionary = _part_dictionary(spark, sf_dir).where(F.col("doc_id") < 200)
    base = tempfile.mkdtemp(prefix="dict_gate_") + "/dict"
    write_versioned_bucketed_table(dictionary, base, n_buckets=16)
    new_docs = spark.createDataFrame(_UPSERT_NEW, "doc_id long, value string")
    deleted = spark.createDataFrame([(i,) for i in _UPSERT_DELETED], "doc_id long")
    upsert_versioned_bucketed_table(spark, base, new_docs, deleted_keys=deleted)
    return read_versioned_bucketed_table(spark, base).select("doc_id", "value")


SQL_DICT_BUCKETED_UPSERT = f"""
SELECT p_partkey AS doc_id, p_name AS value FROM part
WHERE p_partkey < 200 AND p_partkey NOT IN ({_upsert_gone})
UNION ALL
SELECT CAST(doc_id AS BIGINT), value
FROM (VALUES {_upsert_values}) AS t(doc_id, value)
"""

_REBUCKET_NEW = [(30, "rebucketed omega gear"), (100001, "post rebucket gadget")]
_REBUCKET_DELETED = [40]


def q_dict_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table re-layout under the value-hash gate (round-5:
    operators/versioned.py::rebucket_versioned_bucketed_table — grow a
    pinned n_buckets in one atomic manifest swap): build the doc_id<200
    dictionary at 16 buckets, trickle-upsert it, RE-BUCKET 16 → 64, then
    upsert AGAIN at the new count, and return the final on-disk table.  The
    oracle rebuilds the twice-upserted dictionary from scratch, so a row
    lost/duplicated by the re-layout, or a post-rebucket upsert landing in
    a wrong bucket, hash-mismatches."""
    import tempfile

    from suggest_spark.operators.versioned import (
        read_versioned_bucketed_table,
        rebucket_versioned_bucketed_table,
        upsert_versioned_bucketed_table,
        write_versioned_bucketed_table,
    )

    dictionary = _part_dictionary(spark, sf_dir).where(F.col("doc_id") < 200)
    base = tempfile.mkdtemp(prefix="dict_rebucket_gate_") + "/dict"
    write_versioned_bucketed_table(dictionary, base, n_buckets=16)
    upsert_versioned_bucketed_table(
        spark,
        base,
        spark.createDataFrame(_UPSERT_NEW, "doc_id long, value string"),
        deleted_keys=spark.createDataFrame(
            [(i,) for i in _UPSERT_DELETED], "doc_id long"
        ),
    )
    stats = rebucket_versioned_bucketed_table(spark, base, 64)
    assert stats["rebucketed"] and stats["n_buckets"] == 64
    upsert_versioned_bucketed_table(
        spark,
        base,
        spark.createDataFrame(_REBUCKET_NEW, "doc_id long, value string"),
        deleted_keys=spark.createDataFrame(
            [(i,) for i in _REBUCKET_DELETED], "doc_id long"
        ),
    )
    return read_versioned_bucketed_table(spark, base).select("doc_id", "value")


_rebucket_values = ", ".join(f"({i}, '{v}')" for i, v in _REBUCKET_NEW)
_rebucket_gone = ", ".join(
    str(i)
    for i in [i for i, _ in _UPSERT_NEW]
    + _UPSERT_DELETED
    + [i for i, _ in _REBUCKET_NEW]
    + _REBUCKET_DELETED
)
SQL_DICT_REBUCKET = f"""
SELECT p_partkey AS doc_id, p_name AS value FROM part
WHERE p_partkey < 200 AND p_partkey NOT IN ({_rebucket_gone})
UNION ALL
SELECT CAST(doc_id AS BIGINT), value
FROM (VALUES {_upsert_values}) AS t(doc_id, value)
UNION ALL
SELECT CAST(doc_id AS BIGINT), value
FROM (VALUES {_rebucket_values}) AS t(doc_id, value)
"""


def q_selfjoin_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity self-join (near-dup part names): the blocking+scoring
    semantics as one pure-SQL-expressible plan (T-occurrence count filter
    over a corpus self-join)."""
    dictionary = _part_dictionary(spark, sf_dir).where(F.col("doc_id") < 500)
    toks = with_terms(dictionary, "value", CFG).select(
        "doc_id", "size", F.explode("terms").alias("term")
    )
    a = toks.select(
        F.col("term"), F.col("doc_id").alias("id_a"), F.col("size").alias("size_a")
    )
    b = toks.select(
        F.col("term"), F.col("doc_id").alias("id_b"), F.col("size").alias("size_b")
    )
    pairs = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).cast("int").alias("overlap"))
    )
    sim = JACCARD.similarity(F.col("overlap"), F.col("size_a"), F.col("size_b"))
    return (
        pairs.select("id_a", "id_b", F.round(sim, 6).alias("jaccard"))
        .where(F.col("jaccard") >= 0.6)
    )


SQL_SELFJOIN_JACCARD = f"""
WITH dict AS (SELECT p_partkey AS doc_id, p_name AS value FROM part WHERE p_partkey < 500),
toks0 AS (SELECT doc_id, unnest({duckdb_terms_sql('value', CFG)}) AS term FROM dict),
sized AS (SELECT doc_id, count(*) AS size FROM toks0 GROUP BY doc_id),
toks AS (SELECT t.doc_id, s.size, t.term FROM toks0 t JOIN sized s USING (doc_id)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.size AS size_a, b.size AS size_b,
         count(*) AS overlap
  FROM toks a JOIN toks b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round({JACCARD.similarity_sql('overlap', 'size_a', 'size_b')}, 6) AS jaccard
FROM pairs
WHERE round({JACCARD.similarity_sql('overlap', 'size_a', 'size_b')}, 6) >= 0.6
"""


# ---------------------------------------------------------------------------
# dedup family (documents corpus, deterministically augmented with copies)
# ---------------------------------------------------------------------------


def _docs_with_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (doc_id+100000) of every 10th doc."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


_SQL_DOCS_WITH_COPIES = """
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)"""


def _docs_with_near_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies (doc_id+100000) of every 7th doc, with the
    last word dropped (lowercased normalized text both branches)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != "")
    base = docs.select("doc_id", F.array_join(words, " ").alias("text"))
    near = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(words, 1, F.size(words) - 1), " ").alias("text"),
    )
    return base.unionByName(near)


_SQL_WORDS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> w != '')"
_SQL_DOCS_WITH_NEAR_COPIES = f"""
docs AS (
  SELECT doc_id, array_to_string({_SQL_WORDS}, ' ') AS text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(({_SQL_WORDS})[1:len({_SQL_WORDS}) - 1], ' ') AS text
  FROM documents WHERE doc_id % 7 = 0
)"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_docs_with_copies(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH {_SQL_DOCS_WITH_COPIES},
hashed AS (SELECT doc_id, md5(text) AS text_hash FROM docs)
SELECT doc_id, min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id, text_hash
FROM hashed
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_near_copies(spark, sf_dir).withColumn(
        "shingles", dedup.shingle_words(F.col("text"), 5)
    )
    return dedup.minhash_lsh_pairs(docs, n_hashes=8, band_size=2)


SQL_DEDUP_MINHASH = f"""
WITH {_SQL_DOCS_WITH_NEAR_COPIES},
sh AS (SELECT doc_id, {dedup.duckdb_shingles_sql('text', 5)} AS shingles FROM docs),
sig AS (SELECT doc_id, {dedup.duckdb_minhash_sql('shingles', 8)} AS sig FROM sh),
bands AS (
  SELECT doc_id, unnest([CAST(b AS VARCHAR) || '|' || sig[2*b+1] || '|' || sig[2*b+2]
                         for b in range(0, 4)]) AS bucket
  FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_with_near_copies(spark, sf_dir).withColumn(
        "shingles", dedup.shingle_words(F.col("text"), 5)
    )
    out = dedup.jaccard_near_dup_pairs(docs, 0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_DEDUP_JACCARD = f"""
WITH {_SQL_DOCS_WITH_NEAR_COPIES},
sh AS (SELECT doc_id, {dedup.duckdb_shingles_sql('text', 5)} AS shingles FROM docs),
ex AS (SELECT doc_id AS id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE) >= 0.5
"""


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as dedup_jaccard_shingles through the PREFIX-BLOCKED
    scale path (linkage prefix filter fronts the shingle join) — identical
    rows by construction, independently verified by the driver's value-hash
    gate against the same oracle SQL."""
    docs = _docs_with_near_copies(spark, sf_dir).withColumn(
        "shingles", dedup.shingle_words(F.col("text"), 5)
    )
    out = dedup.jaccard_near_dup_pairs(docs, 0.5, prefix_blocked=True)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _read(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "text")
        .withColumn("shingles", dedup.shingle_words(F.col("text"), 3))
    )
    return docs.select("doc_id", dedup.simhash32(F.col("shingles")).alias("simhash"))


SQL_DEDUP_SIMHASH = f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
sh AS (SELECT doc_id, {dedup.duckdb_shingles_sql('text', 3)} AS shingles FROM docs)
SELECT doc_id, {dedup.duckdb_simhash_sql('shingles')} AS simhash FROM sh
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup tier: vectors ∪ perturbed near-copies
    (vec_id+100000, element i shifted by 0.05·((i mod 3)−1)) of every 5th
    vector; banded sign-LSH blocking + exact cosine verify at 0.9."""
    emb = _embeddings(spark, sf_dir)
    near = emb.where(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.lit(0.05) * ((i % 3) - 1).cast("double"),
        ).alias("embedding"),
    )
    out = ann.cosine_near_dup_pairs(
        emb.unionByName(near), 0.9, n_bands=4, n_planes=4, dim=64, seed=42
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def sql_dedup_embedding() -> str:
    perturbed = (
        "list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) "
        "+ CAST(0.05 AS DOUBLE) * CAST(((j - 1) % 3) - 1 AS DOUBLE))"
    )
    bands = []
    for band in range(4):
        planes = ann.make_sign_planes(4, 64, seed=42 + 1000 * band)
        bands.append(
            f"SELECT id, v, n, '{band}|' || {ann.duckdb_sign_bucket_sql('v', planes)} AS bucket FROM vecs"
        )
    banded = " UNION ALL ".join(bands)
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, {perturbed} AS embedding
  FROM embeddings WHERE vec_id % 5 = 0
),
vecs AS (SELECT vec_id AS id, embedding AS v, {_SQL_NORM.format(a='embedding')} AS n FROM base),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.id < b.id
),
verified AS (
  SELECT c.id_a, c.id_b,
         {_SQL_DOT.format(a='va.v', b='vb.v')} / (va.n * vb.n) AS cosine
  FROM cand c
  JOIN vecs va ON va.id = c.id_a
  JOIN vecs vb ON vb.id = c.id_b
)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM verified WHERE cosine >= CAST(0.9 AS DOUBLE)
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    out = ann.cosine_topk(queries, emb, 5)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(acc, v) -> acc + v)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)


def _sql_cosine(a: str, b: str) -> str:
    return (
        _SQL_DOT.format(a=a, b=b)
        + " / ("
        + _SQL_NORM.format(a=a)
        + " * "
        + _SQL_NORM.format(a=b)
        + ")"
    )


SQL_ANN_COSINE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
scored AS (
  SELECT q.query_id, c.nid, {_sql_cosine('q.qv', 'c.nv')} AS cos
  FROM q JOIN c ON q.query_id != c.nid
),
ranked AS (
  SELECT query_id, nid, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT query_id, nid AS neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    out = ann.signlsh_topk(queries, emb, 5, n_planes=4, dim=64, seed=42)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def sql_ann_signlsh() -> str:
    planes = ann.make_sign_planes(4, 64, seed=42)
    bucket_q = ann.duckdb_sign_bucket_sql("qv", planes)
    bucket_c = ann.duckdb_sign_bucket_sql("nv", planes)
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
qb AS (SELECT query_id, qv, {bucket_q} AS bucket FROM q),
cb AS (SELECT nid, nv, {bucket_c} AS bucket FROM c),
scored AS (
  SELECT qb.query_id, cb.nid, {_sql_cosine('qb.qv', 'cb.nv')} AS cos
  FROM qb JOIN cb USING (bucket) WHERE qb.query_id != cb.nid
),
ranked AS (
  SELECT query_id, nid, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT query_id, nid AS neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    out = ann.ivf_topk(queries, emb, 5, n_centroids=8, n_probe=2, dim=64, seed=42)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def q_ann_ivf_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME ivf query answered from the at-rest cell-partitioned layout
    (write_ivf + partition-pruned probe) — shares ann_ivf's oracle because
    the physical path must not change the answer."""
    import tempfile

    emb = _embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    cents = ann.make_ivf_centroids(8, 64, seed=42)
    path = tempfile.mkdtemp(prefix="ivf_gate_") + "/ivf"
    ann.write_ivf(emb, path, cents)
    out = ann.ivf_probe_topk(spark, path, queries, 5, cents, n_probe=2)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def sql_ann_ivf() -> str:
    cs = ann.make_ivf_centroids(8, 64, seed=42)

    def lit_list(c):
        return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in c) + "]"

    def dots(expr):
        return "[" + ", ".join(_SQL_DOT.format(a=expr, b=lit_list(c)) for c in cs) + "]"

    dv = dots("v")
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c AS (
  SELECT vec_id AS nid, v AS nv, {_SQL_NORM.format(a='v')} AS nn,
         list_position({dv}, list_max({dv})) AS cell
  FROM emb
),
qbase AS (
  SELECT vec_id AS qid, v AS qv, {_SQL_NORM.format(a='v')} AS qn,
         list_sort(list_transform(range(1, 9),
                   i -> {{'nd': -(({dv})[i]), 'i': i}})) AS ranked
  FROM emb WHERE vec_id < 20
),
q1 AS (SELECT qid, qv, qn, unnest(ranked[1:2]) AS pr FROM qbase),
q AS (SELECT qid, qv, qn, pr.i AS cell FROM q1),
scored AS (
  SELECT q.qid, c.nid, {_SQL_DOT.format(a='q.qv', b='c.nv')} / (q.qn * c.nn) AS cos
  FROM q JOIN c USING (cell) WHERE q.qid != c.nid
),
ranked2 AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
  FROM scored
)
SELECT qid AS query_id, nid AS neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked2 WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.predicted_lang(F.col("text")).alias("pred_lang"))


SQL_LANG_ID = f"""
SELECT doc_id, {T.duckdb_predicted_lang_sql('text')} AS pred_lang FROM documents
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    feats = T.quality_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    feats = T.repetition_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


SQL_TEXT_REPETITION = (
    "SELECT doc_id, "
    + ", ".join(f"{e} AS {n}" for n, e in T.duckdb_repetition_sql("text").items())
    + " FROM documents"
)

#: literal PII appended to every document so the redaction path fires on
#: every row even though the synthetic corpus itself is clean
_PII_SUFFIX = " contact bob.smith+tag@example.co.uk via https://ex.io/p?q=1 or +1 (555) 123-4567"


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(_PII_SUFFIX))
    )
    counts = T.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        F.md5(T.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


def _sql_pii() -> str:
    text = f"text || '{_PII_SUFFIX}'"
    p = T.duckdb_pii_sql(text)
    cols = ", ".join(f"{e} AS {n}" for n, e in p.items() if n != "redacted")
    return f"SELECT doc_id, {cols}, md5({p['redacted']}) AS redacted_md5 FROM documents"


def _curation_cfg():
    from suggest_spark.operators.curation import CurationConfig

    # thresholds tuned so every funnel stage fires on the sf documents table
    return CurationConfig(
        langs=("en",),
        min_words=8,
        max_words=60,
        min_alpha_ratio=0.55,
        max_digit_ratio=0.2,
        min_stopword_ratio=0.05,
        max_dup_bigram_ratio=0.06,
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from suggest_spark.operators.curation import curate_documents

    docs = _read(spark, sf_dir, "documents")
    return curate_documents(docs, _curation_cfg())


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from suggest_spark.operators.curation import curation_funnel

    docs = _read(spark, sf_dir, "documents")
    return curation_funnel(docs, _curation_cfg())


def _sql_curation_final() -> str:
    cfg = _curation_cfg()
    qf = T.duckdb_quality_sql("text")
    tk = T.duckdb_token_counts_sql("text")
    rp = T.duckdb_repetition_sql("text")
    langs = ", ".join(f"'{lang}'" for lang in cfg.langs)
    return f"""
WITH ann AS (
  SELECT doc_id,
         {T.duckdb_predicted_lang_sql('text')} AS lang,
         {qf['n_chars']} AS n_chars, {qf['n_words']} AS n_words,
         {qf['mean_word_len']} AS mean_word_len, {qf['alpha_ratio']} AS alpha_ratio,
         {qf['digit_ratio']} AS digit_ratio, {qf['stopword_ratio']} AS stopword_ratio,
         {tk['re_tokens']} AS re_tokens,
         {rp['dup_line_ratio']} AS dup_line_ratio,
         {rp['dup_word_ratio']} AS dup_word_ratio,
         {rp['dup_bigram_ratio']} AS dup_bigram_ratio,
         md5(text) AS content_key
  FROM documents
),
flagged AS (
  SELECT *, CASE WHEN lang NOT IN ({langs}) THEN 'lang'
                 WHEN n_words < {cfg.min_words} THEN 'too_short'
                 WHEN n_words > {cfg.max_words} THEN 'too_long'
                 WHEN alpha_ratio < {cfg.min_alpha_ratio} THEN 'low_alpha'
                 WHEN digit_ratio > {cfg.max_digit_ratio} THEN 'high_digit'
                 WHEN stopword_ratio < {cfg.min_stopword_ratio} THEN 'low_stopword'
                 WHEN dup_line_ratio > {cfg.max_dup_line_ratio} THEN 'rep_line'
                 WHEN dup_word_ratio > {cfg.max_dup_word_ratio} THEN 'rep_word'
                 WHEN dup_bigram_ratio > {cfg.max_dup_bigram_ratio} THEN 'rep_bigram'
            END AS filter_reason
  FROM ann
),
final AS (
  SELECT *, coalesce(filter_reason,
                     CASE WHEN row_number() OVER (
                            PARTITION BY (filter_reason IS NULL), content_key
                            ORDER BY doc_id) > 1
                          THEN 'duplicate' END,
                     'kept') AS reason
  FROM flagged
)
"""


SQL_CORPUS_CURATION = (
    _sql_curation_final()
    + """
SELECT doc_id, lang, n_chars, n_words, mean_word_len, alpha_ratio,
       digit_ratio, stopword_ratio, re_tokens,
       dup_line_ratio, dup_word_ratio, dup_bigram_ratio
FROM final WHERE reason = 'kept'
"""
)

SQL_CURATION_FUNNEL = (
    _sql_curation_final()
    + "SELECT reason, CAST(count(*) AS BIGINT) AS n_docs FROM final GROUP BY reason"
)


SQL_QUALITY = (
    "SELECT doc_id, "
    + ", ".join(f"{e} AS {n}" for n, e in T.duckdb_quality_sql("text").items())
    + " FROM documents"
)


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    cnts = T.token_counts(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in cnts.items()])


SQL_TOKEN_COUNT = (
    "SELECT doc_id, "
    + ", ".join(f"{e} AS {n}" for n, e in T.duckdb_token_counts_sql("text").items())
    + " FROM documents"
)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").withColumn(
        "shingles", dedup.shingle_words(F.col("text"), 5)
    )
    return docs.select("doc_id", T.fingerprint_bottom_k(F.col("shingles"), 4).alias("fingerprint"))


SQL_FINGERPRINT = f"""
WITH sh AS (SELECT doc_id, {dedup.duckdb_shingles_sql('text', 5)} AS shingles FROM documents)
SELECT doc_id, {T.duckdb_fingerprint_sql('shingles', 4)} AS fingerprint FROM sh
"""


def q_lm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram counts with <s>/</s> sentence wrap (reference LM build
    semantics, pkg/lm/ngram_builder.go:19-39)."""
    docs = _read(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != "")
    wrapped = F.concat(F.array(F.lit("<s>")), words, F.array(F.lit("</s>")))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(wrapped) - 1),
        lambda i: F.concat(
            F.element_at(wrapped, i), F.lit(" "), F.element_at(wrapped, i + 1)
        ),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_LM_BIGRAMS = f"""
WITH w AS (SELECT ['<s>'] || {_SQL_WORDS} || ['</s>'] AS ws FROM documents),
bg AS (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bigram FROM w)
SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
"""


def q_lm_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    counts = lm_ops.build_ngram_counts(docs, 3)
    return counts[3].select(F.col("gram").alias("trigram"), "cnt")


SQL_LM_TRIGRAMS = f"""
WITH w AS (SELECT ['<S>'] || {_SQL_WORDS} || ['</S>'] AS ws FROM documents),
tg AS (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      for i in range(1, len(ws) - 1)]) AS trigram
       FROM w WHERE len(ws) >= 3)
SELECT trigram, count(*) AS cnt FROM tg GROUP BY trigram
"""


def q_lm_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff sentence scores against an LM built over documents
    (reference semantics: pkg/lm/ngram_model.go:162-175)."""
    docs = _read(spark, sf_dir, "documents")
    counts = lm_ops.build_ngram_counts(docs, 3)
    sents = _literals_df(spark, LM_SENTENCES).withColumnRenamed(
        "query_id", "sent_id"
    ).withColumnRenamed("query", "text")
    out = lm_ops.score_sentences(sents, counts, 3)
    return out.select("sent_id", F.round("score", 6).alias("score"))


def sql_lm_backoff_score() -> str:
    f2 = lm_ops.ALPHA  # 0.4
    f1 = lm_ops.ALPHA ** 2
    rows = ", ".join(f"({i}, '{s}')" for i, s in LM_SENTENCES)
    return f"""
WITH corpus AS (SELECT ['<S>'] || {_SQL_WORDS} || ['</S>'] AS ws FROM documents),
c1 AS (SELECT unnest(ws) AS gram FROM corpus),
t1 AS (SELECT gram, count(*) AS cnt FROM c1 GROUP BY gram),
c2 AS (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
       FROM corpus WHERE len(ws) >= 2),
t2 AS (SELECT gram, count(*) AS cnt FROM c2 GROUP BY gram),
c3 AS (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      for i in range(1, len(ws) - 1)]) AS gram
       FROM corpus WHERE len(ws) >= 3),
t3 AS (SELECT gram, count(*) AS cnt FROM c3 GROUP BY gram),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM t1),
q AS (SELECT sent_id, text FROM (VALUES {rows}) AS _q(sent_id, text)),
qw AS (SELECT sent_id, ['<S>'] || {_SQL_WORDS} || ['</S>'] AS ws FROM q),
qg AS (SELECT sent_id, unnest([ws[i:i+2] for i in range(1, len(ws) - 1)]) AS g
       FROM qw WHERE len(ws) >= 3),
joined AS (
  SELECT sent_id,
         coalesce(a.cnt, 0) AS c1, coalesce(b.cnt, 0) AS c2, coalesce(c.cnt, 0) AS c3
  FROM qg
  LEFT JOIN t1 a ON a.gram = g[1]
  LEFT JOIN t2 b ON b.gram = g[1] || ' ' || g[2]
  LEFT JOIN t3 c ON c.gram = g[1] || ' ' || g[2] || ' ' || g[3]
),
per_gram AS (
  SELECT sent_id,
         CASE WHEN c3 > 0 THEN ln(CAST(1.0 AS DOUBLE) * c3 / c2)
              WHEN c2 > 0 THEN ln(CAST({f2!r} AS DOUBLE) * c2 / c1)
              WHEN c1 > 0 THEN ln(CAST({f1!r} AS DOUBLE) * c1 / (SELECT t FROM total))
              ELSE CAST(-100.0 AS DOUBLE) END AS gram_score
  FROM joined
),
scored AS (
  SELECT sent_id, sum(gram_score) AS score FROM per_gram GROUP BY sent_id
  UNION ALL
  SELECT sent_id, CAST(0.0 AS DOUBLE) AS score FROM qw WHERE len(ws) < 3
)
SELECT sent_id, round(score, 6) AS score FROM scored
"""


# --- multimodal: deterministic byte-feature decode path (oracle-checkable)


def q_media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the REAL mapInPandas decode operator on
    synthesized binary blobs (documents text encoded as bytes): n_bytes +
    pseudo-dimensions + 16-bin byte histogram.  Bin counts are reconstructed
    as integers from the normalized float32 features (exact: count/total ×
    total rounds to the count), keeping the oracle float-precision-proof."""
    from suggest_spark.operators.multimodal import decode_image_features

    media = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("media")
    )
    out = decode_image_features(media)
    bins = [
        F.round(F.element_at("features", i + 1).cast("double") * F.col("n_bytes"))
        .cast("long")
        .alias(f"bin_{i}")
        for i in range(16)
    ]
    return out.select(
        "media_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        *bins,
    )


def sql_media_byte_stats() -> str:
    # documents text is pure ASCII (verified for the driver tables), so byte
    # i == ascii(char i) and strlen == octet length
    bins = ", ".join(
        f"CAST(len(list_filter(cs, c -> c // 16 = {b})) AS BIGINT) AS bin_{b}"
        for b in range(16)
    )
    return f"""
WITH codes AS (
  SELECT doc_id AS media_id, strlen(text) AS n_bytes,
         list_transform(range(1, strlen(text) + 1), i -> ascii(text[i])) AS cs
  FROM documents
)
SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(1 + (CASE WHEN n_bytes > 0 THEN cs[1] ELSE 0 END) AS BIGINT) AS width,
       CAST(1 + (CASE WHEN n_bytes > 1 THEN cs[2] ELSE 0 END) AS BIGINT) AS height,
       {bins}
FROM codes
"""


# --- reference LM analysis chain (LMConfig path) on punctuation-bearing text

#: deterministic punctuation-bearing corpus: every ' a ' becomes a sentence
#: boundary (literal replace agrees between Spark and DuckDB)
_PUNCT_REPLACE_SPARK = "replace(text, ' a ', '. ')"
LM_CHAIN_CFG = lm_ops.LMConfig(
    order=3, alphabet=("english", "numbers", "-"), separators=".?!\n"
)
#: DuckDB RE2 equivalents of the chain's two regexes (class chars: . ? ! \n)
_SQL_SEP_SPLIT = "string_split_regex(text, '[.?!\\n]+')"
_SQL_CHAIN_WORDS = "regexp_extract_all(lower(s), '[a-z0-9-]+')"
LM_SENTENCES_PUNCT = [
    (0, "the table. the table"),
    (1, "big data, small data!"),
    (2, "window agg row-scan"),
    (3, "zz qq unknown words"),
    (4, ""),
]


def _punct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PUNCT_REPLACE_SPARK).alias("text")
    )


def q_lm_chain_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram counts through the REFERENCE LM analysis chain
    (pkg/lm/sentence_retriever.go + pkg/lm/tokenizer.go): separator sentence
    split → alphabet word runs → skip empty → wrap → count."""
    counts = lm_ops.build_ngram_counts(_punct_docs(spark, sf_dir), 2, config=LM_CHAIN_CFG)
    return counts[2].select(F.col("gram").alias("bigram"), "cnt")


SQL_LM_CHAIN_BIGRAMS = f"""
WITH docs AS (SELECT replace(text, ' a ', '. ') AS text FROM documents),
sents AS (SELECT unnest({_SQL_SEP_SPLIT}) AS s FROM docs),
w0 AS (SELECT {_SQL_CHAIN_WORDS} AS w FROM sents),
wr AS (SELECT ['<S>'] || w || ['</S>'] AS ws FROM w0 WHERE len(w) > 0),
bg AS (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS bigram FROM wr)
SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
"""


def q_lm_backoff_punct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff scores where BOTH the corpus counts and the query
    tokens go through the reference analysis chain (VERDICT r1 item #1)."""
    counts = lm_ops.build_ngram_counts(_punct_docs(spark, sf_dir), 3, config=LM_CHAIN_CFG)
    sents = (
        _literals_df(spark, LM_SENTENCES_PUNCT)
        .withColumnRenamed("query_id", "sent_id")
        .withColumnRenamed("query", "text")
    )
    out = lm_ops.score_sentences(sents, counts, 3, config=LM_CHAIN_CFG)
    return out.select("sent_id", F.round("score", 6).alias("score"))


def sql_lm_backoff_punct() -> str:
    f2 = lm_ops.ALPHA
    f1 = lm_ops.ALPHA ** 2
    rows = ", ".join(f"({i}, '{s}')" for i, s in LM_SENTENCES_PUNCT)
    qwords = _SQL_CHAIN_WORDS.replace("lower(s)", "lower(text)")
    return f"""
WITH docs AS (SELECT replace(text, ' a ', '. ') AS text FROM documents),
sents AS (SELECT unnest({_SQL_SEP_SPLIT}) AS s FROM docs),
w0 AS (SELECT {_SQL_CHAIN_WORDS} AS w FROM sents),
corpus AS (SELECT ['<S>'] || w || ['</S>'] AS ws FROM w0 WHERE len(w) > 0),
c1 AS (SELECT unnest(ws) AS gram FROM corpus),
t1 AS (SELECT gram, count(*) AS cnt FROM c1 GROUP BY gram),
c2 AS (SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS gram
       FROM corpus WHERE len(ws) >= 2),
t2 AS (SELECT gram, count(*) AS cnt FROM c2 GROUP BY gram),
c3 AS (SELECT unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                      for i in range(1, len(ws) - 1)]) AS gram
       FROM corpus WHERE len(ws) >= 3),
t3 AS (SELECT gram, count(*) AS cnt FROM c3 GROUP BY gram),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM t1),
q AS (SELECT sent_id, text FROM (VALUES {rows}) AS _q(sent_id, text)),
qw AS (SELECT sent_id, ['<S>'] || {qwords} || ['</S>'] AS ws FROM q),
qg AS (SELECT sent_id, unnest([ws[i:i+2] for i in range(1, len(ws) - 1)]) AS g
       FROM qw WHERE len(ws) >= 3),
joined AS (
  SELECT sent_id,
         coalesce(a.cnt, 0) AS c1, coalesce(b.cnt, 0) AS c2, coalesce(c.cnt, 0) AS c3
  FROM qg
  LEFT JOIN t1 a ON a.gram = g[1]
  LEFT JOIN t2 b ON b.gram = g[1] || ' ' || g[2]
  LEFT JOIN t3 c ON c.gram = g[1] || ' ' || g[2] || ' ' || g[3]
),
per_gram AS (
  SELECT sent_id,
         CASE WHEN c3 > 0 THEN ln(CAST(1.0 AS DOUBLE) * c3 / c2)
              WHEN c2 > 0 THEN ln(CAST({f2!r} AS DOUBLE) * c2 / c1)
              WHEN c1 > 0 THEN ln(CAST({f1!r} AS DOUBLE) * c1 / (SELECT t FROM total))
              ELSE CAST(-100.0 AS DOUBLE) END AS gram_score
  FROM joined
),
scored AS (
  SELECT sent_id, sum(gram_score) AS score FROM per_gram GROUP BY sent_id
  UNION ALL
  SELECT sent_id, CAST(0.0 AS DOUBLE) AS score FROM qw WHERE len(ws) < 3
)
SELECT sent_id, round(score, 6) AS score FROM scored
"""


# ---------------------------------------------------------------------------
# relational coverage (aggregation / window / join mappings)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast(
                    "decimal(28,8)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8)))
            AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


SQL_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("total_acctbal"),
        )
    )


SQL_CUSTOMER_NATION = """
SELECT r_name, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: fuzzy top-k suggest."""
    return q_suggest(JACCARD, 0.5, 5)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "suggest_jaccard_topk": q_suggest(JACCARD, 0.5, 5),
        "suggest_cosine_topk": q_suggest(COSINE, 0.4, 5),
        "suggest_dice_topk": q_suggest(DICE, 0.6, 5),
        "suggest_overlap_topk": q_suggest(OVERLAP, 0.8, 5),
        "suggest_exact_match": q_suggest(EXACT, 1.0, 5, EXACT_LITERALS),
        "suggest_prefix_jaccard_topk": q_suggest_prefix(JACCARD, 0.5, 5),
        "suggest_auto_jaccard_topk": q_suggest_auto(JACCARD, 0.5, 5),
        "autocomplete_firstk": q_autocomplete(5),
        "ngram_index_build": q_index_build,
        "ngram_index_upsert": q_index_upsert,
        "dict_bucketed_upsert": q_dict_bucketed_upsert,
        "dict_rebucket": q_dict_rebucket,
        "selfjoin_jaccard": q_selfjoin_jaccard,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash,
        "dedup_jaccard_shingles": q_dedup_jaccard,
        "dedup_jaccard_prefix_blocked": q_dedup_jaccard_prefix,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_cosine": q_dedup_embedding,
        "ann_cosine_topk": q_ann_cosine,
        "ann_signlsh_topk": q_ann_signlsh,
        "ann_ivf_topk": q_ann_ivf,
        "ann_ivf_at_rest": q_ann_ivf_at_rest,
        "lang_id": q_lang_id,
        "quality_score": q_quality,
        "token_count": q_token_count,
        "doc_fingerprint": q_fingerprint,
        "corpus_curation": q_corpus_curation,
        "curation_funnel": q_curation_funnel,
        "text_repetition": q_text_repetition,
        "pii_redaction": q_pii_redaction,
        "lm_bigram_counts": q_lm_bigrams,
        "lm_trigram_counts": q_lm_trigrams,
        "lm_backoff_score": q_lm_backoff_score,
        "lm_chain_bigrams_punct": q_lm_chain_bigrams,
        "lm_backoff_score_punct": q_lm_backoff_punct,
        "media_byte_stats": q_media_byte_stats,
        "agg_pricing_summary": q_pricing_summary,
        "window_top_orders": q_top_orders,
        "join_customer_nation": q_customer_nation,
        "events_hourly": q_events_hourly,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "suggest_jaccard_topk": sql_suggest(JACCARD, 0.5, 5),
        "suggest_cosine_topk": sql_suggest(COSINE, 0.4, 5),
        "suggest_dice_topk": sql_suggest(DICE, 0.6, 5),
        "suggest_overlap_topk": sql_suggest(OVERLAP, 0.8, 5),
        "suggest_exact_match": sql_suggest(EXACT, 1.0, 5, EXACT_LITERALS),
        "suggest_prefix_jaccard_topk": sql_suggest(JACCARD, 0.5, 5),
        "suggest_auto_jaccard_topk": sql_suggest(JACCARD, 0.5, 5),
        "autocomplete_firstk": sql_autocomplete(5),
        "ngram_index_build": SQL_INDEX_BUILD,
        "ngram_index_upsert": SQL_INDEX_UPSERT,
        "dict_bucketed_upsert": SQL_DICT_BUCKETED_UPSERT,
        "dict_rebucket": SQL_DICT_REBUCKET,
        "selfjoin_jaccard": SQL_SELFJOIN_JACCARD,
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
        "dedup_jaccard_shingles": SQL_DEDUP_JACCARD,
        "dedup_jaccard_prefix_blocked": SQL_DEDUP_JACCARD,
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "dedup_embedding_cosine": sql_dedup_embedding(),
        "ann_cosine_topk": SQL_ANN_COSINE,
        "ann_signlsh_topk": sql_ann_signlsh(),
        "ann_ivf_topk": sql_ann_ivf(),
        "ann_ivf_at_rest": sql_ann_ivf(),
        "lang_id": SQL_LANG_ID,
        "quality_score": SQL_QUALITY,
        "token_count": SQL_TOKEN_COUNT,
        "doc_fingerprint": SQL_FINGERPRINT,
        "corpus_curation": SQL_CORPUS_CURATION,
        "curation_funnel": SQL_CURATION_FUNNEL,
        "text_repetition": SQL_TEXT_REPETITION,
        "pii_redaction": _sql_pii(),
        "lm_bigram_counts": SQL_LM_BIGRAMS,
        "lm_trigram_counts": SQL_LM_TRIGRAMS,
        "lm_backoff_score": sql_lm_backoff_score(),
        "lm_chain_bigrams_punct": SQL_LM_CHAIN_BIGRAMS,
        "lm_backoff_score_punct": sql_lm_backoff_punct(),
        "media_byte_stats": sql_media_byte_stats(),
        "agg_pricing_summary": SQL_PRICING_SUMMARY,
        "window_top_orders": SQL_TOP_ORDERS,
        "join_customer_nation": SQL_CUSTOMER_NATION,
        "events_hourly": SQL_EVENTS_HOURLY,
    }
