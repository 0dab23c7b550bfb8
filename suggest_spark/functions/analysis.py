"""Text analysis chain: wrap → lowercase → rune n-gram windows (deduped,
first occurrence) → per-gram alphabet normalization.

Reference semantics (all citations into /root/reference):

* The suggest tokenizer composes wrap OUTSIDE the filter tokenizer
  (pkg/suggest/tokenizer.go:9-20), i.e. the text is wrapped FIRST, then
  lowercased/trimmed, then n-gram tokenized, then each gram is normalized.
  Because the wrap sentinels are '$', the trim (pkg/analysis/
  filter_tokenizer.go:20-27, Trim(text, " ")) is a no-op after wrapping —
  leading/trailing spaces of the original text are therefore KEPT and padded
  to '$' by normalization.  We reproduce that exactly.
* N-gram extraction (pkg/analysis/ngram_tokenizer.go:17-43) slides a window
  of `n` RUNES (not bytes).  The initial short-circuit `len(text) < n`
  compares BYTES; a string whose byte length is >= n but rune length <= n
  emits exactly one gram: the whole string.  Deduplication keeps the first
  occurrence (appendUnique, ngram_tokenizer.go:46-54).
* Normalization (pkg/analysis/normalizer.go:13-37) replaces every rune not
  in the alphabet with the pad symbol, PER GRAM and AFTER dedup — so the
  returned term list may contain duplicate normalized grams; the document
  cardinality ("size") is the length of that list including duplicates
  (pkg/index/indexer_writer.go:66-86 groups by len(terms)).

Two interchangeable implementations are provided:

* ``ngram_terms_col`` — a pure Spark SQL Column expression (whole-stage
  codegen, no Python in the hot path): the canonical scale path.
* ``tokenize`` — the pure Python chain (the hot replica's query side and
  the oracle the Column expression is tested against).

Both produce identical output (golden-tested against
pkg/analysis/ngram_tokenizer_test.go:10-55 fixtures).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..config import DEFAULT_CONFIG, IndexConfig

# ---------------------------------------------------------------------------
# Pure Python (oracle / hot-replica query side)
# ---------------------------------------------------------------------------


def ngrams(text: str, n: int) -> list[str]:
    """Rune n-gram set of ``text``: deduped, first-occurrence order.

    Exact port of the semantics of pkg/analysis/ngram_tokenizer.go:17-54,
    including the byte-length short-circuit edge case.
    """
    if len(text.encode("utf-8")) < n:
        return []
    if len(text) <= n:
        # rune length <= n but byte length >= n → single whole-string gram
        return [text]
    return list(dict.fromkeys(text[i : i + n] for i in range(len(text) - n + 1)))


def normalize_gram(gram: str, allowed: frozenset[str], pad: str) -> str:
    """Replace runes outside the alphabet with pad (normalizer.go:21-37)."""
    return "".join(c if c in allowed else pad for c in gram)


def tokenize(text: str, config: IndexConfig = DEFAULT_CONFIG, head_only: bool = False) -> list[str]:
    """Full suggest tokenizer chain (pkg/suggest/tokenizer.go:9-34).

    ``head_only=True`` is the autocomplete variant: wrap the head sentinel
    only (pkg/suggest/tokenizer.go:22-34).

    Returns the term list — duplicates after normalization are kept; the
    document's index cardinality is ``len(result)``.
    """
    start, end = config.wrap
    wrapped = (start + text + ("" if head_only else end)).lower()
    allowed = config.allowed_chars
    return [normalize_gram(g, allowed, config.pad) for g in ngrams(wrapped, config.ngram_size)]


# ---------------------------------------------------------------------------
# Spark SQL Column expression (the scale path: stays in whole-stage codegen)
# ---------------------------------------------------------------------------


def ngram_terms_col(
    text: Column,
    config: IndexConfig = DEFAULT_CONFIG,
    head_only: bool = False,
) -> Column:
    """``array<string>`` of normalized n-gram terms of ``text`` as a pure
    Column expression (no Python UDF).

    Equivalent to :func:`tokenize`; the per-gram normalization is applied
    AFTER ``array_distinct`` so duplicate normalized grams are preserved,
    matching the reference ordering of dedup-then-normalize
    (pkg/analysis/ngram_tokenizer.go:46-54 then normalizer.go:21-37).
    """
    n = config.ngram_size
    start, end = config.wrap
    wrapped = F.lower(F.concat(F.lit(start), text, F.lit("" if head_only else end)))
    char_len = F.char_length(wrapped)
    byte_len = F.octet_length(wrapped)
    raw = F.when(byte_len < n, F.array().cast(ArrayType(StringType()))).otherwise(
        F.when(char_len <= n, F.array(wrapped)).otherwise(
            F.transform(
                F.sequence(F.lit(1), char_len - F.lit(n - 1)),
                lambda i: F.substring(wrapped, i, n),
            )
        )
    )
    deduped = F.array_distinct(raw)  # keeps first occurrence
    # Java Matcher replacement strings treat '$' and '\' as special — escape
    pad_repl = re.sub(r"([\\$])", r"\\\1", config.pad)
    return F.transform(
        deduped, lambda g: F.regexp_replace(g, config.normalize_regex, pad_repl)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL fragment (used by __spark_entry__.oracle_sql)
# ---------------------------------------------------------------------------


def duckdb_terms_sql(text_expr: str, config: IndexConfig = DEFAULT_CONFIG) -> str:
    """DuckDB SQL expression producing the same ``list<varchar>`` of terms.

    DuckDB list comprehensions + char-based ``substring`` reproduce the rune
    windows; ``list_distinct`` dedups raw grams (order differs from Spark but
    downstream uses are order-insensitive sets/multisets); normalization is
    applied after dedup via regexp_replace with the 'g' flag.
    """
    n = config.ngram_size
    start, end = config.wrap
    cls = config.alphabet_char_class
    wrapped = f"lower('{start}' || {text_expr} || '{end}')"
    return (
        f"list_transform("
        f"  CASE WHEN strlen({wrapped}) < {n} THEN []::VARCHAR[]"
        f"       WHEN length({wrapped}) <= {n} THEN [{wrapped}]"
        f"       ELSE list_distinct([substring({wrapped}, i, {n})"
        f"             for i in range(1, length({wrapped}) - {n} + 2)]) END,"
        f"  g -> regexp_replace(g, '[^{cls}]', '{config.pad}', 'g'))"
    )


WORD_SPLIT_REGEX = r"\s+"


def word_tokens_col(text: Column) -> Column:
    """Whitespace word tokenizer (cf. pkg/analysis/word_tokenizer.go:10-47 —
    the reference splits on alphabet membership; for LM/word ops we split on
    whitespace after lowercasing, the common path for its corpora)."""
    return F.filter(F.split(F.lower(F.trim(text)), WORD_SPLIT_REGEX), lambda w: w != "")


def word_tokens_py(text: str) -> list[str]:
    return [w for w in re.split(WORD_SPLIT_REGEX, text.lower().strip()) if w]


def alphabet_word_tokens_col(text: Column, config: IndexConfig = DEFAULT_CONFIG) -> Column:
    """P9, exact form: split into maximal runs of alphabet runes
    (pkg/analysis/word_tokenizer.go:10-47 — a word is a contiguous run of
    runes the alphabet accepts; everything else separates)."""
    return F.filter(
        F.split(F.lower(text), f"[^{config.alphabet_char_class}]+"),
        lambda w: w != "",
    )


def sentence_split_col(text: Column, separators: str = ".?!\n") -> Column:
    """P10: sentence retriever — split on a separators alphabet
    (pkg/lm/sentence_retriever.go:23-81 streams sentences the same way)."""
    cls = _escape_for_char_class_local(separators)
    return F.filter(
        F.transform(F.split(text, f"[{cls}]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def _escape_for_char_class_local(chars: str) -> str:
    return "".join("\\" + c if c in set("\\^]$.|?*+()[{") else c for c in chars)
