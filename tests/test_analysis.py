"""Tokenizer goldens, ported from /root/reference/pkg/analysis/ngram_tokenizer_test.go:10-55
and the full suggest chain (pkg/suggest/tokenizer.go:9-34)."""

import pytest
from pyspark.sql import functions as F

from suggest_spark.config import DEFAULT_CONFIG, ENGLISH_CONFIG, IndexConfig
from suggest_spark.functions.analysis import (
    ngram_terms_col,
    ngrams,
    tokenize,
)

# (text, n, expected) — ngram_tokenizer_test.go:10-55
NGRAM_GOLDENS = [
    ("tet", 2, ["te", "et"]),
    ("testing", 3, ["tes", "est", "sti", "tin", "ing"]),
    ("жигули", 2, ["жи", "иг", "гу", "ул", "ли"]),
    ("lalala", 2, ["la", "al"]),  # dedup keeps first occurrence
    ("", 2, []),
    ("t", 2, []),  # 1 byte < n
]


@pytest.mark.parametrize("text,n,expected", NGRAM_GOLDENS)
def test_ngrams_python(text, n, expected):
    assert ngrams(text, n) == expected


def test_ngrams_byte_length_edge():
    # rune length < n but byte length >= n emits the whole string
    # (ngram_tokenizer.go:19-21 checks BYTES; the final gram then covers
    # the full text)
    assert ngrams("ж", 2) == ["ж"]
    assert ngrams("жи", 3) == ["жи"]
    assert ngrams("ab", 3) == []  # 2 bytes < 3


def test_full_chain_nissan_ma():
    # "Nissan ma" → wrap "$nissan ma$" → 3-gram windows → pad ' '→'$'
    terms = tokenize("Nissan ma", DEFAULT_CONFIG)
    assert terms == [
        "$ni", "nis", "iss", "ssa", "san", "an$", "n$m", "$ma", "ma$",
    ]


def test_full_chain_keeps_leading_trailing_spaces():
    # trim happens AFTER wrap in the reference chain and is therefore a no-op
    # (filter_tokenizer.go:20-27 under wrap_tokenizer.go:19)
    assert tokenize(" a", IndexConfig(ngram_size=2))[:2] == ["$$", "$a"]


def test_head_only_wrap():
    # autocomplete tokenizer (suggest/tokenizer.go:22-34)
    assert tokenize("Niss", DEFAULT_CONFIG, head_only=True) == ["$ni", "nis", "iss"]


def test_duplicate_normalized_terms_kept():
    # distinct raw grams may normalize to the same term; duplicates must be
    # kept because document cardinality counts them (indexer_writer.go:66-86)
    cfg = IndexConfig(ngram_size=3, alphabet=("english", "$"))
    terms = tokenize("ab ab-", cfg)
    # raw: $ab, ab , b a,  ab, ab-, b-$ → normalized has "$ab" and "ab$" twice
    assert terms.count("$ab") == 2
    assert terms.count("ab$") == 2


@pytest.mark.parametrize("text", ["Nissan ma", "lalala", "жигули 123", " a ", "", "x"])
def test_sql_expression_matches_python(spark, text):
    for cfg in (DEFAULT_CONFIG, ENGLISH_CONFIG, IndexConfig(ngram_size=2)):
        df = spark.createDataFrame([(text,)], "value string")
        got = df.select(ngram_terms_col(F.col("value"), cfg).alias("t")).first()["t"]
        assert got == tokenize(text, cfg), (text, cfg)
