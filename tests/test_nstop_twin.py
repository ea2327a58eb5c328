"""Bit-identity pin for the codegen'd n_stop twin (r11, guide §1.2):
regexp_count over space-delimited stopword tokens must equal the
interpreted size(filter(words, isin)) form on EVERY input — duplicate
stopwords count, prefixes never match, NULL stays NULL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

ADVERSARIAL = [
    "the quick brown fox",
    "a a a a",                       # adjacent duplicates all count
    "an and ant a ab",               # prefixes must not match
    "to",                            # whole text is one stopword
    "it",                            # ... at both boundaries
    " a",                            # leading space -> empty token
    "a ",                            # trailing space -> empty token
    "x  a  y",                       # double spaces -> empty tokens
    "",                              # empty text
    " ",                             # single space
    "THE The tHe",                   # case-sensitive: none match
    "that that that it it",
    "word the word of word",
    "a\tb the",                      # tab is NOT a delimiter: "a\tb"
    "of\nthe",                       # newline not a delimiter either
    "the\n",                         # final line terminator: $ would match
    "a\r",                           # ... before it; the twin needs \z
    None,                            # NULL -> NULL both forms
]


def _both(spark, rows):
    from sirix_spark.queries.text import STOPWORDS, _STOP_RE

    df = spark.createDataFrame([(t,) for t in rows], "text string")
    words = F.split(F.col("text"), " ")
    old = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    new = F.regexp_count(F.col("text"), F.lit(_STOP_RE))
    return df.select("text", old.alias("old"), new.alias("new")).collect()


def test_adversarial_strings_identical(spark):
    for r in _both(spark, ADVERSARIAL):
        assert r.old == r.new, (r.text, r.old, r.new)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_full_corpus_identical(spark, sf):
    from sirix_spark.queries.text import STOPWORDS, _STOP_RE

    docs = spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
    words = F.split(F.col("text"), " ")
    old = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    new = F.regexp_count(F.col("text"), F.lit(_STOP_RE))
    n_diff = docs.select(old.alias("o"), new.alias("n")).filter(
        ~F.col("o").eqNullSafe(F.col("n"))
    ).count()
    assert n_diff == 0
