"""``dsir_weights`` / ``bigram_lm_scores`` take any column reference as
``text_col`` — a nested struct field included. The text is projected
once under a fixed alias and the SQL strings are written against that
alias, so no caller-supplied column name is ever interpolated into
SQL text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from faiss_metal_spark.operators.corpus_quality import bigram_lm_scores, dsir_weights

ROWS = [
    (0, "the quick brown fox jumps over the lazy dog the quick brown fox", "en"),
    (1, "", "en"),
    (2, "solo", "de"),
    (3, "a a a a a a a a a a a a", "en"),
    (4, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es"),
    (5, "x y", "fr"),
]


@pytest.fixture(scope="module")
def frames(spark):
    flat = spark.createDataFrame(ROWS, "doc_id long, text string, lang string")
    nested = flat.select(
        "doc_id", F.struct(F.col("text").alias("text")).alias("meta"), "lang"
    )
    return flat, nested


def test_dsir_struct_field_equals_plain(frames):
    flat, nested = frames
    tgt = F.col("lang") == "en"
    plain = dsir_weights(flat, tgt, buckets=64).orderBy("doc_id").collect()
    field = (
        dsir_weights(nested, tgt, buckets=64, text_col="meta.text")
        .orderBy("doc_id")
        .collect()
    )
    assert plain and field == plain


def test_bigram_struct_field_equals_plain(frames):
    flat, nested = frames
    plain = bigram_lm_scores(flat).orderBy("doc_id").collect()
    field = (
        bigram_lm_scores(nested, text_col="meta.text").orderBy("doc_id").collect()
    )
    assert plain and field == plain
