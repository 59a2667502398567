"""The embedding kernel: ``functions.embed.embed_one`` (driver side), the
pandas UDF that maps it (index side), and the Catalyst-expression form
kept here as the reference. All three must agree bit for bit, or a
query would be scored in a different space from the index it searches."""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from usda_food_data_pipeline_spark.functions.embed import (
    EMBED_SEED,
    embed_one,
    embed_text_batch,
)
from usda_food_data_pipeline_spark.operators.dedup import md5_int, tokenize


def embed_text_reference(text: Column, dim: int = 64) -> Column:
    """Expression form of the hashing featurizer: Spark's own tokenizer,
    md5 buckets, dim-bucket counts, L2 norm. Null text is coalesced to
    the empty string: the one null contract is the zero vector (without
    it this form gives an all-null array)."""
    buckets = F.transform(
        tokenize(F.coalesce(text, F.lit(""))), lambda t: md5_int(t, EMBED_SEED) % dim
    )
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.size(F.filter(buckets, lambda b: b == i)).cast("double"),
    )
    norm = F.sqrt(F.aggregate(counts, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(norm > 0, F.transform(counts, lambda x: x / norm)).otherwise(counts)


TEXTS = [
    "Choc Bar sea salt",
    "salt salt SALT pepper",
    "a\xa0b c",  # NBSP inside a token: not a separator for Java's \s
    "\xa0lead and trail nbsp\xa0",
    "tab\tsep\t",
    "\ttabs\n\r\x0bform\x0cfeed",
    "\x1cfile sep",  # Unicode whitespace to Python's str.split, not to Java
    "",
    "   ",
    " \t\n ",
    "Crème Brûlée café 日本語",
    "straße İstanbul ΟΔΟΣ x y",
    None,
]


@pytest.mark.parametrize("dim", [16, 64])
def test_embed_kernels_agree_bit_for_bit(spark, dim):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "i int, t string")
    rows = (
        df.select(
            "i",
            embed_text_batch(dim)(F.col("t")).alias("udf"),
            embed_text_reference(F.col("t"), dim).alias("ref"),
        )
        .orderBy("i")
        .collect()
    )
    assert len(rows) == len(TEXTS)
    for r in rows:
        driver = embed_one(TEXTS[r["i"]], dim)
        assert len(driver) == dim
        assert r["udf"] == driver, TEXTS[r["i"]]
        assert r["ref"] == driver, TEXTS[r["i"]]


def test_null_and_blank_text_embed_to_the_zero_vector():
    for text in (None, "", "   ", "\t\n"):
        assert embed_one(text, 8) == [0.0] * 8
    v = embed_one("salt", 8)
    assert sum(x * x for x in v) == 1.0 and v.count(1.0) == 1
