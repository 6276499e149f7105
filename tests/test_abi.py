from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from block_crawler_spark.functions.abi import decode_string, decode_uint256_array, word, word_uint
from block_crawler_spark.operators.decode import bind_dynamic_slots
from block_crawler_spark.sources.chainfix import enc_string, enc_uint, enc_uint_array_pair


def _bound(spark, data, *slots):
    """One row holding ``data`` with the dynamic slots' offsets and lengths bound."""
    return bind_dynamic_slots(spark.createDataFrame([(data,)], "data string"), *slots)


def test_static_words(spark):
    data = "0x" + enc_uint(5) + enc_uint(1 << 128)
    row = (
        spark.range(1)
        .select(
            word(F.lit(data), 0).alias("w0"),
            word_uint(F.lit(data), 0).alias("u0"),
            word_uint(F.lit(data), 1).alias("u1"),
        )
        .collect()[0]
    )
    assert row["w0"] == enc_uint(5)
    assert row["u0"] == Decimal(5)
    assert row["u1"] is None  # 1<<128 has 33 sig hex digits → overflow clamp


def test_dynamic_uint_arrays(spark):
    for ids, vals in [([1, 2, 3], [10, 20, 30]), ([7], [9]), ([], [])]:
        data = enc_uint_array_pair(ids, vals)
        row = (
            _bound(spark, data, 0, 1)
            .select(
                decode_uint256_array(F.col("data"), F.col("_off0"), F.col("_len0")).alias("ids"),
                decode_uint256_array(F.col("data"), F.col("_off1"), F.col("_len1")).alias("vals"),
            )
            .collect()[0]
        )
        assert row["ids"] == [enc_uint(i) for i in ids]
        assert row["vals"] == [enc_uint(v) for v in vals]


def test_decode_string(spark):
    for s in ["", "a", "hello world", "https://meta.example/{id}.json", "x" * 100]:
        data = enc_string(s)
        got = (
            _bound(spark, data, 0)
            .select(decode_string(F.col("data"), F.col("_off0"), F.col("_len0")).alias("s"))
            .collect()[0]["s"]
        )
        assert got == s
