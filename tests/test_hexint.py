from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from block_crawler_spark.functions import hexint


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


@pytest.mark.parametrize(
    "hex_in,expected",
    [
        ("0x0", Decimal(0)),
        ("0x1", Decimal(1)),
        ("0xff", Decimal(255)),
        ("0x" + "0" * 60 + "beef", Decimal(0xBEEF)),
        ("0x" + f"{10**37:x}", Decimal(10**37)),
        ("0x" + f"{16**31 - 1:x}", Decimal(16**31 - 1)),  # max exact
        ("0x" + f"{16**31:x}", None),  # 32 significant digits → overflow clamp
        ("0x" + f"{(1 << 256) - 1:x}", None),  # uint256 max → null
    ],
)
def test_hex_to_dec(spark, hex_in, expected):
    got = _eval(spark, hexint.hex_to_dec(F.lit(hex_in)))
    assert got == expected


def test_hex_to_dec_roundtrip_many(spark):
    vals = [0, 1, 7, 255, 2**63, 2**64 + 3, 10**30, 16**31 - 1]
    df = spark.createDataFrame([("0x" + f"{v:x}",) for v in vals], ["h"])
    got = [r["d"] for r in df.select(hexint.hex_to_dec(F.col("h")).alias("d")).collect()]
    assert got == [Decimal(v) for v in vals]


def test_hex_to_long(spark):
    assert _eval(spark, hexint.hex_to_long(F.lit("0xff"))) == 255
    assert _eval(spark, hexint.hex_to_long(F.lit("0x7fffffffffffffff"))) == 2**63 - 1
    assert _eval(spark, hexint.hex_to_long(F.lit("0x8000000000000000"))) is None
    assert _eval(spark, hexint.hex_to_long(F.lit("0x" + "f" * 64))) is None


def test_normalize_and_ordering(spark):
    n = _eval(spark, hexint.normalize_hex(F.lit("0XAbC")))
    assert n == "0x" + "0" * 61 + "abc"
    # padded hex: lexicographic order == numeric order
    vals = [0, 5, 255, 4096, 10**20, 16**31, (1 << 256) - 1]
    hexes = ["0x" + f"{v:x}".rjust(64, "0") for v in vals]
    assert hexes == sorted(hexes)


def test_long_to_hex(spark):
    assert _eval(spark, hexint.long_to_hex(F.lit(255))) == "0x" + "0" * 62 + "ff"


def test_topic_to_address(spark):
    topic = "0x" + "0" * 24 + "ab" * 20
    assert _eval(spark, hexint.topic_to_address(F.lit(topic))) == "0x" + "ab" * 20


def test_normalize_overwidth_keeps_low_order(spark):
    """ADVICE r1 (hexint.py:53): lpad alone TRUNCATES over-width input to its
    leftmost (high-order-zero) chars — a 64-char topic normalized to 40 must
    keep the RIGHTMOST nibbles, like topic_to_address, not become 0x000…0."""
    topic = "0x" + "0" * 24 + "ab" * 20  # padded 32-byte topic holding an address
    got = _eval(spark, hexint.normalize_hex(F.lit(topic), hexint.ADDRESS_HEX_WIDTH))
    assert got == "0x" + "ab" * 20
    # the decoder's zero-address test: a normalized address == ZERO_ADDRESS
    zero_topic = "0x" + "0" * 64
    assert _eval(spark, hexint.normalize_hex(F.lit(zero_topic), hexint.ADDRESS_HEX_WIDTH)) == hexint.ZERO_ADDRESS
