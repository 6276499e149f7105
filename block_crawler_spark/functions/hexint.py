"""uint256 / HexInt column policy.

The reference models big integers as ``HexInt`` — an arbitrary-precision int
with a dual hex-string representation, zero-padded so lexicographic order
equals numeric order (reference: ``core/types.py:9-122`` ``padded_hex``,
``nft/evm/oracles.py:22``).  uint256 (up to 78 decimal digits) exceeds Spark's
``DecimalType(38,0)``, so the engine-wide policy is:

* **Canonical storage**: zero-padded lowercase hex **StringType** (64 hex
  chars for uint256, "0x" prefix).  Sorting, range predicates, equality and
  grouping all work on the canonical string because the padding makes
  lexicographic order = numeric order.
* **Arithmetic**: a parallel ``DecimalType(38,0)`` column where magnitude is
  known to be bounded (block numbers, timestamps, indexes, realistic
  quantities).  Values that do not fit are clamped to NULL — the same
  behavior the reference applies to out-of-bounds numbers
  (``nft/data_services/dynamodb.py:49-51, 224-229, 374-385``).

Everything here is built-in column expressions — no Python UDFs — so the
conversions stay inside whole-stage codegen at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Max significant hex digits convertible exactly into Decimal(38,0) with the
# two-chunk strategy below: high 15 hex digits * 16^16 + low 16 hex digits
# = at most 16^31 - 1 ≈ 1.7e37 < 1e38. 31 hex digits ≈ 124 bits.
_MAX_SIG_HEX = 31
_TWO_POW_64 = "18446744073709551616"  # 2**64 as an exact decimal literal

UINT256_HEX_WIDTH = 64
ADDRESS_HEX_WIDTH = 40
VERSION_HEX_WIDTH = 40  # reference zero-pads attribute_version to 40 chars

ZERO_ADDRESS = "0x" + "0" * 40


def strip0x(col: Column) -> Column:
    """Remove a leading 0x/0X prefix if present."""
    c = F.lower(col)
    return F.when(c.startswith("0x"), F.substring(c, 3, 0x7FFFFFFF)).otherwise(c)


def normalize_hex(col: Column, width: int = UINT256_HEX_WIDTH, prefix: bool = True) -> Column:
    """Canonicalize a hex string: lowercase, zero-pad to `width` nibbles, 0x prefix.

    Padding guarantees lexicographic order == numeric order, the engine's
    substitute for native uint256 ordering.

    Over-width input keeps the RIGHTMOST ``width`` nibbles (the low-order
    bytes) — the same truncation ``topic_to_address`` applies to a 64-char
    topic.  ``lpad`` alone would keep the *leftmost* chars, turning a
    zero-padded topic into all zeros and misclassifying it as the zero
    address (ADVICE r1, hexint.py:53).
    """
    s = strip0x(col)
    body = F.when(F.length(s) > width, F.substring(s, -width, width)).otherwise(F.lpad(s, width, "0"))
    return F.concat(F.lit("0x"), body) if prefix else body


def hex_sig(col: Column) -> Column:
    """Significant (leading-zero-stripped) hex digits; '0' for zero."""
    s = F.regexp_replace(strip0x(col), "^0+", "")
    return F.when(s == "", F.lit("0")).otherwise(s)


def hex_to_dec(col: Column) -> Column:
    """Hex string (any casing, optional 0x) → Decimal(38,0); NULL on overflow.

    Exact up to 31 significant hex digits (~1.7e37) via a two-chunk
    high*2^64 + low decomposition; conv() alone is only safe to 15 digits
    because it saturates at unsigned 64-bit.
    """
    sig = hex_sig(col)
    n = F.length(sig)
    low16 = F.substring(F.lpad(sig, _MAX_SIG_HEX, "0"), _MAX_SIG_HEX - 15, 16)
    high15 = F.substring(F.lpad(sig, _MAX_SIG_HEX, "0"), 1, 15)
    low_d = F.conv(low16, 16, 10).cast("decimal(38,0)")
    high_d = F.conv(high15, 16, 10).cast("decimal(38,0)")
    combined = high_d * F.lit(_TWO_POW_64).cast("decimal(38,0)") + low_d
    return (
        F.when(col.isNull(), F.lit(None).cast("decimal(38,0)"))
        .when(n > _MAX_SIG_HEX, F.lit(None).cast("decimal(38,0)"))
        .otherwise(combined)
    )


def hex_to_long(col: Column) -> Column:
    """Hex string → LongType; NULL if it exceeds 63 bits (15 full hex digits + sign headroom)."""
    sig = hex_sig(col)
    ok = (F.length(sig) < 16) | ((F.length(sig) == 16) & (F.substring(sig, 1, 1) < F.lit("8")))
    return F.when(ok, F.conv(sig, 16, 10).cast("long")).otherwise(F.lit(None).cast("long"))


def long_to_hex(col: Column, width: int = UINT256_HEX_WIDTH, prefix: bool = True) -> Column:
    """Non-negative integral column → canonical zero-padded lowercase hex."""
    body = F.lpad(F.lower(F.hex(col.cast("long"))), width, "0")
    return F.concat(F.lit("0x"), body) if prefix else body


def topic_to_address(col: Column) -> Column:
    """32-byte topic hex ("0x"+64) → address ("0x"+40): the low 20 bytes."""
    return F.concat(F.lit("0x"), F.lower(F.substring(col, 27, 40)))
