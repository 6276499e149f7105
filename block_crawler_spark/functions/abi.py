"""JVM-side ABI decoding as pure column expressions.

The reference decodes event payloads row-at-a-time with ``eth_abi``
(``nft/evm/transformers.py:200-376``).  Here the hot-path decodes — 32-byte
words, addresses from topics, ``(uint256,uint256)`` tuples, dynamic
``uint256[]`` arrays, and ABI strings — are all built-in Spark expressions
(`substring`/`conv`/`sequence`/`transform`/`unhex`), so they run inside
whole-stage codegen with no Python round-trip.  At 100 TB of logs this is the
difference between a scan-speed decode and an Arrow-serialization bottleneck.

ABI layout (public Solidity ABI spec): data blob = "0x" + N×64 hex chars.
Static slots hold values; dynamic slots hold byte offsets into the blob;
a dynamic value starts with a length word followed by its payload.

Bind-once rule: Spark columns have no let-binding, so an expression used
twice is pasted into the plan twice, and ``hexint.hex_to_long`` already
reads its input ~two dozen times.  Nesting those helpers multiplied the
decode plan into thousands of references to ``data``, paid again in every
analysis, cache lookup, optimisation and codegen.  So a dynamic value's
offset and length are never computed inline here: the caller projects each
head word, offset, length word and length as its own column
(``operators.decode.bind_dynamic_slots``) and passes the bound columns to
:func:`decode_uint256_array` / :func:`decode_string`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hexint import hex_to_dec, hex_to_long

_WORD_HEX = 64


def word(data: Column, slot: Column | int) -> Column:
    """0-based 32-byte word from a "0x"-prefixed hex blob, as 64 hex chars."""
    if isinstance(slot, int):
        return F.substring(data, 3 + _WORD_HEX * slot, _WORD_HEX)
    return F.substring(data, (F.lit(3) + F.lit(_WORD_HEX) * slot).cast("int"), F.lit(_WORD_HEX))


def word_uint(data: Column, slot: Column | int) -> Column:
    """Word interpreted as uint → Decimal(38,0) (NULL on overflow)."""
    return hex_to_dec(word(data, slot))


def head_offset(head: Column) -> Column:
    """A dynamic slot's head word (a byte offset into the blob) → the word
    index of the value's length word.  ``head`` should be a bound column."""
    return (hex_to_long(head) / F.lit(32)).cast("long")


def decode_uint256_array(data: Column, start: Column, n: Column) -> Column:
    """Dynamic ``uint256[]`` → array of 64-hex-char strings.

    ``start`` is the bound word index of the array's length word and ``n``
    the bound element count.  Fully JVM-side: `sequence`+`transform` over
    the element words.  Keeping elements as canonical hex defers the
    Decimal-overflow policy to the consumer (see functions.hexint).
    """
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), n.cast("int")), lambda i: word(data, start + i.cast("long")))
    )


def decode_string(data: Column, start: Column, nbytes: Column) -> Column:
    """Dynamic ABI ``string`` → StringType (UTF-8).

    ``start`` is the bound word index of the string's length word and
    ``nbytes`` its bound byte length.
    """
    payload = F.substring(
        data,
        (F.lit(3) + F.lit(_WORD_HEX) * (start + 1)).cast("int"),
        (nbytes * 2).cast("int"),
    )
    return F.when(nbytes <= 0, F.lit("")).otherwise(F.decode(F.unhex(payload), "UTF-8"))
