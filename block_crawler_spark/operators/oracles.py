"""Ordering oracle.

Reference: ``nft/evm/oracles.py`` — ``LogVersionOracle`` (T14) assigns every
log a total event order ``block*1e9 + tx_index*1e4 + log_index`` emitted as a
40-char zero-padded hex string.  It is a single column expression here — no
UDF.  The reference's ``TokenTransactionTypeOracle`` (T15, mint/burn/transfer)
is inlined in the transfer decode (``operators.decode._transfer_cols``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VERSION_BLOCK_FACTOR = 1_000_000_000
VERSION_TX_FACTOR = 10_000


def attribute_version(block: Column, tx_index: Column, log_index: Column) -> Column:
    """Total event order as a LongType (bigint) — safe to block ~9.2e9.

    The multiplier layout matches the reference's ``LogVersionOracle``
    (``nft/evm/oracles.py:17-22``): version = block*1e9 + tx*1e4 + log.
    """
    return (
        block.cast("long") * F.lit(VERSION_BLOCK_FACTOR)
        + tx_index.cast("long") * F.lit(VERSION_TX_FACTOR)
        + log_index.cast("long")
    )


def attribute_version_hex(block: Column, tx_index: Column, log_index: Column) -> Column:
    """The version as the reference's 40-char zero-padded hex string.

    Zero-padding makes lexicographic order = numeric order, so the hex string
    itself is a valid sort/range key (cf. ``padded_hex``/``zfill(40)``).
    """
    return F.lpad(F.lower(F.hex(attribute_version(block, tx_index, log_index))), 40, "0")
