"""Order-independent, ANSI-safe checksums of row sets.

A checksum is ``(count, fold)`` where ``fold`` is the sum of a per-row
hash modulo a prime. The row hash is CRC-32 of the row's columns
rendered as strings and joined by a unit separator, so the Spark side
(``crc32(concat_ws(...))``) and the Python side (``zlib.crc32``) agree
bit for bit. The Spark sum runs over ``DECIMAL(38,0)``: under Spark's
ANSI default a ``LONG`` sum of 64-bit hashes raises
``ARITHMETIC_OVERFLOW``, a decimal sum of 32-bit hashes cannot.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

SEP = "\x1f"
NULL = "\x00"
MOD = (1 << 61) - 1


def fold(hashes: Iterable[int]) -> int:
    return sum(hashes) % MOD


def row_hash_col(cols: Sequence[str]):
    from pyspark.sql import functions as F

    parts = [F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in cols]
    return F.crc32(F.concat_ws(SEP, *parts).cast("binary"))


def _aggs(cols: Sequence[str]):
    from pyspark.sql import functions as F

    return F.count(F.lit(1)).alias("n"), F.sum(row_hash_col(cols).cast("decimal(38,0)")).alias("h")


def checksum(df, cols: Sequence[str]) -> tuple[int, int]:
    """One aggregate job: ``(row count, fold of row hashes)``."""
    row = df.agg(*_aggs(cols)).collect()[0]
    return int(row["n"]), (int(row["h"]) % MOD if row["h"] is not None else 0)


def checksums_by(df, key: str, cols: Sequence[str]) -> dict[str, tuple[int, int]]:
    """Per-``key`` checksums in one job (e.g. one per restored table)."""
    rows = df.groupBy(key).agg(*_aggs(cols)).collect()
    return {r[key]: (int(r["n"]), int(r["h"]) % MOD) for r in rows}
