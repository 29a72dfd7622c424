"""Engine-portable hash expressions shared by sketches, samplers,
and their DuckDB oracles.

ONE definition of the 60-bit md5-prefix hash: Spark side here, SQL
side `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)` — the pair every
portable operator (minhash, simhash, decontamination, bottom-k, hash
sampling) builds on. Changing the prefix width or encoding in one
place and not the other would silently de-synchronize operators from
their oracles, so they all import from here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_prefix60(col: Column) -> Column:
    """First 15 hex chars of md5 as a non-negative 60-bit long —
    bit-identical to DuckDB's CAST('0x'||substr(md5(x),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
