"""Driver-collect size gate shared by every size-adaptive operator.

The table is measured Spark-side in ONE aggregation: its rows and its
in-memory payload bytes (octet_length for variable-width columns,
the type width for fixed-width ones), i.e. what Arrow holds on the
driver, not an on-disk size. Limits are read at call time, so tests
pin a path by monkeypatching the constants.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

# limits for consumers that turn the collected rows into Python objects
DRIVER_MAX_ROWS = 1_000_000
DRIVER_MAX_BYTES = 32 << 20

_WIDTH = {"boolean": 1, "tinyint": 1, "smallint": 2, "int": 4,
          "bigint": 8, "float": 4, "double": 8, "date": 4,
          "timestamp": 8}

log = logging.getLogger(__name__)


def driver_gate(df: DataFrame, operator: str, max_rows: Optional[int],
                max_bytes: int) -> dict:
    """Logged decision record {operator, rows, bytes, max_rows,
    max_bytes, path}, path "driver" or "distributed". max_rows=None
    leaves rows uncapped. Persist df first if it is read again: this
    job fills the cache."""
    fixed = sum(_WIDTH.get(t, 0) for _, t in df.dtypes)
    var = [F.octet_length(F.col(c) if t in ("string", "binary")
                          else F.col(c).cast("string"))
           for c, t in df.dtypes if t not in _WIDTH]
    row = df.agg(F.count(F.lit(1)),
                 *[F.coalesce(F.sum(v), F.lit(0)) for v in var]).first()
    rows = int(row[0])
    size = rows * fixed + sum(int(v) for v in row[1:])
    fits = (max_rows is None or rows <= max_rows) and size <= max_bytes
    rec = {"operator": operator, "rows": rows, "bytes": size,
           "max_rows": max_rows, "max_bytes": max_bytes,
           "path": "driver" if fits else "distributed"}
    log.info("driver gate %(operator)s: %(rows)d rows, %(bytes)d bytes"
             " -> %(path)s", rec)
    return rec
