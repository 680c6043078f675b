"""Arrow-vectorized gzip codecs — the one decode step Spark has no built-in
scalar function for (SURVEY §2 A9; reference gunzips each record at
main.go:471-479 after base64-decoding it at main.go:463-470).

Pandas UDFs (not row-at-a-time) so the payload batches cross the JVM↔Python
boundary once per Arrow batch.  At 100 TB the gunzip is embarrassingly
parallel and CPU-bound; throughput scales linearly with cores.  Two costs
decide it.  Per Arrow batch, ``spark.sql.execution.arrow.maxRecordsPerBatch``
(default 10k — fine for ~1 KB log payloads, lower it for multi-MB blobs).
Per task, the Python worker's start-of-task set-up: on CPython < 3.13
PySpark's ``importlib.invalidate_caches()`` re-read ``pyspark.zip``'s
directory once per imported subpackage, about 0.65 s of CPU on every task
of every micro-batch, which the daemon entry of ``session.get_spark``
(``worker_daemon``) removes.  The UDFs pickle by value, so that cost
could not be removed from inside this package's import.

Malformed input policy: return NULL instead of raising, so one bad record
dead-letters (filterable as ``IS NULL``) rather than failing the whole batch
— a deliberate improvement over the reference, which 500s the entire HTTP
request on the first bad record (main.go:463-488); see SURVEY §1.3.
"""

from __future__ import annotations

import gzip
import zlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.StringType())
def gunzip_text(data: pd.Series) -> pd.Series:
    """binary (gzip bytes) -> string (UTF-8 payload), NULL on bad input."""

    def _one(b):
        if b is None:
            return None
        try:
            return gzip.decompress(bytes(b)).decode("utf-8")
        except (OSError, zlib.error, UnicodeDecodeError, EOFError):
            return None

    return data.map(_one)


@F.pandas_udf(T.BinaryType())
def gzip_bytes(text: pd.Series) -> pd.Series:
    """string -> gzip bytes (deterministic: mtime=0); test/fixture helper."""

    def _one(s):
        if s is None:
            return None
        return gzip.compress(s.encode("utf-8"), mtime=0)

    return text.map(_one)
