"""One parquet state directory of a stateful stream, with the batch-key
guard that makes its appends exactly-once under at-least-once delivery.

Every stream index keeps its state as append-only parquet directories
(index, match/dup logs, sidecars, bitmaps, pair deltas).  Exactly-once
state under re-delivery needs two things, and this module is the one
place that provides them (the replayable-source + idempotent-sink
argument of *Structured Streaming*, SIGMOD 2018):

- **A deterministic batch identity.** :func:`batch_key` xors the
  xxhash64 of the batch's DISTINCT ids — order-free, so a re-delivered
  batch reproduces it exactly.  The distinct is load-bearing: duplicate
  ids (or per-(doc, token) rows) XOR-cancel pairwise and would collide
  unrelated batches.
- **A landed check that reads no data.** :meth:`BatchLog.append` with a
  key writes under a ``__batch_key=<key>`` partition directory, so "has
  this batch's append already committed?" is a directory-name lookup on
  the driver, and a re-delivered append is skipped.

Appends without a key are plain appends: the streams make those
idempotent by an id anti-join (index/postings) or by set-union
semantics (bloom bitmap).  :meth:`BatchLog.replace` publishes a whole
new version (compaction, collapse, rebuild) through the crash-safe
``dirswap.swap_publish``, and the constructor heals an interrupted one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming.dirswap import (
    n_parquet_files,
    recover_interrupted_swap,
    swap_publish,
)

KEY_COL = "__batch_key"


def batch_key(df: DataFrame, id_col: str) -> int | None:
    """Deterministic identity of a batch: the xor of xxhash64 over its
    DISTINCT ``id_col`` values, or None for an empty batch.  One Spark
    job, one long back to the driver."""
    return (
        df.select(id_col)
        .distinct()
        .agg(F.expr(f"bit_xor(xxhash64({id_col}))"))
        .first()[0]
    )


def _keyed(df: DataFrame, key: int) -> DataFrameWriter:
    keyed = df.withColumn(KEY_COL, F.lit(int(key)).cast("long"))
    return keyed.write.partitionBy(KEY_COL)


class BatchLog:
    """An append-only parquet directory of stream state."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)
        # without this, the makedirs above would present a
        # silently-empty directory after a crash inside a swap
        recover_interrupted_swap(path)

    def n_files(self) -> int:
        return n_parquet_files(self.path)

    def read(self, spark: SparkSession) -> DataFrame | None:
        """The whole log (keyed appends carry ``__batch_key``), or None
        while it holds no parquet file."""
        if not self.n_files():
            return None
        return spark.read.parquet(self.path)

    def landed(self, key: int) -> bool:
        return os.path.isdir(os.path.join(self.path, f"{KEY_COL}={key}"))

    def append(self, df: DataFrame, key: int | None = None) -> None:
        """Append ``df``.  With a ``key`` the rows land under that
        batch's partition directory, and nothing is written when it has
        already landed."""
        if key is None:
            df.write.mode("append").parquet(self.path)
        elif not self.landed(key):
            _keyed(df, key).mode("append").parquet(self.path)

    def replace(self, df: DataFrame, key: int | None = None) -> None:
        """Publish ``df`` as the whole new content (crash-safe swap).
        ``df`` may read the current content: it is written to a
        temporary directory before the old content is retired — but a
        frame that reads it must not be evaluated again afterwards."""

        def write(tmp: str) -> None:
            w = df.write if key is None else _keyed(df, key)
            w.mode("overwrite").parquet(tmp)

        swap_publish(self.path, write)
