"""Engine-owned exactly-once parquet sink for the stateful streams.

Every streaming index is EXACTLY-ONCE on its *state* under
at-least-once delivery, but the ``sink(batch_df)`` callbacks the
streams invoke stay at-least-once by contract: a replayed batch
re-invokes the callback, and idempotence is the downstream's problem
(SEMANTICS row 11).  This helper closes that last edge for the common
case — "write the stream's output to a parquet table" — with the SAME
batch-key guard the state appends use (streaming/batch_log.py): the
batch's distinct ids fold to a key, rows land under a
``__batch_key=<key>`` partition directory, and a re-delivered batch
whose partition dir already exists is skipped without reading a row.

Custom callbacks keep the documented at-least-once contract; this is
the opt-in engine-owned alternative, usable directly as the ``sink``
argument of every stream's ``process_batch``:

    sink = IdempotentParquetSink(out_dir)
    idx.process_batch(batch, sink)       # crash ... redeliver:
    idx.process_batch(batch, sink)       # no duplicate rows

Why the guard is sound here: the key is a pure function of the sink
input's distinct ids, and a crash re-delivers a batch before any later
batch runs, so every stream recomputes the identical sink input and
the same key.  (Re-delivering an already-committed batch AFTER later
batches is outside that contract: the dedup stream's unique set may
then shrink — SEMANTICS row 11 — and the smaller set lands under a new
key.)

At 100 TB: one extra one-scalar aggregate per micro-batch (batch-sized,
never state-sized), a driver dirname lookup per delivery, and the
write itself is the append the caller was already paying.  Partition
count grows by one directory per batch; fold with :meth:`compact` in
the same maintenance window the indexes use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from storm_dynamic_spout_spark.streaming.batch_log import KEY_COL, BatchLog, batch_key


class IdempotentParquetSink:
    """Batch-key-guarded parquet appender; call it like a sink."""

    def __init__(self, out_dir: str, id_col: str = "doc_id") -> None:
        self.out_dir = out_dir
        self.id_col = id_col
        self.log = BatchLog(out_dir)

    def __call__(self, batch_df: DataFrame) -> None:
        key = batch_key(batch_df, self.id_col)
        if key is not None:  # empty batch: nothing to land, nothing to guard
            self.log.append(batch_df, key)

    def rows(self, spark: SparkSession) -> "DataFrame | None":
        """Everything landed so far, without the guard column."""
        df = self.log.read(spark)
        return None if df is None else df.drop(KEY_COL)

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Fold the per-batch partition dirs into ``target_files`` flat
        files (maintenance window — same caveat as the indexes'
        ``compact_index``: not concurrent with deliveries).  The guard
        column is retired with the partitions: post-compaction the
        table is a plain parquet dir, and FUTURE deliveries start a
        fresh guard namespace — correct because compaction runs at a
        CHECKPOINT-COMMITTED boundary (stream stopped, every delivered
        batch committed), and Structured Streaming never re-delivers a
        committed batch, so no pre-compaction batch can replay into
        the fresh namespace.  Crash-safe via dirswap; returns the row
        count."""
        rows = self.rows(spark)
        if rows is None:
            return 0
        self.log.replace(rows.repartition(target_files))
        return self.log.read(spark).count()
