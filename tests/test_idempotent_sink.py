"""IdempotentParquetSink (r14 verdict item 4): the engine-owned sink
that closes the last at-least-once edge — sink callbacks under
whole-batch re-delivery.  The crash-between-appends windows of the
sink driven by the dedup stream are swept in tests/test_batch_log.py."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming.idempotent_sink import (
    IdempotentParquetSink,
)

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_B = "spark shuffles hash partitions across executors while catalyst optimizes plans"


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(spark, sink):
    df = sink.rows(spark)
    return sorted((r["doc_id"], r["text"]) for r in df.collect()) if df is not None else []


def test_redelivered_batch_lands_once(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    batch = _docs_df(spark, [(0, DOC_A), (1, DOC_B)])
    sink(batch)
    first = _rows(spark, sink)
    assert [i for i, _ in first] == [0, 1]
    sink(batch)  # at-least-once re-delivery
    assert _rows(spark, sink) == first


def test_distinct_batches_both_land(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, [(0, DOC_A)]))
    sink(_docs_df(spark, [(1, DOC_B)]))
    assert [i for i, _ in _rows(spark, sink)] == [0, 1]


def test_duplicate_rows_do_not_cancel_the_key(spark, tmp_path):
    """The r13 BM25 lesson, pinned here too: a batch whose ids appear
    an even number of times must not XOR-fold to a colliding key — the
    key runs over DISTINCT ids."""
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, [(0, DOC_A), (0, DOC_A)]))  # even multiplicity
    assert [i for i, _ in _rows(spark, sink)] == [0, 0]
    sink(_docs_df(spark, [(1, DOC_B)]))
    assert [i for i, _ in _rows(spark, sink)] == [0, 0, 1]


def test_empty_batch_is_a_noop(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, []))
    assert sink.rows(spark) is None


def test_compact_folds_partitions_and_preserves_rows(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink(_docs_df(spark, [(0, DOC_A)]))
    sink(_docs_df(spark, [(1, DOC_B)]))
    before = _rows(spark, sink)
    n = sink.compact(spark, target_files=1)
    assert n == 2
    assert _rows(spark, sink) == before
    # partition dirs retired: flat parquet files only
    subdirs = [
        d
        for d in os.listdir(sink.out_dir)
        if os.path.isdir(os.path.join(sink.out_dir, d))
    ]
    assert subdirs == []


def test_constructor_heals_interrupted_compact_swap(spark, tmp_path):
    out = str(tmp_path / "out")
    sink = IdempotentParquetSink(out)
    sink(_docs_df(spark, [(0, DOC_A)]))
    before = _rows(spark, sink)
    # simulate a crash mid-swap: live dir renamed aside, nothing new
    token_dir = out + "-old-crashtoken"
    shutil.move(out, token_dir)
    healed = IdempotentParquetSink(out)
    assert _rows(spark, healed) == before
