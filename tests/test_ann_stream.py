"""StreamingAnnIndex scenario coverage: cold start, per-batch matching
against the pre-batch index only, idempotent re-delivery, and growth
bookkeeping (the oracle-checked catalog entry `stream_ann_index`
covers values; these cover the multi-batch mechanics)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.engine import load_table
from storm_dynamic_spout_spark.streaming.ann_stream import StreamingAnnIndex

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def test_first_batch_produces_no_matches_but_indexes(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t1-"))
    batch = _emb(spark).limit(50)
    idx.process_batch(batch)
    assert idx.matches(spark) is None
    assert idx.index_df(spark).count() == 50


def test_second_batch_matches_only_against_prebatch_index(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t2-"))
    e = _emb(spark)
    idx.process_batch(e.filter(F.col("vec_id") < 100))
    idx.process_batch(e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)))
    m = idx.matches(spark)
    assert m is not None
    rows = m.collect()
    assert rows, "second batch found no same-bucket neighbors"
    # every query is from batch 2, every neighbor from batch 1
    assert all(r["query_id"] >= 100 for r in rows)
    assert all(r["neighbor_id"] < 100 for r in rows)
    # top-k contract: ranks are 1..k dense per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    assert all(len(v) <= idx.k for v in by_q.values())


def test_redelivered_batch_is_a_noop(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t3-"))
    e = _emb(spark)
    b1 = e.filter(F.col("vec_id") < 100)
    b2 = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    idx.process_batch(b1)
    idx.process_batch(b2)
    n_matches = idx.matches(spark).count()
    n_index = idx.index_df(spark).count()
    # at-least-once: the same batch arrives again
    idx.process_batch(b2)
    assert idx.matches(spark).count() == n_matches
    assert idx.index_df(spark).count() == n_index


def test_index_grows_by_unique_vectors_only(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t4-"))
    e = _emb(spark)
    idx.process_batch(e.filter(F.col("vec_id") < 100))
    # overlapping batch: 50 old + 50 new
    idx.process_batch(e.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 150)))
    assert idx.index_df(spark).count() == 150
    # overlapping ids never re-match themselves into the log
    m = idx.matches(spark)
    assert all(r["query_id"] >= 100 for r in m.collect())


def test_compact_index_preserves_matching(spark):
    idx = StreamingAnnIndex(tempfile.mkdtemp(prefix="ann-t5-"))
    e = _emb(spark)
    idx.process_batch(e.filter(F.col("vec_id") < 60))
    idx.process_batch(e.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 120)))
    import os

    n_files_before = sum(
        f.endswith(".parquet") for f in os.listdir(idx.index_dir)
    )
    n = idx.compact_index(spark, target_files=1)
    assert n == 120
    n_files_after = sum(f.endswith(".parquet") for f in os.listdir(idx.index_dir))
    assert n_files_after < n_files_before
    # matching against the compacted index behaves identically
    before = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in idx.matches(spark).collect()
    }
    idx.process_batch(e.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 160)))
    after = idx.matches(spark)
    assert after.count() > len(before)
    new_rows = {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in after.collect()
    } - before
    assert all(q >= 120 and n2 < 120 for q, n2, _ in new_rows)
