"""Streaming incremental near-dup detection (streaming/dedup_stream.py):
the cross-batch property batch dedup cannot give — a doc arriving in
batch N is flagged against docs indexed in batches 1..N-1 — plus
within-batch dedup and at-least-once idempotence.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from storm_dynamic_spout_spark.streaming import FileTopic
from storm_dynamic_spout_spark.streaming.dedup_stream import StreamingDedupIndex

DOC_A = "the quick brown fox jumps over the lazy dog near the river bank today"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
DOC_B = "spark shuffles hash partitions across executors while catalyst optimizes plans"
DOC_C = "completely different text about training data pipelines and tokenizers here"


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def index(tmp_path):
    return StreamingDedupIndex(str(tmp_path / "dd"))


def _collect_sink(store):
    def sink(df):
        store.extend((r["doc_id"], r["text"]) for r in df.collect())

    return sink


def test_cross_batch_near_dup_is_flagged(spark, index):
    out = []
    # batch 1: two distinct docs -> both unique, both indexed
    index.process_batch(_docs_df(spark, [(0, DOC_A), (1, DOC_B)]), _collect_sink(out))
    assert sorted(i for i, _ in out) == [0, 1]
    assert index.duplicates(spark) is None or index.duplicates(spark).count() == 0

    # batch 2: a near-dup of A (one token differs), an exact dup of B,
    # and a genuinely new doc
    out2 = []
    index.process_batch(
        _docs_df(spark, [(2, DOC_A_NEAR), (3, DOC_B), (4, DOC_C)]),
        _collect_sink(out2),
    )
    assert sorted(i for i, _ in out2) == [4]
    dups = {
        r["doc_id"]: r["matched_id"] for r in index.duplicates(spark).collect()
    }
    assert dups == {2: 0, 3: 1}


def test_within_batch_dups_keep_first(spark, index):
    out = []
    index.process_batch(
        _docs_df(spark, [(10, DOC_C), (11, DOC_C), (12, DOC_C)]), _collect_sink(out)
    )
    assert sorted(i for i, _ in out) == [10]
    dups = {r["doc_id"]: r["matched_id"] for r in index.duplicates(spark).collect()}
    assert dups == {11: 10, 12: 10}


def test_redelivered_batch_is_idempotent_in_the_duplog(spark, index):
    index.process_batch(_docs_df(spark, [(0, DOC_A)]), lambda df: df.count())
    batch2 = _docs_df(spark, [(2, DOC_A_NEAR), (4, DOC_C)])
    index.process_batch(batch2, lambda df: df.count())
    first = sorted(
        (r["doc_id"], r["matched_id"]) for r in index.duplicates(spark).collect()
    )
    # redelivery (at-least-once): same batch processed again
    index.process_batch(batch2, lambda df: df.count())
    second = sorted(
        (r["doc_id"], r["matched_id"]) for r in index.duplicates(spark).collect()
    )
    # round-14 upgrade (the bm25/ann batch-key guard): whole-batch
    # re-delivery is EXACTLY-ONCE in the dup log — identical rows, not
    # just an identical pairing set — and no doc matches itself
    assert second == first
    assert all(a != b for a, b in second)


def test_replay_does_not_double_count_bands(spark, tmp_path):
    """r14 advice regression: DOC_A and DOC_A_NEAR share exactly 1 of
    the 2 LSH bands, so at min_band_matches=2 neither flags the other.
    Before the id-unique ``all_seen`` fix, a whole-batch re-delivery
    put the batch's indexed docs in both ``seen`` and ``sig`` — the
    doubled seen rows doubled the pair's band count to 2, newly
    flagging the near-dup ON REPLAY ONLY: the sink set shrank and a
    dup-log row appeared that the first delivery never wrote."""
    index = StreamingDedupIndex(str(tmp_path / "dd"), min_band_matches=2)
    batch = _docs_df(spark, [(0, DOC_A), (1, DOC_A_NEAR)])
    out = []
    index.process_batch(batch, _collect_sink(out))
    assert sorted(i for i, _ in out) == [0, 1]  # 1 shared band < 2

    replay = []
    index.process_batch(batch, _collect_sink(replay))
    assert sorted(i for i, _ in replay) == [0, 1], (
        "replay changed the sink set — seen rows double-counted"
    )
    dups = index.duplicates(spark)
    assert dups is None or dups.count() == 0


def test_duplicates_do_not_enter_the_index(spark, index):
    index.process_batch(_docs_df(spark, [(0, DOC_A)]), lambda df: df.count())
    index.process_batch(_docs_df(spark, [(2, DOC_A_NEAR)]), lambda df: df.count())
    idx_ids = {r["doc_id"] for r in index.index_df(spark).select("doc_id").collect()}
    assert idx_ids == {0}


def test_streaming_pipeline_over_file_topic(spark, tmp_path):
    """End-to-end as a real streaming query: FileTopic -> foreachBatch
    dedup -> parquet sink, two appends drained as separate micro-batches."""
    topic = FileTopic(str(tmp_path / "t"), num_partitions=1)
    index = StreamingDedupIndex(str(tmp_path / "dd"))
    out_dir = str(tmp_path / "out")

    def handle(batch_df, batch_id):
        docs = batch_df.select(
            F.col("offset").alias("doc_id"), F.col("value").alias("text")
        )
        index.process_batch(
            docs, lambda df: df.write.mode("append").parquet(out_dir)
        )

    q = (
        topic.read_stream(spark, max_files_per_trigger=1)
        .writeStream.option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(handle)
        .start()
    )
    try:
        topic.append([(None, DOC_A), (None, DOC_B)])
        q.processAllAvailable()
        topic.append([(None, DOC_A_NEAR), (None, DOC_C)])
        q.processAllAvailable()
    finally:
        q.stop()

    uniques = {
        r["doc_id"]
        for r in spark.read.schema("doc_id long, text string").parquet(out_dir).collect()
    }
    assert uniques == {0, 1, 3}  # offset 2 (= DOC_A_NEAR) deduped
    dups = {r["doc_id"]: r["matched_id"] for r in index.duplicates(spark).collect()}
    assert dups == {2: 0}


def test_empty_batch_is_a_noop(spark, index):
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = []
    index.process_batch(empty, _collect_sink(out))
    assert out == []
    # state machinery still works afterwards
    index.process_batch(_docs_df(spark, [(0, DOC_A)]), _collect_sink(out))
    assert [i for i, _ in out] == [0]


def test_compact_index_merges_files_and_preserves_matching(spark, index):
    import os

    for b, rows in enumerate([[(0, DOC_A)], [(1, DOC_B)], [(4, DOC_C)]]):
        index.process_batch(_docs_df(spark, rows), lambda df: df.count())
    n_files = len([f for f in os.listdir(index.index_dir) if f.endswith(".parquet")])
    assert n_files >= 3
    assert index.compact_index(spark) == 3
    assert len([f for f in os.listdir(index.index_dir) if f.endswith(".parquet")]) == 1
    # matching still works against the compacted index
    out = []
    index.process_batch(_docs_df(spark, [(9, DOC_A_NEAR)]), _collect_sink(out))
    assert out == []
    dups = {r["doc_id"]: r["matched_id"] for r in index.duplicates(spark).collect()}
    assert dups == {9: 0}
