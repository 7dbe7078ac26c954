"""BatchLog (streaming/batch_log.py): the one batch-key guard behind the
stream indexes' exactly-once state.

The crash-point sweep drives each key-guarded stream through batch 1,
then crashes batch 2 at every write of its commit sequence in turn
(the i-th ``BatchLog.append``/``replace`` call raises), restarts the
stream on the same workdir, redelivers batch 2, and requires every
state table to hold exactly the rows of a clean run — no lost append,
no duplicated one.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.engine import load_table
from storm_dynamic_spout_spark.streaming.ann_stream import StreamingAnnIndex
from storm_dynamic_spout_spark.streaming.batch_log import BatchLog, batch_key
from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index
from storm_dynamic_spout_spark.streaming.dedup_stream import StreamingDedupIndex
from storm_dynamic_spout_spark.streaming.dirswap import recover_interrupted_swap
from storm_dynamic_spout_spark.streaming.idempotent_sink import (
    IdempotentParquetSink,
)

SF = "/root/testdata/sf0.001"


# -- the primitive -------------------------------------------------------------


def test_keyed_append_lands_once_and_is_a_dirname_lookup(spark, tmp_path):
    log = BatchLog(str(tmp_path / "log"))
    assert log.read(spark) is None and log.n_files() == 0
    df = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "id long, v string")
    key = batch_key(df, "id")
    assert key == batch_key(df.orderBy(F.desc("id")), "id")  # order-free
    assert not log.landed(key)
    log.append(df, key)
    assert log.landed(key)
    assert os.path.isdir(os.path.join(log.path, f"__batch_key={key}"))
    log.append(df, key)  # re-delivery: skipped
    assert sorted(r["id"] for r in log.read(spark).collect()) == [1, 2, 2]
    assert log.n_files() >= 1  # counted inside the partition dir
    assert batch_key(df.filter("id > 5"), "id") is None


def test_replace_publishes_keyed_or_flat(spark, tmp_path):
    log = BatchLog(str(tmp_path / "log"))
    df = spark.createDataFrame([(1,), (2,)], "id long")
    log.append(df)
    log.append(df)
    log.replace(log.read(spark).distinct().coalesce(1), key=7)
    assert log.landed(7) and log.n_files() == 1
    assert sorted(r["id"] for r in log.read(spark).collect()) == [1, 2]
    log.replace(log.read(spark).drop("__batch_key").coalesce(1))
    assert not log.landed(7) and log.n_files() == 1


def test_partitioned_live_dir_survives_a_swap_orphan(tmp_path):
    """A crash after the temporary copy completed but before the old
    content was retired leaves a COMPLETE orphan next to a live dir
    whose data sits in partition subdirectories: recovery keeps the
    live content and drops the orphan."""
    live = tmp_path / "log"
    (live / "__batch_key=1").mkdir(parents=True)
    (live / "__batch_key=1" / "part-0.parquet").write_bytes(b"live")
    orphan = tmp_path / "log-compact-0badf00d"
    orphan.mkdir()
    (orphan / "part-0.parquet").write_bytes(b"tmp")
    (orphan / "_SUCCESS").write_bytes(b"")
    assert recover_interrupted_swap(str(live)) is None
    assert (live / "__batch_key=1" / "part-0.parquet").read_bytes() == b"live"
    assert not orphan.exists()


# -- the crash-point sweep -------------------------------------------------------


class _Crash(RuntimeError):
    """The injected crash."""


def _patch_writes(m, crash_at: int | None) -> dict:
    """Count BatchLog writes; the ``crash_at``-th one raises instead."""
    calls = {"n": 0}

    def wrap(real):
        def write(self, *args, **kwargs):
            i = calls["n"]
            calls["n"] += 1
            if i == crash_at:
                raise _Crash(f"crash before write {i}")
            return real(self, *args, **kwargs)

        return write

    for name in ("append", "replace"):
        m.setattr(BatchLog, name, wrap(getattr(BatchLog, name)))
    return calls


def _docs(spark):
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    return d.filter(F.col("doc_id") < 10), d.filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 20)
    )


def _vectors(spark):
    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    return e.filter(F.col("vec_id") < 30), e.filter(
        (F.col("vec_id") >= 30) & (F.col("vec_id") < 60)
    )


def _open_dedup(root):
    idx = StreamingDedupIndex(os.path.join(root, "dd"))
    return (
        lambda b: idx.process_batch(b, lambda df: df.count()),
        {"index": idx.index_dir, "duplicates": idx.dup_dir},
    )


def _open_sink(root):
    idx = StreamingDedupIndex(os.path.join(root, "dd"))
    sink = IdempotentParquetSink(os.path.join(root, "out"))
    return (
        lambda b: idx.process_batch(b, sink),
        {"index": idx.index_dir, "duplicates": idx.dup_dir, "sink": sink.out_dir},
    )


def _open_ann(root):
    idx = StreamingAnnIndex(root)
    return idx.process_batch, {"index": idx.index_dir, "matches": idx.match_dir}


def _open_bm25(root):
    idx = StreamingBm25Index(root)
    return idx.process_batch, {
        "postings": idx.postings_dir,
        "matches": idx.match_dir,
        "stats": idx.stats_dir,
        "df": idx.df_dir,
    }


#: stream -> (open the stream on a workdir, its two batches)
STREAMS = {
    "StreamingDedupIndex": (_open_dedup, _docs),
    "StreamingAnnIndex": (_open_ann, _vectors),
    "StreamingBm25Index": (_open_bm25, _docs),
    "IdempotentParquetSink": (_open_sink, _docs),
}


def _state(dirs: dict) -> dict:
    """Every state table as a sorted list of rows (a multiset: a
    duplicated append shows), the batch-key partition column included."""
    out = {}
    for name, d in dirs.items():
        # explicit file list: the dataset discovery would skip the
        # "__batch_key=" directories as hidden ("_" prefix)
        files = sorted(
            os.path.join(root, f)
            for root, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )
        t = ds.dataset(
            files, format="parquet", partitioning="hive", partition_base_dir=d
        ).to_table()
        cols = sorted(t.column_names)
        out[name] = sorted(
            tuple(str(r[c]) for c in cols) for r in t.to_pylist()
        )
    return out


@pytest.mark.parametrize("stream", list(STREAMS))
def test_crash_at_every_write_then_redelivery_matches_a_clean_run(
    spark, tmp_path, monkeypatch, stream
):
    open_stream, batches = STREAMS[stream]
    b1, b2 = batches(spark)
    after_b1 = str(tmp_path / "after_b1")
    open_stream(after_b1)[0](b1)

    clean = str(tmp_path / "clean")
    shutil.copytree(after_b1, clean)
    with monkeypatch.context() as m:
        calls = _patch_writes(m, crash_at=None)
        deliver, dirs = open_stream(clean)
        deliver(b2)
    want = _state(dirs)
    assert all(want.values()), f"an empty state table proves nothing: {want}"
    assert calls["n"] >= 2

    for i in range(calls["n"]):
        root = str(tmp_path / f"crash-{i}")
        shutil.copytree(after_b1, root)
        with monkeypatch.context() as m:
            _patch_writes(m, crash_at=i)
            with pytest.raises(_Crash):
                open_stream(root)[0](b2)
        deliver, dirs = open_stream(root)  # restart, then redeliver
        deliver(b2)
        assert _state(dirs) == want, f"{stream}: crash before write {i}"
