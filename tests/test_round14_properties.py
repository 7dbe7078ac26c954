"""Round-14 Hypothesis properties: the BM25 sidecar invariant under a
RANDOMIZED writer schedule (r13 verdict item 7).  The sidecars now have
FOUR writers — the per-batch append, the auto-collapse, the compaction
rebuild, and the resume heal — plus the crash-replay repair path; this
property interleaves them arbitrarily and asserts after every step that
the sidecar-sum statistics still equal what a full postings scan would
derive, so a future edit to any one writer can't silently drift the
probe-time statistics."""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from storm_dynamic_spout_spark.engine import load_table
from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index

SF = "/root/testdata/sf0.001"

#: One schedule step.  "batch k" feeds the (possibly overlapping) doc
#: slice doc_id % 5 == k; "crash_replay" runs a batch, rolls the
#: postings append back (the crash-before-commit window), and
#: re-delivers it; "compact" is the maintenance rebuild; "wipe_*"
#: simulate a pre-sidecar-layout resume (the heal path) for one or
#: both sidecar dirs.  The auto-collapse writer fires organically: the
#: index is built with a 1-2 file threshold, so nearly every append
#: triggers it.
_STEP = st.one_of(
    st.tuples(st.just("batch"), st.integers(min_value=0, max_value=4)),
    st.tuples(
        st.just("crash_replay"),
        st.tuples(
            st.integers(min_value=0, max_value=4),
            # how many of the pre-commit appends landed before the
            # crash: 0 = none, 1 = matches, 2 = +stats, 3 = +df (the
            # postings append — the commit point — never lands, and
            # the collapse after it therefore never runs)
            st.integers(min_value=0, max_value=3),
        ),
    ),
    st.tuples(st.just("compact"), st.just(0)),
    st.tuples(st.just("wipe_both"), st.just(0)),
    st.tuples(st.just("wipe_df"), st.just(0)),
)


def _walk_files(d):
    return {
        os.path.join(root, f)
        for root, _, files in os.walk(d)
        for f in files
    }


def _partition_dirs(d):
    return {p for p in os.listdir(d) if os.path.isdir(os.path.join(d, p))}


def _assert_sidecars_match_postings(spark, idx):
    pos = idx.postings_df(spark)
    if pos is None:
        return
    want = (
        pos.select("__id", "__dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__dl").cast("long").alias("s"),
        )
        .first()
    )
    got = idx.sidecar_stats(spark).first()
    assert (got["__n_docs"], got["__sum_dl"]) == (want["n"], want["s"])
    want_df = {
        (r["__tok"], r["__df"])
        for r in pos.groupBy("__tok")
        .agg(F.count_distinct("__id").cast("long").alias("__df"))
        .collect()
    }
    got_df = {(r["__tok"], r["__df"]) for r in idx.sidecar_df(spark).collect()}
    assert got_df == want_df


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    steps=st.lists(_STEP, min_size=2, max_size=6),
    threshold=st.integers(min_value=1, max_value=2),
)
def test_bm25_sidecar_invariant_under_any_writer_schedule(
    spark, steps, threshold
):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 40
    )
    workdir = tempfile.mkdtemp(prefix="bm25-prop-")
    idx = StreamingBm25Index(workdir, sidecar_compact_files=threshold)
    try:
        for op, k in steps:
            if op == "batch":
                idx.process_batch(docs.filter(F.col("doc_id") % 5 == k))
            elif op == "crash_replay":
                slice_k, landed = k
                b = docs.filter(F.col("doc_id") % 5 == slice_k)
                postings_before = _walk_files(idx.postings_dir)
                keyed = (idx.match_dir, idx.stats_dir, idx.df_dir)
                parts_before = {d: _partition_dirs(d) for d in keyed}
                # the crash happens BEFORE the postings commit point,
                # so the post-commit auto-collapse never ran: suppress
                # it for the crashed delivery only
                saved = idx.sidecar_compact_files
                idx.sidecar_compact_files = 10**9
                idx.process_batch(b)
                idx.sidecar_compact_files = saved
                # roll back to the chosen crash point (append order:
                # matches, stats, df, postings)
                for f in _walk_files(idx.postings_dir) - postings_before:
                    os.remove(f)
                # the match log and both sidecars are partitioned by
                # batch key: remove the whole new partition dirs (a
                # half-empty dir would read as landed to the dirname
                # guard)
                for d in keyed[landed:]:
                    for sub in _partition_dirs(d) - parts_before[d]:
                        shutil.rmtree(os.path.join(d, sub))
                idx.process_batch(b)  # re-delivery completes the commit
            elif op == "compact":
                idx.compact_index(spark, target_files=1)
            elif op == "wipe_both":
                for d in (idx.stats_dir, idx.df_dir):
                    shutil.rmtree(d)
                    os.makedirs(d)
                idx = StreamingBm25Index(
                    workdir, sidecar_compact_files=threshold
                )
            elif op == "wipe_df":
                shutil.rmtree(idx.df_dir)
                os.makedirs(idx.df_dir)
            _assert_sidecars_match_postings(spark, idx)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# StreamingBradleyTerry: randomized schedule x crash-mode composition
# ---------------------------------------------------------------------------

_BT_ITEM = st.integers(min_value=1, max_value=4)
_BT_PAIR = st.tuples(_BT_ITEM, _BT_ITEM).filter(lambda t: t[0] != t[1])
_BT_MODE = st.sampled_from(
    ["clean", "dup_append", "marker_rollback", "replay"]
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batches=st.lists(
        st.lists(_BT_PAIR, min_size=1, max_size=6), min_size=1, max_size=3
    ),
    modes=st.lists(_BT_MODE, min_size=3, max_size=3),
    threshold=st.integers(min_value=1, max_value=2),
)
def test_bt_stream_state_is_pure_function_of_committed_schedule(
    spark, batches, modes, threshold
):
    """The determinism contract under ANY interleaving of the crash
    modes: per batch, the delivery may be clean, preceded by a stray
    duplicate delta append (crash between append and publish), replayed
    after a marker rollback (crash between publish and marker), or
    redelivered whole — and with the delta auto-collapse firing at a
    tiny threshold throughout, the final raw strengths must equal the
    plain-Python warm-started replay of the committed batch schedule
    bit for bit."""
    import json
    import tempfile as _tf

    from storm_dynamic_spout_spark.operators.ranking import (
        pairwise_win_counts,
    )
    from storm_dynamic_spout_spark.streaming.bt_stream import (
        BT_STREAM_ITERATIONS,
        StreamingBradleyTerry,
    )
    from tests.test_round14_staging import _py_stream

    idx = StreamingBradleyTerry(
        _tf.mkdtemp(prefix="bt-prop-"), pairs_compact_files=threshold
    )
    for k, rows in enumerate(batches):
        mode = modes[k % len(modes)]
        df = spark.createDataFrame(rows, "winner long, loser long")
        if mode == "dup_append":
            # crash between the delta append and the publish: the
            # stray delta is an EXACT duplicate the cumulative read
            # must drop
            pairwise_win_counts(df, "winner", "loser").withColumn(
                "__batch_id", F.lit(int(k)).cast("long")
            ).write.mode("append").parquet(idx.pairs_dir)
            assert idx.process_batch(df, k) is True
        elif mode == "marker_rollback":
            # crash between the publish and the marker: the replay
            # must short-circuit to the marker, never warm-starting
            # the fit off its own output
            assert idx.process_batch(df, k) is True
            with open(idx.meta_path, "w") as fh:
                json.dump({"last_batch_id": k - 1}, fh)
            assert idx.process_batch(df, k) is True
        elif mode == "replay":
            assert idx.process_batch(df, k) is True
            assert idx.process_batch(df, k) is False
        else:
            assert idx.process_batch(df, k) is True
    got = {r["item"]: r["__p_micro"] for r in idx.strengths(spark).collect()}
    assert got == _py_stream(
        [list(b) for b in batches], BT_STREAM_ITERATIONS
    )
