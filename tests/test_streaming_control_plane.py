"""Unit tests for the streaming control plane building blocks
(retry policies, partition distribution, buffers, progress, trigger
events) — the reference's unit-test layer (SURVEY §5.1) re-expressed."""

from __future__ import annotations

import pytest

from storm_dynamic_spout_spark.streaming import (
    ExponentialBackoffRetryPolicy,
    FailedTuplesFirstRetryPolicy,
    FifoBufferPolicy,
    FilterChain,
    NeverRetryPolicy,
    PartitionProgress,
    RatioBufferPolicy,
    RoundRobinBufferPolicy,
    ThrottledBufferPolicy,
    calculate_partition_assignment,
    route_progress,
)


# -- retry policies (ExponentialBackoffRetryManagerTest parity cases) -------


def test_exponential_backoff_schedule():
    p = ExponentialBackoffRetryPolicy(
        retry_limit=3, initial_delay_ms=1000, delay_multiplier=2.0, max_delay_ms=10_000
    )
    # delay = initial * multiplier^(failCount-1)
    assert p.delay_ms(1) == 1000
    assert p.delay_ms(2) == 2000
    assert p.delay_ms(3) == 4000
    assert p.delay_ms(10) == 10_000  # capped at max
    assert p.next_attempt_ts_ms(2, now_ms=50_000) == 52_000


def test_retry_limit_semantics():
    # >0 → cap; 0 → never; <0 → forever (ExponentialBackoffRetryManager.java:212-232)
    capped = ExponentialBackoffRetryPolicy(retry_limit=2)
    assert capped.retry_further(0) and capped.retry_further(1)
    assert not capped.retry_further(2)
    assert not NeverRetryPolicy().retry_further(0)
    forever = ExponentialBackoffRetryPolicy(retry_limit=-1)
    assert forever.retry_further(10_000)


def test_failed_tuples_first_policy():
    p = FailedTuplesFirstRetryPolicy()
    assert p.retry_further(10_000)  # forever
    assert p.delay_ms(5) == 0  # immediately
    assert p.next_attempt_ts_ms(5, now_ms=123) == 123


# -- partition distributor (PartitionDistributorTest parity) ----------------


@pytest.mark.parametrize(
    "total,index,ids,expected",
    [
        (2, 0, [0, 1, 2, 3], [0, 1]),
        (2, 1, [0, 1, 2, 3], [2, 3]),
        (3, 0, [0, 1, 2, 3, 4], [0, 1]),  # remainder to earlier consumers
        (3, 1, [0, 1, 2, 3, 4], [2, 3]),
        (3, 2, [0, 1, 2, 3, 4], [4]),
        (1, 0, [5, 3, 1], [1, 3, 5]),  # sorted
        (4, 3, [0, 1], []),  # more consumers than partitions
    ],
)
def test_partition_assignment(total, index, ids, expected):
    assert calculate_partition_assignment(total, index, ids) == expected


def test_partition_assignment_covers_all_exactly_once():
    ids = list(range(17))
    seen = []
    for i in range(5):
        seen += calculate_partition_assignment(5, i, ids)
    assert sorted(seen) == ids


# -- buffer policies --------------------------------------------------------


def test_buffer_policies():
    assert FifoBufferPolicy().plan("a").max_files_per_trigger is None
    assert RoundRobinBufferPolicy(max_per_trigger=7).plan("a").max_files_per_trigger == 7
    th = ThrottledBufferPolicy(
        throttle_regex="^sideline.*", normal_max_per_trigger=100, throttled_max_per_trigger=5
    )
    assert th.plan("firehose").max_files_per_trigger == 100
    assert th.plan("sideline-x").max_files_per_trigger == 5
    ra = RatioBufferPolicy(ratio=5, base_trigger_interval_ms=1000)
    assert ra.plan("firehose").trigger_interval_ms == 1000
    assert ra.plan("sideline-x").trigger_interval_ms == 5000  # 5:1 cadence


# -- progress arithmetic (SpoutPartitionProgressMonitor parity) -------------


def test_partition_progress():
    pp = PartitionProgress(starting_offset=100, current_offset=150, ending_offset=200)
    assert pp.total_processed == 50
    assert pp.total_unprocessed == 50
    assert pp.total_messages == 100
    assert pp.percent_complete == 50.0
    unbounded = PartitionProgress(100, 150)  # live stream: no ending state
    assert unbounded.percent_complete is None
    done = PartitionProgress(100, 200, 200)
    assert done.percent_complete == 100.0


def test_route_progress():
    prog = route_progress(
        starting={0: -1, 1: 9}, current={0: 4, 1: 9}, ending={0: 9, 1: 19}
    )
    assert prog[0].percent_complete == 50.0
    assert prog[1].total_processed == 0


# -- filter chain -----------------------------------------------------------


def test_filter_chain_mutation_and_json_roundtrip():
    chain = FilterChain()
    chain.add_step("a", "user_id = 1")
    chain.add_step("b", "value < 0")
    with pytest.raises(ValueError):
        chain.add_step("a", "dup")
    restored = FilterChain.from_json(chain.to_json())
    assert restored.steps == {"a": "user_id = 1", "b": "value < 0"}
    assert restored.remove_step("a") == "user_id = 1"
    assert not restored.has_step("a")


def test_filter_chain_steps_can_change_while_building_the_condition(
    spark, monkeypatch
):
    """Sideline START/RESOLVE add and remove steps on the published
    chain from the main thread while the stream thread builds the drop
    condition.  Here the mutation lands deterministically inside the
    build (on its first F.expr call): the build must finish over the
    steps it started with instead of raising "dictionary changed size
    during iteration"."""
    from storm_dynamic_spout_spark.streaming import filter_chain

    chain = FilterChain({"a": "user_id = 1", "b": "value < 0"})
    real_expr = filter_chain.F.expr
    calls = []

    def expr(sql):
        if not calls:
            chain.add_step("c", "user_id = 2")
        calls.append(sql)
        return real_expr(sql)

    monkeypatch.setattr(filter_chain.F, "expr", expr)
    chain.drop_condition()
    assert calls == ["user_id = 1", "value < 0"]
    assert chain.has_step("c")


# -- cluster sizing arithmetic ----------------------------------------------


def test_derive_confs_scaling():
    from storm_dynamic_spout_spark.tuning import ClusterSpec, derive_confs, partitions_for_table

    small = derive_confs(ClusterSpec(executors=10, cores_per_executor=4, max_shuffled_tb=0.1))
    big = derive_confs(ClusterSpec(executors=1000, cores_per_executor=4, max_shuffled_tb=10.0))
    # shuffle partitions scale with data and never drop below 2 waves/core
    assert int(small["spark.sql.shuffle.partitions"]) >= 10 * 4 * 2
    assert int(big["spark.sql.shuffle.partitions"]) >= int(small["spark.sql.shuffle.partitions"])
    # 10 TB shuffle at 128 MB target → ~80k initial partitions
    assert int(big["spark.sql.shuffle.partitions"]) == 10 * 1024 * 1024 // 128
    for confs in (small, big):
        assert confs["spark.sql.adaptive.enabled"] == "true"
        assert confs["spark.sql.adaptive.skewJoin.enabled"] == "true"
    # bucket count for a 1 TB table at 128 MB per bucket
    assert partitions_for_table(1.0) == 8192


# -- scalar/column dual-implementation consistency ---------------------------


def test_retry_scalar_and_column_forms_agree(spark):
    """The policy arithmetic exists twice — pure-Python (unit-testable,
    used by schedulers) and Column-form (the distributed retry table).
    They must never drift: evaluate both over a grid of policies and
    attempt counts and compare exactly."""
    from pyspark.sql import functions as F

    policies = [
        ExponentialBackoffRetryPolicy(retry_limit=25, initial_delay_ms=1000,
                                      delay_multiplier=2.0, max_delay_ms=900_000),
        ExponentialBackoffRetryPolicy(retry_limit=-1, initial_delay_ms=7,
                                      delay_multiplier=3.5, max_delay_ms=10_000),
        ExponentialBackoffRetryPolicy(retry_limit=0, initial_delay_ms=500,
                                      delay_multiplier=1.0, max_delay_ms=500),
        FailedTuplesFirstRetryPolicy(),
        NeverRetryPolicy(),
    ]
    attempts_df = spark.range(1, 41).withColumnRenamed("id", "attempts")
    for p in policies:
        rows = attempts_df.select(
            "attempts",
            p.delay_col(F.col("attempts")).alias("delay"),
            p.retry_further_col(F.col("attempts")).alias("further"),
        ).collect()
        for r in rows:
            a = r["attempts"]
            assert r["delay"] == p.delay_ms(a), (p, a)
            assert r["further"] == p.retry_further(a), (p, a)


def test_merge_routes_empty_rejected(spark):
    from storm_dynamic_spout_spark.streaming import merge_routes

    with pytest.raises(ValueError):
        merge_routes({})


# -- metric key interpolation (KeyBuilder parity) ---------------------------


def test_metric_key_interpolation():
    from storm_dynamic_spout_spark.streaming.metrics import MetricsRecorder, build_key

    assert build_key("vspout.{}.ack", "fh") == "vspout.fh.ack"
    assert build_key("a.{}.{}.c", 1, "b") == "a.1.b.c"
    assert build_key("plain") == "plain"
    assert build_key("x.{}", ) == "x.{}"  # missing param stays literal
    assert build_key("x.{}", "a", "extra") == "x.a"  # extras ignored
    rec = MetricsRecorder()
    rec.count("vspout.{}.emit", 3, "r1")
    rec.assign_value("vspout.{}.lag", 7, "r1")
    assert rec.counters["vspout.r1.emit"] == 3
    assert rec.gauges["vspout.r1.lag"] == 7


def test_ratio_buffer_throughput(spark, tmp_path):
    """RatioMessageBuffer parity, measured not just planned: with a
    1-file-per-trigger cap, the 4:1 trigger cadence bounds the
    throttled route to ~1/4 of the live route's drain rate. Margin is
    2x (not 4x) to tolerate host noise.
    """
    import time

    from storm_dynamic_spout_spark.streaming import FileTopic

    topic = FileTopic(str(tmp_path / "t"), num_partitions=1)
    for i in range(80):
        topic.append([("k", str(i))])  # 80 single-record files

    policy = RatioBufferPolicy(ratio=4, base_trigger_interval_ms=250, max_per_trigger=1)
    plans = {rid: policy.plan(rid) for rid in ("live", "sideline-a")}
    assert plans["live"].trigger_interval_ms == 250
    assert plans["sideline-a"].trigger_interval_ms == 1000
    assert all(p.max_files_per_trigger == 1 for p in plans.values())

    queries = {}
    try:
        for rid, plan in plans.items():
            df = topic.read_stream(spark, max_files_per_trigger=plan.max_files_per_trigger)
            queries[rid] = (
                df.writeStream.queryName(f"ratio_tp_{rid}".replace("-", "_"))
                .format("memory")
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ck_{rid}"))
                .trigger(processingTime=f"{plan.trigger_interval_ms} milliseconds")
                .start()
            )
        time.sleep(8)
        counts = {rid: spark.table(f"ratio_tp_{rid}".replace("-", "_")).count() for rid in queries}
    finally:
        for q in queries.values():
            q.stop()
    assert counts["sideline-a"] >= 1, counts
    assert counts["live"] < 80, f"live drained everything; cadence cap ineffective: {counts}"
    assert counts["live"] >= 2 * counts["sideline-a"], counts


def test_in_memory_persistence_adapter(tmp_path):
    """InMemorySidelinePersistence: same CRUD surface as the file
    adapter, injectable into the controller (InMemoryPersistenceAdapter
    parity)."""
    from storm_dynamic_spout_spark.streaming import FileTopic, FilterChain
    from storm_dynamic_spout_spark.streaming.sideline import (
        InMemorySidelinePersistence,
        SidelineController,
        SidelineRequest,
        SidelineType,
    )

    topic = FileTopic(str(tmp_path / "t"), num_partitions=1)
    mem = InMemorySidelinePersistence()
    ctl = SidelineController(topic, FilterChain(), str(tmp_path / "s"), persistence=mem)
    ctl.start(SidelineRequest("s1", "key = 'a'"))
    assert mem.list_ids() == ["s1"]
    assert ctl.persistence.retrieve("s1").type is SidelineType.START
    ctl.resume("s1")
    ctl.resolve("s1")
    ctl.complete("s1")
    assert mem.list_ids() == []
    # nothing ever touched the state dir (not even created)
    import os

    assert not os.path.exists(str(tmp_path / "s"))


def test_timer_manager_keyed_timers():
    """TimerManager parity: start/stop by key, elapsed recorded into
    the recorder's timer series; stopping an unstarted key raises."""
    import pytest

    from storm_dynamic_spout_spark.streaming.metrics import (
        MetricsRecorder,
        TimerManager,
    )

    rec = MetricsRecorder()
    tm = TimerManager(rec)
    tm.start("batch")
    ms = tm.stop("batch")
    assert ms >= 0
    assert len(rec.timers["batch"]) == 1
    with pytest.raises(KeyError):
        tm.stop("batch")


def test_trigger_spi_base_class(tmp_path):
    """FileWatchTrigger is a SidelineTrigger; a custom subclass plugs in
    via the same poll() seam."""
    from storm_dynamic_spout_spark.streaming import FileTopic, FilterChain
    from storm_dynamic_spout_spark.streaming.sideline import (
        FileWatchTrigger,
        SidelineController,
        SidelineTrigger,
    )

    topic = FileTopic(str(tmp_path / "t"), num_partitions=1)
    ctl = SidelineController(topic, FilterChain(), str(tmp_path / "s"))
    assert isinstance(FileWatchTrigger(str(tmp_path / "e"), ctl), SidelineTrigger)

    class ListTrigger(SidelineTrigger):
        def __init__(self, commands):
            self.commands = commands

        def poll(self):
            n = 0
            while self.commands:
                sid, pred = self.commands.pop(0)
                self.controller.start(
                    __import__(
                        "storm_dynamic_spout_spark.streaming.sideline",
                        fromlist=["SidelineRequest"],
                    ).SidelineRequest(sid, pred)
                )
                n += 1
            return n

    trig = ListTrigger([("sx", "key = 'x'")])
    trig.open(ctl)
    assert trig.poll() == 1
    assert ctl.chain.has_step("sx")
