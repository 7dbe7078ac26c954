"""Workload ``firehose_sideline``: the live multi-tenant stream with
runtime sidelines (the paper's core path).

1. Live: an open loop.  The main thread appends ``APPEND_RECORDS``
   records every ``1 / RATE`` s on a fixed schedule that never waits for
   the engine, and stamps each append delivered once the firehose's
   in-memory high-water mark covers its last record from a tenant that
   is never sidelined.  Right after the append at 1/4 of the phase two
   sidelines START, at 1/2 they RESUME (``s_stream`` as a parallel
   replay stream), at 3/4 they RESOLVE; afterwards ``s_batch`` replays
   with ``run_replay``.  A firehose query that dies is restarted from
   its checkpoint.
2. Drain: a fixed backlog through a fresh ``DynamicStreamApp``, timed
   from ``open()`` to ``process_all_available()``, five times.
3. Check (untimed): every produced ``(partition, offset)`` appears once
   in the output, under ``sideline-<id>`` inside that sideline's offset
   window for its tenant and under ``firehose`` otherwise.  Records are
   grouped into operations (appends, sideline lifecycles) whose count
   the seed fixes.
"""

from __future__ import annotations

import os
import sys
import time
import zlib

import numpy as np
import pyarrow.dataset as ds

from harness import quantile, median
from fixtures import zipf_weights

#: Open-loop rate (appends per second) and append size: 20 x 250 =
#: 5k records/s, a sixth of a cold JVM's drain capacity on 4 slow cores
#: (31k records/s) and a twentieth of a warm one's, and 20 latency
#: samples per second of live phase.
RATE = 20
APPEND_RECORDS = 250
#: Drain backlog: DRAIN_FILES appends of DRAIN_RECORDS each (the 100k
#: backlog of the sizing probe), drained DRAINS times by fresh apps
#: after the live phase (drain_rps is their median).  WARM_DRAINS
#: untimed drains come first: the first drains of a JVM run at a third
#: to a half of the warm rate.
DRAIN_FILES, DRAIN_RECORDS, DRAINS, WARM_DRAINS = 40, 2500, 5, 2
#: Traffic mix.  Neither the paper nor its reference implementation
#: gives a tenant count or skew, so these values are arbitrary: a
#: 64-tenant Zipf(1.1) key distribution, and sidelines on the tenants of
#: Zipf rank 2 and 5 (0 = hottest), which hold about 11% of the records.
#: The report prints the share they give (``sidelined_share``).
TENANTS, ZIPF_S = 64, 1.1
SIDELINED_RANKS = {"s_batch": 2, "s_stream": 5}
PARTITIONS = 4
#: Seconds to wait for the tail of the live phase and the replay stream.
SETTLE_TIMEOUT_S = 60.0
#: Restarts of a dead firehose query per run; past it the run stops
#: restarting and the undelivered records count as lost.
MAX_RESTARTS = 3


def _partition(key: str) -> int:
    return zlib.crc32(key.encode("utf-8")) % PARTITIONS


class Inputs:
    def __init__(self, seed: int, seconds: float, tiny: bool) -> None:
        rng = np.random.default_rng([seed, 7])
        # the seed names the tenants (which key holds which Zipf rank,
        # hence which tenants are sidelined); the sidelined ranks are
        # fixed so every seed sidelines the same share of the traffic
        names = [f"t{j:03d}" for j in rng.permutation(TENANTS)]
        w = zipf_weights(TENANTS, ZIPF_S)
        self.sidelined = {sid: names[rank] for sid, rank in SIDELINED_RANKS.items()}
        scale = 10 if tiny else 1

        def keys(n: int) -> list[str]:
            return [names[j] for j in rng.choice(TENANTS, n, p=w)]

        self.drains = [[keys(DRAIN_RECORDS // scale) for _ in range(DRAIN_FILES // scale)]
                       for _ in range(DRAINS + WARM_DRAINS)]
        n_appends = max(8, int(round(seconds * RATE)))
        self.live = [keys(APPEND_RECORDS // scale) for _ in range(n_appends)]
        self.part_of = {k: _partition(k) for k in names}


def prepare(spark, run, seed: int, seconds: float, tiny: bool):
    from storm_dynamic_spout_spark.streaming.file_topic import FileTopic

    inp = Inputs(seed, seconds, tiny)
    paths = []
    for d, files in enumerate(inp.drains):
        path = run.sub(f"drain-{d}-{time.time_ns()}", "topic")
        topic = FileTopic(path, PARTITIONS)
        for i, keys in enumerate(files):
            topic.append((k, f"d{i}:{j}") for j, k in enumerate(keys))
        paths.append(path)
    inp.warm_topics, inp.drain_topics = paths[:WARM_DRAINS], paths[WARM_DRAINS:]
    inp.drains = inp.drains[WARM_DRAINS:]
    return inp


def warm(spark, run, inp) -> None:
    """Tiny drain, sideline and replay through a throwaway app, then the
    untimed full-size drains, so class loading, code generation and JIT
    compilation of the streaming path are not billed to the timed
    phases."""
    from storm_dynamic_spout_spark.streaming.app import DynamicStreamApp

    for path in inp.warm_topics:
        app = DynamicStreamApp(spark, path, os.path.dirname(path), num_partitions=PARTITIONS)
        app.open()
        app.process_all_available()
        app.close()
    d = run.sub(f"warm-{time.time_ns()}")
    app = DynamicStreamApp(spark, os.path.join(d, "topic"), d, num_partitions=PARTITIONS)
    app.produce([(f"t{i % 5:03d}", "w") for i in range(200)])
    app.open()
    app.process_all_available()
    app.sideline_start("w", "key = 't001'")
    app.produce([(f"t{i % 5:03d}", "w") for i in range(200)])
    app.process_all_available()
    app.sideline_resume("w")
    app.sideline_resolve("w")
    app.run_replay("w")
    app.close()


def _progress_of(spark, name: str, seen: dict) -> None:
    """Merge a streaming query's recentProgress into ``seen`` by batchId
    (recentProgress keeps only the last 100 batches)."""
    for q in spark.streams.active:
        if q.name == name:
            for p in q.recentProgress:
                seen[p.batchId] = p


def _active(spark, name: str) -> bool:
    return any(q.name == name for q in spark.streams.active)


def _batch_stats(progress: dict) -> dict:
    ps = [p for _, p in sorted(progress.items()) if p.numInputRows > 0]
    if not ps:
        return {"batches": 0}
    dur = [p.durationMs for p in ps]

    def q(keys, qq):
        return quantile([sum(d.get(k, 0) for k in keys) / 1000.0 for d in dur], qq)

    return {
        "batches": len(ps),
        "rows_per_batch": sum(p.numInputRows for p in ps) / len(ps),
        "trigger_p50_s": q(["triggerExecution"], 0.5),
        "trigger_p95_s": q(["triggerExecution"], 0.95),
        "add_batch_p50_s": q(["addBatch"], 0.5),
        "list_p50_s": q(["latestOffset", "getBatch"], 0.5),
        "commit_p50_s": q(["walCommit", "commitOffsets"], 0.5),
    }


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run_drain(spark, inp, run, tr) -> dict:
    """Drain each prepared backlog with a fresh app; returns per-drain
    apps, record counts, seconds and the batch stats of the last one."""
    from storm_dynamic_spout_spark.streaming.app import DynamicStreamApp

    out = {"apps": [], "records": [], "seconds": []}
    progress: dict = {}
    for d, path in enumerate(inp.drain_topics):
        app = DynamicStreamApp(spark, path, os.path.dirname(path), num_partitions=PARTITIONS)
        with tr.span("drain", "streaming.firehose", op=f"drain-{d}"):
            t0 = time.perf_counter()
            app.open()
            app.process_all_available()
            out["seconds"].append(time.perf_counter() - t0)
        if tr.enabled:
            progress = {}
            _progress_of(spark, "firehose", progress)
        app.close()
        out["apps"].append(app)
        out["records"].append(sum(len(k) for k in inp.drains[d]))
    out["progress"] = _batch_stats(progress)
    return out


def run_live(spark, inp, run, tr) -> dict:
    """The open loop; returns samples and everything the check needs."""
    from storm_dynamic_spout_spark.streaming.app import DynamicStreamApp

    d = run.sub(f"live-{time.time_ns()}")
    app = DynamicStreamApp(spark, os.path.join(d, "topic"), d, num_partitions=PARTITIONS)
    app.open()
    sidelined_keys = set(inp.sidelined.values())
    n = len(inp.live)
    parts, offs, _ = _produced(inp, inp.live)
    # per append: (partition, offset) of its last record from a tenant
    # that is never sidelined -- the record whose delivery is timed
    marks, base = [], 0
    for keys in inp.live:
        j = base + max(j for j, k in enumerate(keys) if k not in sidelined_keys)
        marks.append((int(parts[j]), int(offs[j])))
        base += len(keys)
    pending: list[tuple[int, float, int, int]] = []  # (i, due, partition, offset)
    latency = [0.0] * n
    late, append_s, backlog = [], [], []
    windows: dict[str, dict] = {}
    events: dict[str, float] = {}
    progress: dict = {}
    replay_progress: dict = {}
    replay_q = None
    next_progress_poll = 0.0
    restarts = 0
    next_alive_check = 0.0

    def supervise(now: float) -> None:
        """Restart a firehose query that died, from its checkpoint, as a
        supervisor would (the replay stream with it); the check fails
        the sideline lifecycles for it."""
        nonlocal restarts, replay_q, next_alive_check
        if now < next_alive_check or restarts >= MAX_RESTARTS:
            return
        next_alive_check = now + 0.5
        if _active(spark, "firehose"):
            return
        restarts += 1
        print(f"perfbench: firehose query died, restart {restarts}", file=sys.stderr, flush=True)
        replaying = replay_q is not None
        app.close()
        app.open()
        if replaying:
            replay_q = app.start_replay_stream("s_stream")

    def poll(now: float) -> None:
        nonlocal next_progress_poll
        if not pending:
            return
        prog = app.progress()
        keep = []
        for i, due, p, off in pending:
            if prog[p].current_offset >= off:
                latency[i] = now - due
            else:
                keep.append((i, due, p, off))
        pending[:] = keep
        if tr.enabled:
            t_in = time.perf_counter()
            backlog.append(sum(
                max((pp.ending_offset or 0) - pp.current_offset, 0) for pp in prog.values()
            ))
            if now >= next_progress_poll:
                _progress_of(spark, "firehose", progress)
                _progress_of(spark, "sideline-s_stream", replay_progress)
                next_progress_poll = now + 1.0
            tr.overhead_s += time.perf_counter() - t_in

    t0 = time.perf_counter() + 0.2
    for i, keys in enumerate(inp.live):
        due = t0 + i / RATE
        while (now := time.perf_counter()) < due:
            poll(now)
            supervise(now)
            time.sleep(min(0.005, max(due - time.perf_counter(), 0)))
        late.append(time.perf_counter() - due)
        _, dt, _ = tr.call("topic.append", "streaming.file_topic", app.topic.append,
                           ((k, f"l{i}:{j}") for j, k in enumerate(keys)), op=f"append-{i}")
        append_s.append(dt)
        pending.append((i, due, *marks[i]))
        # sideline transitions follow an append at once, so the firehose
        # has not consumed that append yet: a backlog is always there
        if i == n // 4:
            events["start"] = time.time()
            for sid, key in inp.sidelined.items():
                windows[sid] = {"key": key, "start": dict(
                    app.sideline_start(sid, f"key = '{key}'").start_offsets)}
        elif i == n // 2:
            for sid in inp.sidelined:
                app.sideline_resume(sid)
            replay_q = app.start_replay_stream("s_stream")
        elif i == 3 * n // 4:
            for sid in inp.sidelined:
                windows[sid]["end"] = dict(app.sideline_resolve(sid).end_offsets)
    deadline = time.perf_counter() + SETTLE_TIMEOUT_S
    while pending and (now := time.perf_counter()) < deadline:
        poll(now)
        supervise(now)
        time.sleep(0.005)
    undelivered = len(pending)
    # the parallel replay stream finishes the resolved window
    while (time.perf_counter() < deadline and _active(spark, "sideline-s_stream")
           and not app.replay_stream_complete("s_stream")):
        time.sleep(0.2)
    died = [name for name in ("firehose", "sideline-s_stream") if not _active(spark, name)]
    if tr.enabled:
        _progress_of(spark, "firehose", progress)
        _progress_of(spark, "sideline-s_stream", replay_progress)
    if replay_q is not None:
        replay_q.stop()
    app.controller.complete("s_stream")
    replayed, replay_s, replay_span = tr.call(
        "run_replay", "streaming.sideline", app.run_replay, "s_batch", op="replay")
    app.close()
    effect = None
    if "start" in events:
        after = [p for p in progress.values() if _epoch(p.timestamp) >= events["start"]]
        if after:
            first = min(after, key=lambda p: p.batchId)
            effect = (_epoch(first.timestamp) + first.durationMs.get("triggerExecution", 0)
                      / 1000.0 - events["start"])
    return {
        "app": app,
        "latency": [x for i, x in enumerate(latency) if i not in {q[0] for q in pending}],
        "undelivered": undelivered,
        "died": died,
        "restarts": restarts,
        "late": late,
        "append_s": append_s,
        "backlog": backlog,
        "windows": windows,
        "replay_rows": replayed,
        "replay_s": replay_s,
        "replay_span": replay_span,
        "progress": _batch_stats(progress),
        "replay_progress": _batch_stats(replay_progress),
        "effect_s": effect,
        "topic_files": len([f for f in os.listdir(app.topic.data_dir) if f.endswith(".parquet")]),
        "sink_files": sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(os.path.join(app.out_dir, "route_id=firehose"))
            for f in fs
        ),
    }


def read_output(out_dir: str):
    """(partition, offset, route_id) columns of an app's output table."""
    t = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["partition", "offset", "route_id"])
    return (t.column("partition").to_numpy(), t.column("offset").to_numpy(),
            [str(r) for r in t.column("route_id").to_pylist()])


def check_delivery(produced, output, windows: dict, ops=None) -> dict:
    """Compare produced records with an app's output table.

    ``produced`` is (partitions, offsets, keys); ``output`` is
    (partitions, offsets, route ids); ``ops`` names the operation each
    produced record belongs to.  A record is expected under
    ``sideline-<id>`` when its key is that sideline's tenant and its
    offset lies in the sideline's window ``(start, end]``, else under
    ``firehose``, exactly once.  Counts lost, duplicated and misrouted
    records, the duplicates inside a sideline window, the lost records
    of sidelined tenants from outside their windows (records the
    firehose dropped but no replay covers), and the operations with at
    least one record that broke the rule (``failed_ops``; an output row
    that was never produced is one more)."""
    pp, po, pk = produced
    tenants = {w["key"] for w in windows.values()}
    if ops is None:
        ops = [None] * len(pk)
    expected: dict[tuple[int, int], tuple[str, str, str]] = {}
    for p, o, k, op in zip(pp.tolist(), po.tolist(), pk, ops):
        route = "firehose"
        for sid, w in windows.items():
            if k == w["key"] and w["start"].get(p, -1) < o <= w.get("end", {}).get(p, 2**62):
                route = f"sideline-{sid}"
        expected[(p, o)] = (route, k, op)
    seen: dict[tuple[int, int], list[str]] = {}
    for p, o, r in zip(output[0].tolist(), output[1].tolist(), output[2]):
        seen.setdefault((p, o), []).append(r)
    lost = [v for key, v in expected.items() if key not in seen]
    routes: dict[str, int] = {}
    for route, _, _ in expected.values():
        routes[route] = routes.get(route, 0) + 1
    failed_ops = {op for key, (route, _, op) in expected.items()
                  if len(seen.get(key, ())) != 1 or seen[key][0] != route}
    never_produced = sum(len(rs) for key, rs in seen.items() if key not in expected)
    return {
        "expected": len(expected),
        "expected_by_route": routes,
        "lost": len(lost),
        "duplicated": sum(len(rs) - 1 for rs in seen.values()),
        "duplicated_in_window": sum(
            len(rs) - 1 for key, rs in seen.items()
            if key in expected and expected[key][0] != "firehose"
        ),
        # no copy under the expected route (or an offset never produced)
        "misrouted": sum(
            1 for key, rs in seen.items() if key not in expected or expected[key][0] not in rs
        ),
        "lost_sidelined_tenant": sum(1 for r, k, _ in lost if r == "firehose" and k in tenants),
        "ops": len(set(ops)),
        "failed_ops": len(failed_ops) + never_produced,
        "failed_op_names": sorted(str(op) for op in failed_ops),
    }


def run(spark, run_dir, inp, tr) -> dict:
    live = run_live(spark, inp, run_dir, tr)
    drain = run_drain(spark, inp, run_dir, tr)
    return {"drain": drain, "live": live}


def _produced(inp, files: list[list[str]]):
    """(partitions, offsets, keys) of the records appended to a fresh
    topic, in append order."""
    keys = [k for ks in files for k in ks]
    parts = np.fromiter((inp.part_of[k] for k in keys), np.int32, len(keys))
    offs = np.empty(len(keys), np.int64)
    for p in range(PARTITIONS):
        m = parts == p
        offs[m] = np.arange(int(m.sum()))
    return parts, offs, keys


def _ops(files: list[list[str]], owner: dict[str, str]) -> list[str]:
    """The operation of each produced record, in append order: its
    append, or for a sidelined tenant's record that sideline's whole
    lifecycle (START to replay), which a lost or duplicated record of
    the tenant fails."""
    return [owner.get(k, f"append-{i}") for i, ks in enumerate(files) for k in ks]


def check(res: dict, inp) -> dict:
    drain, live = res["drain"], res["live"]
    out = {}
    for d, app in enumerate(drain["apps"]):
        out[f"drain{d}"] = check_delivery(_produced(inp, inp.drains[d]),
                                          read_output(app.out_dir), {},
                                          _ops(inp.drains[d], {}))
    produced = _produced(inp, inp.live)
    owner = {key: f"sideline-{sid}" for sid, key in inp.sidelined.items()}
    out["live"] = c = check_delivery(produced, read_output(live["app"].out_dir),
                                     live["windows"], _ops(inp.live, owner))
    if live["restarts"]:
        # only the sideline transitions change the filter chain under the
        # running firehose, so a crash of it fails their lifecycles
        names = sorted(set(c["failed_op_names"]) | set(owner.values()))
        c["failed_ops"] += len(names) - len(c["failed_op_names"])
        c["failed_op_names"] = names
    # run_replay returns the rows it wrote: exactly the s_batch tenant's
    # records inside its window, which the seed alone fixes
    c["replay_rows_expected"] = c["expected_by_route"].get("sideline-s_batch", 0)
    c["replay_rows_mismatch"] = abs(live["replay_rows"] - c["replay_rows_expected"])
    tenants = set(inp.sidelined.values())
    c["sidelined_share"] = sum(k in tenants for k in produced[2]) / len(produced[2])
    return out


def metrics(res: dict, chk: dict, tr) -> tuple[dict, dict, dict]:
    """(end-to-end, per-layer, report) metrics of one run."""
    drain, live = res["drain"], res["live"]
    lat = live["latency"]
    e2e = {
        "latency_typical_s": quantile(lat, 0.5),
        "throughput_per_s": median([n / t for n, t in zip(drain["records"], drain["seconds"])]),
    }
    lp, dp, rp = live["progress"], drain["progress"], live["replay_progress"]
    rs = live["replay_span"] or {}
    layer = {
        "topic.append_p50_s": median(live["append_s"]),
        "topic.files": live["topic_files"],
        "firehose.batches": lp.get("batches", 0),
        "firehose.rows_per_batch": lp.get("rows_per_batch", 0.0),
        "firehose.trigger_p50_s": lp.get("trigger_p50_s", 0.0),
        "firehose.trigger_p95_s": lp.get("trigger_p95_s", 0.0),
        "firehose.add_batch_p50_s": lp.get("add_batch_p50_s", 0.0),
        "firehose.list_p50_s": lp.get("list_p50_s", 0.0),
        "firehose.commit_p50_s": lp.get("commit_p50_s", 0.0),
        "firehose.backlog_max_rows": max(live["backlog"], default=0),
        "sink.files_per_batch": live["sink_files"] / max(lp.get("batches", 0), 1),
        "firehose.drain_batches": dp.get("batches", 0),
        "firehose.drain_trigger_p50_s": dp.get("trigger_p50_s", 0.0),
        "replay_stream.batches": rp.get("batches", 0),
        "replay_stream.add_batch_p50_s": rp.get("add_batch_p50_s", 0.0),
        "sideline.effect_s": live["effect_s"] or 0.0,
        "replay.run_s": live["replay_s"],
        "replay.rows": live["replay_rows"],
        "replay.scan_rows": rs.get("input_records", 0),
        "replay.useful_ratio": live["replay_rows"] / rs["input_records"]
        if rs.get("input_records") else 0.0,
        "replay.jobs": rs.get("jobs", 0),
        "firehose.delivery_p95_s": quantile(lat, 0.95),
        "generator.late_p95_s": quantile(live["late"], 0.95),
    }
    report = {
        "delivery_p50_s": e2e["latency_typical_s"],
        "delivery_p95_s": layer["firehose.delivery_p95_s"],
        "delivery_samples": len(lat),
        "undelivered_appends": live["undelivered"],
        "streams_died": live["died"],
        "firehose_restarts": live["restarts"],
        "delivery_latency_s": [round(x, 4) for x in lat],
        "generator_late_p95_s": quantile(live["late"], 0.95),
        "generator_late_max_s": max(live["late"]),
        "drain_rps": e2e["throughput_per_s"],
        "drain_s": drain["seconds"],
        "replay_s": live["replay_s"],
        "sidelined_tenants": sorted(live["windows"][s]["key"] for s in live["windows"]),
        "sidelined_share": chk["live"]["sidelined_share"],
        "replay_rows": live["replay_rows"],
        "check": chk,
    }
    return e2e, layer, report


def outcome(res: dict, chk: dict) -> tuple[int, int, bool]:
    """(attempted, failed, correct).  Operations: every drain append,
    every live append (its records from tenants that are never
    sidelined), each sideline's lifecycle (all records of its tenant),
    and ``run_replay``'s returned row count.  An operation fails when
    one of its records is lost, duplicated or misrouted, or the replay
    count misses its window; a restart of a dead firehose query fails
    every sideline lifecycle (see ``check``).  Output is incorrect when a record is
    found only under a wrong route or the replay count is wrong; lost
    and duplicated records break the delivery guarantee and fail their
    operation."""
    attempted = sum(c["ops"] for c in chk.values()) + 1
    failed = sum(c["failed_ops"] for c in chk.values()) + \
        (1 if chk["live"]["replay_rows_mismatch"] else 0)
    correct = all(c["misrouted"] == 0 and c.get("replay_rows_mismatch", 0) == 0
                  for c in chk.values())
    return attempted, failed, correct
