"""The stateful stream indexes, the second half of workload ``batch``.

The fixture ``documents`` are read once through ``load_table``, split
into batches by a seeded permutation and cached before timing.  Each
batch goes through ``StreamingDedupIndex.process_batch`` (noop sink) and
``StreamingBm25Index.process_batch``; ``compact_index`` runs on both at
the midpoint and one seeded batch is redelivered at the end.

Check (untimed): per batch, the dedup sink ids and the dup-log ids
partition the batch ids; redelivering a batch leaves every state table's
row set unchanged and hands the sink no doc the first delivery did not.
"""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import numpy as np

from harness import cpu_util, median, sum_stats

#: Documents per batch and batches per run (state grows every batch);
#: WARM_DOCS more go through throwaway indexes before timing.
BATCH_DOCS = 40
N_BATCHES = 2
WARM_DOCS = 20


def prepare(spark, seed: int, sf_dir: str, tiny: bool):
    """Batches of the ``documents`` table of the fixture tables in
    ``sf_dir``."""
    from pyspark.sql import functions as F

    from storm_dynamic_spout_spark.engine import load_table

    inp = SimpleNamespace()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").cache()
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    order = np.random.default_rng([seed, 11]).permutation(len(ids))
    size = 20 if tiny else BATCH_DOCS
    inp.ids = [{ids[i] for i in order[b * size:(b + 1) * size]} for b in range(N_BATCHES)]
    inp.batches = [docs.filter(F.col("doc_id").isin(sorted(b))).cache() for b in inp.ids]
    warm_ids = [ids[i] for i in order[N_BATCHES * size:N_BATCHES * size + WARM_DOCS]]
    inp.warm_batch = docs.filter(F.col("doc_id").isin(warm_ids)).cache()
    for b in inp.batches + [inp.warm_batch]:
        b.count()
    inp.redeliver = int(np.random.default_rng([seed, 12]).integers(0, N_BATCHES))
    return inp


def warm(spark, run, inp) -> None:
    """A batch of other documents through throwaway indexes, so class
    loading and code generation of the index plans are not billed to
    the timed batches."""
    from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index
    from storm_dynamic_spout_spark.streaming.dedup_stream import StreamingDedupIndex

    d = run.sub(f"warm-index-{time.time_ns()}")
    dedup = StreamingDedupIndex(os.path.join(d, "dedup"))
    bm25 = StreamingBm25Index(os.path.join(d, "bm25"))
    dedup.process_batch(inp.warm_batch, _noop_sink([]))
    bm25.process_batch(inp.warm_batch)


def _noop_sink(captured: list):
    """The dedup sink: a noop write whose observed metric collects the
    unique ids, so the check needs no second evaluation of the lazy
    frame (whose lineage reads the pre-append index)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def sink(df):
        obs = Observation(f"sink-{len(captured)}-{time.time_ns()}")
        df.observe(obs, F.collect_list("doc_id").alias("ids")) \
            .write.format("noop").mode("overwrite").save()
        captured.append(set(obs.get["ids"]))

    return sink


def _dir_stats(d: str) -> tuple[int, int]:
    size = files = 0
    for root, _, fs in os.walk(d):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return size, files


def _state_rows(spark, dirs: dict) -> dict:
    """Sorted row tuples of every state table, read in parallel."""
    from concurrent.futures import ThreadPoolExecutor

    def rows(d: str) -> list:
        if _dir_stats(d)[1] == 0:
            return []
        df = spark.read.parquet(d)
        return sorted(tuple(str(v) for v in r) for r in df.select(sorted(df.columns)).collect())

    with ThreadPoolExecutor(len(dirs)) as pool:
        futures = {name: pool.submit(rows, d) for name, d in dirs.items()}
        return {name: f.result() for name, f in futures.items()}


def run(spark, run_dir, inp, tr) -> dict:
    from storm_dynamic_spout_spark.streaming.bm25_stream import StreamingBm25Index
    from storm_dynamic_spout_spark.streaming.dedup_stream import StreamingDedupIndex

    d = run_dir.sub(f"index-{time.time_ns()}")
    dedup = StreamingDedupIndex(os.path.join(d, "dedup"))
    bm25 = StreamingBm25Index(os.path.join(d, "bm25"))
    captured: list[set] = []
    sink = _noop_sink(captured)
    res = {"dedup": [], "bm25": [], "batch": [], "spans": []}
    t_start = time.perf_counter()
    for b, df in enumerate(inp.batches):
        with tr.span(f"batch-{b}", "harness", op=f"batch-{b}"):
            _, t1, s1 = tr.call("dedup.process_batch", "streaming.dedup_stream",
                                dedup.process_batch, df, sink)
            _, t2, s2 = tr.call("bm25.process_batch", "streaming.bm25_stream",
                                bm25.process_batch, df)
        res["dedup"].append((t1, s1))
        res["bm25"].append((t2, s2))
        res["batch"].append(t1 + t2)
        if b == (N_BATCHES - 1) // 2:
            with tr.span("compact", "harness", op="compact"):
                _, res["dedup_compact_s"], s3 = tr.call(
                    "dedup.compact_index", "streaming.dedup_stream", dedup.compact_index, spark)
                _, res["bm25_compact_s"], s4 = tr.call(
                    "bm25.compact_index", "streaming.bm25_stream", bm25.compact_index, spark)
            res["spans"] += [s3, s4]
    t_main = time.perf_counter() - t_start
    dirs = {
        "dedup.index": dedup.index_dir, "dedup.duplicates": dedup.dup_dir,
        "bm25.postings": bm25.postings_dir, "bm25.matches": bm25.match_dir,
        "bm25.stats": bm25.stats_dir, "bm25.df": bm25.df_dir,
    }
    dups = dedup.duplicates(spark)
    res["dup_ids"] = {r["doc_id"] for r in dups.select("doc_id").collect()} \
        if dups is not None else set()
    before = _state_rows(spark, dirs)
    r = inp.redeliver
    with tr.span("redeliver", "harness", op="redeliver"):
        _, res["dedup_redeliver_s"], s5 = tr.call(
            "dedup.process_batch", "streaming.dedup_stream",
            dedup.process_batch, inp.batches[r], sink)
        _, res["bm25_redeliver_s"], s6 = tr.call(
            "bm25.process_batch", "streaming.bm25_stream", bm25.process_batch, inp.batches[r])
    res["spans"] += [s5, s6]
    res["wall"] = t_main + res["dedup_redeliver_s"] + res["bm25_redeliver_s"]
    res["n_docs"] = sum(len(ids) for ids in inp.ids) + len(inp.ids[r])
    res["after"] = _state_rows(spark, dirs)
    res["before"] = before
    res["captured"] = captured
    res["state"] = {name: _dir_stats(p) for name, p in dirs.items()}
    return res


def check(res: dict, inp) -> dict:
    bad_batches = 0
    for b, ids in enumerate(inp.ids):
        sink_ids = res["captured"][b]
        dup_ids = res["dup_ids"] & ids
        if sink_ids & dup_ids or (sink_ids | dup_ids) != ids:
            bad_batches += 1
    changed = [n for n in res["before"] if res["before"][n] != res["after"][n]]
    # at-least-once: the redelivery may hand the sink a subset of the
    # first delivery's unique docs, never a doc found to be a duplicate
    first, again = res["captured"][inp.redeliver], res["captured"][-1]
    return {"batches": len(inp.ids), "bad_batches": bad_batches,
            "state_tables": len(res["before"]), "changed_on_redelivery": changed,
            "redelivered_sink_new_ids": len(again - first),
            "redelivered_sink_dropped_ids": len(first - again),
            "duplicates_found": len(res["dup_ids"])}


def metrics(res: dict, chk: dict, tr) -> tuple[dict, dict, dict]:
    e2e = {
        "latency_typical_s": median(res["batch"]),
        "throughput_per_s": res["n_docs"] / res["wall"],
    }
    layer = {}
    for name in ("dedup", "bm25"):
        times = [t for t, _ in res[name]]
        spans = [s for _, s in res[name]]
        size, files = _dir_stats_sum(res["state"], name)
        layer.update({
            f"{name}.batch_p50_s": median(times),
            f"{name}.batch_jobs": spans[-1]["jobs"] if spans[-1] else 0,
            f"{name}.batch_growth": times[-1] / times[0],
            f"{name}.state_bytes": size,
            f"{name}.state_files": files,
            f"{name}.redeliver_s": res[f"{name}_redeliver_s"],
            f"{name}.compact_s": res[f"{name}_compact_s"],
        })
    tot = sum_stats([s for _, s in res["dedup"] + res["bm25"]] + res["spans"])
    layer["index.shuffle_bytes"] = tot["shuffle_bytes"]
    layer["index.cpu_util"] = cpu_util(tot) if tr.enabled else 0.0
    report = {
        "index_batch_p50_s": e2e["latency_typical_s"],
        "index_docs_per_s": e2e["throughput_per_s"],
        "batch_s": res["batch"],
        "check": chk,
    }
    return e2e, layer, report


def _dir_stats_sum(state: dict, prefix: str) -> tuple[int, int]:
    size = files = 0
    for name, (s, f) in state.items():
        if name.startswith(prefix + "."):
            size += s
            files += f
    return size, files


def outcome(res: dict, chk: dict) -> tuple[int, int, bool]:
    """(attempted, failed, correct): each process_batch and compaction
    call is one operation.  A batch whose sink and dup-log ids do not
    partition it fails, and so does a redelivery that changes a state
    table or hands the sink a doc the first delivery did not."""
    attempted = 2 * len(res["batch"]) + 2 + 2
    failed = chk["bad_batches"] + len(chk["changed_on_redelivery"]) + \
        (1 if chk["redelivered_sink_new_ids"] else 0)
    return attempted, failed, failed == 0
