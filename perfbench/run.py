"""Benchmark entry point.

    python3 perfbench/run.py --workload firehose_sideline --seed 1 --seconds 20 --trace 0

Runs one workload (see README.md) from the root of a checkout on
``local[<cores>]`` in this one Python process, checks its outputs and
prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Lines before it give the host block, the workload's
named metrics and the error counts.  ``--tiny`` shrinks every input for
the self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
import wl_batch  # noqa: E402
import wl_firehose  # noqa: E402

WORKLOADS = {
    "firehose_sideline": wl_firehose,
    "batch": wl_batch,
}
#: Hard limit on one run; past it the run is killed without a result.
WATCHDOG_S = 175.0
LAYERS = (
    "harness", "engine", "catalog", "operators", "streaming.file_topic",
    "streaming.firehose", "streaming.sideline", "streaming.dedup_stream",
    "streaming.bm25_stream",
)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def _log(msg: str) -> None:
    print(f"perfbench {harness.process_age_s():7.2f}s {msg}", file=sys.stderr, flush=True)


def _setup(wl, run, args):
    """Session, inputs, warm-up.  setup_s is the process's age when the
    first timed operation is ready, so interpreter start-up, imports and
    the JVM launch count.  Returns the session, the inputs, setup_s and
    the seconds of each set-up phase."""
    phases = {"start_s": harness.process_age_s()}
    t0 = time.perf_counter()
    spark = harness.build(run)
    phases["build_session_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    inp = wl.prepare(spark, run, args.seed, args.seconds, args.tiny)
    phases["prepare_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warm(spark, run, inp)
    phases["warm_s"] = time.perf_counter() - t0
    setup_s = harness.process_age_s()
    _log(f"setup {setup_s:.2f}s " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    return spark, inp, setup_s, phases


def _layer_metrics(layer: dict, tr, phases, declared) -> dict:
    out = {name: 0 for name in declared}
    out.update(layer)
    out["engine.build_session_s"] = phases["build_session_s"]
    selft = tr.self_times()
    for name in LAYERS:
        out[f"self_s.{name}"] = selft.get(name, 0.0)
    out["trace.overhead_s"] = tr.overhead_s
    out["trace.spans"] = len(tr.spans)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()
    try:
        import storm_dynamic_spout_spark.engine  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    declared = _declared()
    wl = WORKLOADS[args.workload]
    run = harness.RunDir(HERE)

    def _expire() -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S}s", file=sys.stderr)
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        run.remove()
        os._exit(3)

    watchdog = threading.Timer(WATCHDOG_S, _expire)
    watchdog.daemon = True
    watchdog.start()
    try:
        spark, inp, setup_s, phases = _setup(wl, run, args)
        tr = harness.Tracer(bool(args.trace), spark if args.trace else None)
        res = wl.run(spark, run, inp, tr)
        rss = harness.peak_rss_mb()
        rss_all = harness.peak_rss_by_process()
        _log("workload done")
        chk = wl.check(res, inp)
        _log("check done")
        e2e, layer, report = wl.metrics(res, chk, tr)
        attempted, failed, correct = wl.outcome(res, chk)
        host = harness.host_block(spark)
        _log("host block done")
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        return 1
    finally:
        harness.shutdown()
        run.remove()
        watchdog.cancel()
        _log("stopped")

    e2e.update(setup_s=setup_s, peak_rss_mb=rss)
    if args.trace:
        values = _layer_metrics(layer, tr, phases, declared["per_layer"])
        units = declared["per_layer"]
        tr.write(os.path.join(HERE, "traces", f"{args.workload}-s{args.seed}.jsonl"))
    else:
        values, units = e2e, declared["end_to_end"]
    if set(values) != set(units):
        raise KeyError(f"metric set differs from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    payload = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "host": host, "setup_phases_s": phases, "rss_mb": rss_all, "report": report,
               "attempted": attempted, "failed": failed, "correct": correct,
               "metrics": metrics}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(payload, f, indent=1, default=str)
    print("host " + json.dumps(host))
    print("report " + json.dumps(
        {k: v for k, v in report.items() if not (isinstance(v, list) and len(v) > 10)},
        default=str))
    print(f"errors attempted={attempted} failed={failed} "
          f"error_rate={failed / attempted:.6f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
