"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

1. Runs every workload with ``--tiny``, untraced and traced, and checks
   that the result line carries exactly the end-to-end (resp. per-layer)
   metrics of BENCHMARK.json, each with its unit and a finite value.
2. Runs a tiny live firehose phase in this process, deletes one sink
   file and checks that the delivery check reports the lost records.

Exit code 0 iff every check passes.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def check_metric_lines() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "1", "--seconds", "2", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{wl} trace={trace}"
            n0 = len(failures)
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
            else:
                out = json.loads(p.stdout.strip().splitlines()[-1])
                want = {m["name"]: m["unit"] for m in bench[kind]}
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if got != want:
                    failures.append(f"{tag}: metrics/units differ: "
                                    f"{sorted(set(got.items()) ^ set(want.items()))}")
                bad = [k for k, v in out["metrics"].items() if not math.isfinite(v["value"])]
                if bad or out["attempted"] < 1 or \
                        set(out) != {"correct", "attempted", "failed", "metrics"}:
                    failures.append(f"{tag}: bad result line {bad} {sorted(out)}")
            print(f"{tag}: {'ok' if len(failures) == n0 else 'FAIL'}", flush=True)
    return failures


def check_firehose_loss() -> list[str]:
    import harness
    import wl_firehose

    run = harness.RunDir(HERE)
    spark = harness.build(run)
    try:
        inp = wl_firehose.Inputs(seed=1, seconds=1.0, tiny=True)
        live = wl_firehose.run_live(spark, inp, run, harness.Tracer(False))
        produced = wl_firehose._produced(inp, inp.live)
        before = wl_firehose.check_delivery(
            produced, wl_firehose.read_output(live["app"].out_dir), live["windows"])
        victim = sorted(glob.glob(os.path.join(
            live["app"].out_dir, "route_id=firehose", "*", "*.parquet")))[0]
        import pyarrow.parquet as pq

        rows = pq.read_metadata(victim).num_rows
        os.remove(victim)
        after = wl_firehose.check_delivery(
            produced, wl_firehose.read_output(live["app"].out_dir), live["windows"])
    finally:
        harness.shutdown()
        run.remove()
    lost = after["lost"] - before["lost"]
    print(f"firehose loss check: deleted {rows} rows, {lost} more reported lost", flush=True)
    if not 0 < lost <= rows:
        return [f"firehose check missed a deleted sink file ({rows} rows, {lost} lost)"]
    return []


def main() -> int:
    failures = check_metric_lines() + check_firehose_loss()
    for f in failures:
        print("FAIL " + f)
    print("selftest " + ("FAILED" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
