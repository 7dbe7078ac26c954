"""Workload ``batch``: the query catalog, then the stateful stream
indexes, in one session over one set of generated fixture tables.

1. Catalog (``wl_catalog``): the ``short`` and ``iterative`` query sets,
   each query built and run to a noop sink once, in a seeded order.
2. Indexes (``wl_index``): seeded batches of ``documents`` through
   ``StreamingDedupIndex`` and ``StreamingBm25Index``, with a
   compaction after the first batch and a seeded redelivery.

Neither part touches the firehose.  End to end, ``latency_typical_s``
is the catalog's typical query time and ``throughput_per_s`` the
documents per second through the indexes.
"""

from __future__ import annotations

import gc
import time
from types import SimpleNamespace

import wl_catalog
import wl_index
from fixtures import write_tables

#: Fixture scale of the generated tables.
SF = 0.01


def prepare(spark, run, seed: int, seconds: float, tiny: bool):
    sf_dir = write_tables(run.sub(f"fixtures-{time.time_ns()}"), 0.002 if tiny else SF)
    return SimpleNamespace(
        catalog=wl_catalog.prepare(seed, sf_dir),
        index=wl_index.prepare(spark, seed, sf_dir, tiny),
    )


def warm(spark, run, inp) -> None:
    wl_catalog.warm(spark, run, inp.catalog)
    wl_index.warm(spark, run, inp.index)


def run(spark, run_dir, inp, tr) -> dict:
    res = {"catalog": wl_catalog.run(spark, run_dir, inp.catalog, tr)}
    # the catalog's garbage is collected between the parts (untimed), so
    # the index part does not pay for it at a varying point
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    res["index"] = wl_index.run(spark, run_dir, inp.index, tr)
    return res


def check(res: dict, inp) -> dict:
    return {"catalog": wl_catalog.check(res["catalog"], inp.catalog),
            "index": wl_index.check(res["index"], inp.index)}


def metrics(res: dict, chk: dict, tr) -> tuple[dict, dict, dict]:
    """(end-to-end, per-layer, report) metrics of one run."""
    ce, cl, cr = wl_catalog.metrics(res["catalog"], chk["catalog"], tr)
    ie, il, ir = wl_index.metrics(res["index"], chk["index"], tr)
    e2e = {"latency_typical_s": ce["latency_typical_s"],
           "throughput_per_s": ie["throughput_per_s"]}
    report = {
        "catalog_query_typical_s": ce["latency_typical_s"],
        "catalog_queries_per_s": ce["throughput_per_s"],
        **{k: v for k, v in cr.items() if k != "check"},
        **{k: v for k, v in ir.items() if k != "check"},
        "check": chk,
    }
    return e2e, {**cl, **il}, report


def outcome(res: dict, chk: dict) -> tuple[int, int, bool]:
    """(attempted, failed, correct) of both parts together."""
    a1, f1, c1 = wl_catalog.outcome(res["catalog"], chk["catalog"])
    a2, f2, c2 = wl_index.outcome(res["index"], chk["index"])
    return a1 + a2, f1 + f2, c1 and c2
