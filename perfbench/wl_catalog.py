"""The query catalog, the first half of workload ``batch``: two fixed
query sets, each query built by ``QUERIES[name](spark, sf_dir)`` and run
to a noop sink over the generated fixture tables.  The query order of
every rep is a seeded permutation.

- ``short``: the legacy ``ANCHOR_17`` set minus the firehose drain;
  bound by table loading and per-job overhead.
- ``iterative``: queries that run many Spark jobs while they are being
  constructed (fixpoint loops, trained models).

Check (untimed): each query's result from the last rep against its
DuckDB oracle (``catalog.ORACLES``), canonicalized as ``tools/sweep.py``
does.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import numpy as np

from harness import cores, cpu_util, median, sum_stats

SHORT = (
    "agg_count_distinct", "ann_topk_ivf", "dedup_exact", "filter_key",
    "join_asof", "join_star", "q1_pricing_summary", "scalar_json",
    "scalar_math", "setop_union_all", "stream_session_window", "text_stats",
    "topk_per_group", "tpch_q5", "tpch_q6", "window_ranking",
)
ITERATIVE = (
    "graph_connected_components", "dedup_minhash_pairs", "text_bpe_apply",
    "ann_topk_ivfpq_trained", "rank_cohen_kappa",
)
SETS = {"short": SHORT, "iterative": ITERATIVE}
#: Reps: one rep of both sets at sf0.01 keeps a run inside the
#: benchmark's time budget.
REPS = 1
#: Oracle answers, keyed by the fixture files' content and the oracle SQL.
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".oracle_cache")


def prepare(seed: int, sf_dir: str):
    """Query orders over the fixture tables in ``sf_dir``."""
    inp = SimpleNamespace(sf_dir=sf_dir)
    rng = np.random.default_rng([seed, 13])
    names = list(SHORT + ITERATIVE)
    inp.orders = [[names[i] for i in rng.permutation(len(names))] for _ in range(REPS)]
    return inp


def warm(spark, run, inp) -> None:
    """One short query to the same noop sink (bench.py's warm-up)."""
    from storm_dynamic_spout_spark.queries import QUERIES

    QUERIES["q1_pricing_summary"](spark, inp.sf_dir).write.format("noop").mode("overwrite").save()


def run(spark, run_dir, inp, tr) -> dict:
    from storm_dynamic_spout_spark.engine import TABLES, load_table
    from storm_dynamic_spout_spark.queries import QUERIES

    res = {"times": {}, "construct": {}, "action": {}, "last_df": {}, "load": []}
    if tr.enabled:
        for name in TABLES:
            res["load"].append(tr.call(f"load_table:{name}", "engine", load_table,
                                       spark, inp.sf_dir, name, op="load"))
    for rep, order in enumerate(inp.orders):
        for name in order:
            op = f"{name}#{rep}"
            with tr.span(f"query:{name}", "harness", op=op):
                df, tc, sc = tr.call("construct", "catalog", QUERIES[name], spark,
                                     inp.sf_dir)
                _, ta, sa = tr.call("action", "operators",
                                    df.write.format("noop").mode("overwrite").save)
            res["times"].setdefault(name, []).append(tc + ta)
            res["construct"].setdefault(name, []).append((tc, sc))
            res["action"].setdefault(name, []).append((ta, sa))
            res["last_df"][name] = df
    return res


def _canon(rows) -> list:
    return sorted(tuple(round(v, 6) if isinstance(v, float) else str(v) for v in r)
                  for r in rows)


def _oracle_rows(con, sql: str, key: str) -> list:
    path = os.path.join(ORACLE_CACHE, hashlib.sha256((key + sql).encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    rows = _canon(con.execute(sql).fetchall())
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


def check(res: dict, inp) -> dict:
    import duckdb

    from storm_dynamic_spout_spark.engine import TABLES
    from storm_dynamic_spout_spark.queries import ORACLES

    digest = hashlib.sha256()
    for t in TABLES:
        with open(f"{inp.sf_dir}/{t}.parquet", "rb") as f:
            digest.update(f.read())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inp.sf_dir}/{t}.parquet')")
    # results are collected in parallel: the check is untimed, and each
    # collect re-runs a small, job-overhead-bound action
    with ThreadPoolExecutor(cores()) as pool:
        rows = {name: pool.submit(lambda df: _canon(df.collect()), df)
                for name, df in res["last_df"].items()}
        rows = {name: f.result() for name, f in rows.items()}
    bad = [name for name in rows
           if rows[name] != _oracle_rows(con, ORACLES[name], digest.hexdigest())]
    con.close()
    return {"queries": len(res["last_df"]), "mismatches": bad}


def metrics(res: dict, chk: dict, tr) -> tuple[dict, dict, dict]:
    med = {name: median(ts) for name, ts in res["times"].items()}
    n_exec = sum(len(ts) for ts in res["times"].values())
    e2e = {
        # geometric mean: each query runs once per rep, so a per-query
        # median would hinge on whichever query lands in the middle
        "latency_typical_s": math.exp(sum(math.log(t) for t in med.values()) / len(med)),
        "throughput_per_s": n_exec / sum(sum(ts) for ts in res["times"].values()),
    }
    layer = {f"catalog.{s}_s": sum(med[n] for n in names) for s, names in SETS.items()}
    for s, names in SETS.items():
        cons = [sp for n in names for _, sp in res["construct"][n]]
        acts = [sp for n in names for _, sp in res["action"][n]]
        c, a = sum_stats(cons), sum_stats(acts)
        reps = len(res["construct"][names[0]])
        layer.update({
            f"catalog.{s}.construct_s": sum(median([t for t, _ in res["construct"][n]])
                                            for n in names),
            f"catalog.{s}.construct_jobs": c["jobs"] / reps,
            f"catalog.{s}.action_s": sum(median([t for t, _ in res["action"][n]])
                                         for n in names),
            f"catalog.{s}.action_jobs": a["jobs"] / reps,
            f"catalog.{s}.action_stages": a["stages"] / reps,
            f"catalog.{s}.action_tasks": a["tasks"] / reps,
            f"catalog.{s}.cpu_util": cpu_util(a) if tr.enabled else 0.0,
            f"catalog.{s}.shuffle_bytes": a["shuffle_bytes"] / reps,
            f"catalog.{s}.spill_bytes": a["spill_bytes"] / reps,
        })
    for n in ITERATIVE:
        cs = res["construct"][n]
        layer[f"catalog.q.{n}.construct_s"] = median([t for t, _ in cs])
        layer[f"catalog.q.{n}.construct_jobs"] = sum_stats([sp for _, sp in cs])["jobs"] / len(cs)
    load = sum_stats([sp for _, _, sp in res["load"]])
    layer["engine.load_table_s"] = sum(t for _, t, _ in res["load"])
    layer["engine.load_table_jobs"] = load["jobs"]
    report = {
        "catalog_short_s": layer["catalog.short_s"],
        "catalog_iterative_s": layer["catalog.iterative_s"],
        "query_median_s": med,
        "check": chk,
    }
    return e2e, layer, report


def outcome(res: dict, chk: dict) -> tuple[int, int, bool]:
    """(attempted, failed, correct): each query execution is one
    operation; every execution of a query whose result mismatches its
    oracle failed."""
    attempted = sum(len(ts) for ts in res["times"].values())
    failed = sum(len(res["times"][n]) for n in chk["mismatches"])
    return attempted, failed, not chk["mismatches"]
