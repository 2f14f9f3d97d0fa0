"""``query_mix``: 14 registry queries, one client, closed loop.

Each query runs through the noop sink in the fixed order below: a cold
lap in a fresh session after a neutral JVM/Arrow warm-up, then warm laps
until the run's seconds are spent (at least two). ``x_graph_pagerank``
reuses what ``x_dedup_lsh_pairs`` caches, so the order is part of the
workload. The queries read a fixed dataset (``--sf-dir``); the seed only
sizes the neutral warm-up, so the program's inputs do not depend on it.

Build time is the ``queries()[q](spark, sf_dir)`` call, including the
jobs a builder runs eagerly; run time is the noop write. Jobs are counted
per job group through ``statusTracker()``. After the laps, every query is
checked once against ``tools/check_oracle.py``: its DuckDB oracle, or for
entries without SQL, the same recall or proof rule the oracle gate uses.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = (
    "p3_enrich_full",
    "p4_errors_main",
    "q30_tpch_q3",
    "q62_funnel",
    "q65_merge_scd2",
    "q68_merge_evolve",
    "q70_merge_mor",
    "x_dedup_lsh_pairs",
    "x_dedup_spans",
    "x_sim_lsh_topk",
    "x_sim_ivf_topk",
    "x_graph_pagerank",
    "x_bpe_segment",
    "x_text_lm_score",
)
MIN_WARM_LAPS = 2
# the two entries defined in __spark_entry__ itself, by the layer they run
_ENTRY_LAYERS = {"p3_enrich_full": "enrichment", "p4_errors_main": "errors"}


@dataclass
class MixResult:
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failures: dict[str, int]  # keyword arguments of stats.failed_frac
    context: dict
    units: dict[str, str]
    info: dict[str, tuple[float, str]] = field(default_factory=dict)


def _check_oracle():
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def layer_of(name: str, fn) -> str:
    return _ENTRY_LAYERS.get(name) or fn.__module__.rsplit(".", 1)[-1]


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _lap(spark, qs, sf_dir: str, lap: int, tracer: Tracer | None) -> tuple[dict, int]:
    """One pass over the queries: per query (build_s, run_s, build_jobs,
    run_jobs), and how many raised."""
    sc = spark.sparkContext
    out, raised = {}, 0
    for name in QUERIES:
        t0 = time.time()
        try:
            sc.setJobGroup(f"{lap}:{name}:build", name)
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            sc.setJobGroup(f"{lap}:{name}:run", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001 — a raising query is a counted failure
            print(f"{name} raised: {exc}")
            raised += 1
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = (t1 - t0, t2 - t1, _jobs(spark, f"{lap}:{name}:build"), _jobs(spark, f"{lap}:{name}:run"))
        if tracer is not None:
            q = tracer.add(f"query.{name}", t0, t2)
            tracer.add(f"{layer_of(name, qs[name])}.{name}.build", t0, t1, q)
            tracer.add(f"{layer_of(name, qs[name])}.{name}.run", t1, t2, q)
    return out, raised


def _oracle_failures(spark, qs, sf_dir: str) -> list[str]:
    import duckdb

    import __spark_entry__ as entry

    co = _check_oracle()
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sqls = entry.oracle_sql()
    failed = []
    for name in QUERIES:
        rec = co.check_one(spark, con, qs[name], sqls.get(name), sf_dir)
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        if ok and name not in sqls:
            if name in co.RECALL_SPECS:
                compute, bound = co.RECALL_SPECS[name]
                ok = compute(spark, sf_dir) >= bound
            else:
                ok = name in co.PYTEST_REFS and co._pytest_ref_exists(co.PYTEST_REFS[name])
        if not ok:
            print(f"oracle check failed for {name}: {rec['err']}")
            failed.append(name)
    con.close()
    return failed


def run(sf_dir: str, seed: int, seconds: int, tracer: Tracer | None) -> MixResult:
    import __spark_entry__ as entry
    from labs_stream_processing_examples_scala_spark import get_spark

    qs = entry.queries()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-mix")
    try:
        # neutral warm-up: JVM, codegen and the Arrow bridge, on no registry data
        n = 100_000 + seed % 1000
        spark.range(n).selectExpr("sum(id)", "count(distinct id % 97)").collect()
        spark.range(n).toPandas()
        setup_s = time.perf_counter() - t0

        deadline = time.time() + seconds
        laps, raised = [], 0
        while len(laps) < 1 + MIN_WARM_LAPS or time.time() < deadline:
            lap, r = _lap(spark, qs, sf_dir, len(laps), tracer)
            laps.append(lap)
            raised += r
        failed = _oracle_failures(spark, qs, sf_dir)
    finally:
        spark.stop()

    lap_s = [sum(b + r for b, r, _, _ in lap.values()) for lap in laps]
    cold, warm = laps[0], laps[1:]
    layers, units = {}, {}
    for name in QUERIES:
        if name not in cold or any(name not in lap for lap in warm):
            continue
        key = f"{layer_of(name, qs[name])}.{name}"
        figures = {
            "cold_build_s": (cold[name][0], "s"),
            "cold_build_jobs": (cold[name][2], "count"),
            "warm_build_s": (statistics.median(lap[name][0] for lap in warm), "s"),
            "warm_run_s": (statistics.median(lap[name][1] for lap in warm), "s"),
            "warm_jobs": (statistics.median(lap[name][2] + lap[name][3] for lap in warm), "count"),
        }
        for suffix, (value, unit) in figures.items():
            layers[f"{key}.{suffix}"] = value
            units[f"{key}.{suffix}"] = unit
    units.update({"mix_cold_lap_s": "s", "mix_warm_lap_s": "s"})
    return MixResult(
        e2e={"setup_s": setup_s, "mix_cold_lap_s": lap_s[0], "mix_warm_lap_s": statistics.median(lap_s[1:])},
        layers=layers,
        attempted=len(QUERIES) * len(laps),
        failures={"lost": 0, "duplicated": 0, "wrong": len(failed), "raised": raised},
        context={"laps_s": lap_s, "oracle_failed": failed, "sf_dir": sf_dir},
        units=units,
    )
