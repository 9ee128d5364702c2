"""Workload ``catalog``: catalog entries built and collected one after
another on one driver, in two groups.

- corpus: entries dominated by eager driver-side plan-build jobs and
  wide shuffles (graph ranking, dedup clustering, MinHash, exact dedup);
- relational: entries dominated by per-query planning and scheduling.

Set-up runs one throwaway pass over small tables of another variant,
so the measured passes run with JIT and code generation done. One
operation is one entry (build + ``.collect()``); it fails on an
exception or on a result whose digest differs from the answer key.
"""

from __future__ import annotations

import json
import os
import time

from common import (
    digest,
    jvm_pid,
    median,
    proc_cpu_s,
    proc_peak_rss_mb,
    set_job_label,
    setup_layers,
    timed_setup,
)

CORPUS = [
    "graph_rank_entities",
    "docs_dedup_clusters",
    "docs_minhash_neardup_pairs",
    "docs_exact_dedup",
]
RELATIONAL = [
    "pricing_summary",
    "topn_revenue_entities",
    "semi_anti_join_counts",
    "nation_revenue_share",
    "customer_order_running",
    "event_window_variants",
    "latest_event_per_user",
    "temporal_join_enrich",
]
GROUPS = {"corpus": CORPUS, "relational": RELATIONAL}
#: Table scale relative to sf0.01 row counts, and the number of dataset
#: variants the answer key covers; ``--seed n`` runs variant ``n % VARIANTS``.
SCALE = 0.4
VARIANTS = 8
#: Tables of the set-up's throwaway pass (not one of the answer key's variants).
WARMUP_SCALE, WARMUP_VARIANT = 0.05, VARIANTS
ANSWER_KEY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "answer_key.json")


def _clear_caches(spark) -> None:
    """Drop cached relations so each entry is built from scratch (the
    CacheManager would otherwise substitute a previous entry's cache)."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators._cache import (
        clear_operator_caches,
    )

    clear_operator_caches()
    spark.catalog.clearCache()


def _pass(spark, queries, data_dir: str, trace: bool, timings: dict, results: dict) -> int:
    """Build and collect every entry once; return how many raised.
    Appends (build s, exec s) per entry to ``timings`` and keeps each
    entry's first result (or its exception) in ``results``."""
    errors = 0
    for group, names in GROUPS.items():
        for name in names:
            _clear_caches(spark)
            if trace:
                set_job_label(spark, f"{group}:{name}:build")
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, data_dir)
                t1 = time.perf_counter()
                if trace:
                    set_job_label(spark, f"{group}:{name}:exec")
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # counted as a failed operation
                errors += 1
                results[name] = e
                continue
            timings[name].append((t1 - t0, t2 - t1))
            results.setdefault(name, (df.columns, rows))
    set_job_label(spark, None)
    return errors


def run(work: str, seed: int, seconds: float, trace: bool) -> dict:
    from catalog_data import write_tables

    variant = seed % VARIANTS
    with open(ANSWER_KEY) as fh:
        key = json.load(fh)
    if key["scale"] != SCALE:
        raise RuntimeError("answer key was built at another scale; regenerate it")
    expected = key["variants"][str(variant)]
    data_dir = os.path.join(work, "tables")
    from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import all_queries

    queries = all_queries()

    def stage(spark):
        write_tables(data_dir, SCALE, variant)
        spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")).count()

    def warm_up(spark):
        small = os.path.join(work, "warmup")
        write_tables(small, WARMUP_SCALE, WARMUP_VARIANT)
        throwaway = {n: [] for g in GROUPS.values() for n in g}
        _pass(spark, queries, small, False, throwaway, {})

    setup, spark = timed_setup(stage, warm_up)
    pid = jvm_pid(spark)
    cpu0 = proc_cpu_s(pid)
    timings: dict[str, list[tuple[float, float]]] = {n: [] for g in GROUPS.values() for n in g}
    results: dict[str, object] = {}
    passes, failed = 0, 0
    measured_from = time.time()
    t_start = time.perf_counter()
    last_pass = 0.0
    # Whole passes only: another pass starts while it is expected to end
    # inside the window.
    while passes == 0 or (time.perf_counter() - t_start) + last_pass <= seconds:
        p0 = time.perf_counter()
        failed += _pass(spark, queries, data_dir, trace, timings, results)
        passes += 1
        last_pass = time.perf_counter() - p0
    measured = time.perf_counter() - t_start
    jvm_cpu = proc_cpu_s(pid) - cpu0
    attempted = passes * sum(len(g) for g in GROUPS.values())

    mismatches = []
    for name, res in results.items():
        if isinstance(res, Exception):
            mismatches.append(f"{name}: {type(res).__name__}: {str(res)[:200]}")
            continue
        got = digest(*res)
        if got != expected[name]:
            failed += len(timings[name])
            mismatches.append(f"{name}: digest {got} != key {expected[name]}")

    entry_s = {n: median([b + e for b, e in ts]) for n, ts in timings.items() if ts}
    group_s = {g: sum(entry_s.get(n, 0.0) for n in names) for g, names in GROUPS.items()}
    all_entry = [b + e for ts in timings.values() for b, e in ts]
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "throughput_per_s": (len(all_entry) / sum(all_entry) if all_entry else 0.0, "1/s"),
        "op_p50_s": (median(all_entry) if all_entry else 0.0, "s"),
    }
    layers = {
        "jvm.cpu_s": (jvm_cpu / passes, "s"),
        "jvm.peak_rss_mb": (proc_peak_rss_mb(pid), "MB"),
    }
    layers.update(setup_layers(setup))
    for g, names in GROUPS.items():
        layers[f"plans.{g}.wall_s"] = (group_s[g], "s")
        for part, idx in (("build_s", 0), ("exec_s", 1)):
            layers[f"plans.{g}.{part}"] = (
                sum(median([t[idx] for t in timings[n]]) for n in names if timings[n]),
                "s",
            )
    for n in CORPUS:
        for part, idx in (("build_s", 0), ("exec_s", 1)):
            v = median([t[idx] for t in timings[n]]) if timings[n] else 0.0
            layers[f"entry.{n}.{part}"] = (v, "s")
    summary = {
        "catalog_corpus_s": (group_s["corpus"], "s"),
        "catalog_relational_s": (group_s["relational"], "s"),
        "peak_rss_mb": layers["jvm.peak_rss_mb"],
        "warmup_s": (setup["warmup_s"], "s"),
        "measured_s": (measured, "s"),
        "passes": (passes, ""),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": mismatches,
        "metrics": metrics,
        "layers": layers,
        "summary": summary,
        "spark": spark,
        "measured_from": measured_from,
        "job_groups": list(GROUPS),
    }


def build_answer_key() -> dict:
    """Answer key from the DuckDB oracles over every dataset variant."""
    import tempfile

    import duckdb

    from catalog_data import write_tables
    from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import (
        TABLES,
        all_oracles,
    )

    oracles = all_oracles()
    out = {"scale": SCALE, "variants": {}}
    for v in range(VARIANTS):
        with tempfile.TemporaryDirectory() as d:
            write_tables(d, SCALE, v)
            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            keys = {}
            for name in CORPUS + RELATIONAL:
                rel = con.sql(oracles[name])
                keys[name] = digest(rel.columns, rel.fetchall())
            out["variants"][str(v)] = keys
            con.close()
        print(f"variant {v}: {len(keys)} entries", flush=True)
    return out
