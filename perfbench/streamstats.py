"""Pure functions over streaming progress: freshness of published files
and per-layer summaries of ``StreamingQueryProgress`` reports.

A progress report here is the dict form of ``StreamingQueryProgress.json``.
"""

from __future__ import annotations

import datetime as dt
from bisect import bisect_left
from itertools import accumulate

from common import median, tail

#: Source topic of each query that ``build_all_queries`` starts.
QUERY_TOPIC = {
    "ingest_counter": "weather",
    "weather_cnt": "weather",
    "season_weather_cs": "weather",
    "flights_cnt": "flight",
    "airports_inbound": "flight",
    "airports_outbound": "flight",
    "season_flights_cs": "flight",
    "bookings_cnt": "booking",
    "top_cities_minute": "booking",
    "top_cities_30d": "booking",
    "top_cities_365d": "booking",
    "city_today": "booking",
    "month_roll_365": "booking",
    "season_roll_365": "booking",
    "cities_geomap": "booking",
    "season_bookings_cs": "booking",
}
#: Query families whose ``addBatch`` time is reported per family.
FAMILIES = {
    "counts": ("ingest_counter", "weather_cnt", "flights_cnt", "bookings_cnt"),
    "airports": ("airports_inbound", "airports_outbound"),
    "top_cities": ("top_cities_minute", "top_cities_30d", "top_cities_365d"),
    "rollups": ("month_roll_365", "season_roll_365"),
    "geomap": ("cities_geomap",),
    "city_today": ("city_today",),
    "season": ("season_weather_cs", "season_flights_cs", "season_bookings_cs"),
}


def trigger_end(progress: dict) -> float:
    """Epoch seconds at which a trigger finished."""
    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + progress["durationMs"].get("triggerExecution", 0) / 1000.0


def freshness(
    files: list[dict],
    triggers: dict[str, list[tuple[float, int]]],
    query_topic: dict[str, str] = QUERY_TOPIC,
) -> list[float | None]:
    """Freshness of each published file, in the order given.

    ``files``: dicts with ``topic``, ``rows`` and ``due`` (scheduled
    publish time, epoch s), in publish order. ``triggers``: per query,
    its triggers in order as ``(end time, numInputRows)``.

    A file is fresh once every query reading its topic has finished the
    first trigger after which that query's running total of input rows
    reaches the running total of rows published on the topic up to and
    including the file. Freshness is that trigger's end minus ``due``;
    None when some query never got there."""
    published: dict[str, int] = {}
    need = []
    for f in files:
        published[f["topic"]] = published.get(f["topic"], 0) + f["rows"]
        need.append(published[f["topic"]])
    ends: dict[str, tuple[list[int], list[float]]] = {}
    for q, trig in triggers.items():
        ends[q] = (list(accumulate(n for _, n in trig)), [t for t, _ in trig])
    readers: dict[str, list[str]] = {}
    for q, t in query_topic.items():
        readers.setdefault(t, []).append(q)
    out: list[float | None] = []
    for f, total in zip(files, need):
        worst = None
        for q in readers.get(f["topic"], ()):
            totals, times = ends.get(q, ([], []))
            i = bisect_left(totals, total)
            if i == len(totals):
                worst = None
                break
            worst = times[i] if worst is None else max(worst, times[i])
        out.append(None if worst is None else worst - f["due"])
    return out


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(progress: list[dict], units: int) -> dict[str, tuple[float, str]]:
    """Per-layer figures from every progress report of a measured
    section made of ``units`` drains or segments. Times are means per
    trigger; counts are per unit; state size is summed over each query's
    last report of each unit and then averaged per unit."""
    units = max(1, units)
    dur = [p["durationMs"] for p in progress]
    total_ms = [d.get("triggerExecution", 0) for d in dur]
    state_ops = [op for p in progress for op in p.get("stateOperators", [])]
    last: dict[tuple[str, str], dict] = {}
    for p in progress:
        last[(p["runId"], p["name"])] = p
    final_ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    m: dict[str, tuple[float, str]] = {
        "trigger.count": (len(progress) / units, "count"),
        "trigger.no_data_count": (
            sum(1 for p in progress if p["numInputRows"] == 0) / units, "count"),
        "trigger.p50_ms": (median(total_ms) if total_ms else 0.0, "ms"),
        "trigger.p95_ms": (tail(total_ms, 95)[0] if total_ms else 0.0, "ms"),
        "trigger.planning_ms": (_mean([d.get("queryPlanning", 0) for d in dur]), "ms"),
        "trigger.commit_ms": (
            _mean([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]), "ms"),
        "trigger.add_batch_ms": (_mean([d.get("addBatch", 0) for d in dur]), "ms"),
        "sources.offset_ms": (
            _mean([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]), "ms"),
        "sources.input_rows": (sum(p["numInputRows"] for p in progress) / units, "count"),
        "kpis.state_rows": (sum(op["numRowsTotal"] for op in final_ops) / units, "count"),
        "kpis.state_mem_mb": (
            sum(op["memoryUsedBytes"] for op in final_ops) / units / 2**20, "MB"),
        "kpis.state_commit_ms": (_mean([op["commitTimeMs"] for op in state_ops]), "ms"),
        "kpis.rows_dropped_late": (
            sum(op.get("numRowsDroppedByWatermark", 0) for op in state_ops), "count"),
    }
    for fam, names in FAMILIES.items():
        ms = [p["durationMs"].get("addBatch", 0) for p in progress if p["name"] in names]
        m[f"pipeline.{fam}_ms"] = (_mean(ms), "ms")
    return m
