"""Workloads over the 16-query KPI topology of ``build_all_queries``.

- ``kpi_replay`` (closed loop): an ``availableNow`` drain of a seeded
  simulator corpus replayed through ``sources.kafka_frame_replay``
  (3 topics x 4 partitions), repeated while the window lasts, after a
  throwaway drain of a small corpus in set-up. One operation is one
  query of one drain.
- ``kpi_live`` (open loop): files published once per second per topic
  at ``LIVE_RATE`` events/s into ``sources.file_stream`` directories,
  with the reference's 10 s trigger and 45 s watermark. One operation is
  one published file; it fails if it is not taken in by every query
  reading its topic within ``LIVE_LIMIT_S``.

Both push their gauges through ``PrometheusPushSink`` with an in-memory
poster, so ``format_prometheus`` runs as in production.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import threading
import time

from common import (
    jvm_pid,
    median,
    proc_cpu_s,
    proc_peak_rss_mb,
    set_job_label,
    setup_layers,
    tail,
    timed_setup,
)
from generator import TOPICS, Publisher, simulate_events, stage_schedule, write_replay_frames
from streamstats import QUERY_TOPIC, freshness, layer_metrics, trigger_end

#: Fixed "today" for the arrivals_today query, so its gauges do not
#: depend on the wall clock.
AS_OF = dt.date(2024, 2, 1)
CITY_DIM_ROWS = [
    ("3165524", "Roma", 41.9028, 12.4964),
    ("3173435", "Milano", 45.4642, 9.1900),
    ("3169070", "Napoli", 40.8518, 14.2681),
    ("3176959", "Firenze", 43.7699, 11.2556),
    ("3164600", "Venezia", 45.4408, 12.3155),
]
REPLAY_DAYS, REPLAY_PER_DAY = 30, 500
#: The set-up's throwaway drain: a small fixed corpus, not the measured one.
WARMUP_SEED, WARMUP_DAYS, WARMUP_PER_DAY = 0, 3, 100
DRAIN_LIMIT_S = 120
#: Arrival month -> season, as the reference buckets it (other months: autumn).
SEASONS = {12: "winter", 1: "winter", 2: "winter", 3: "spring", 4: "spring", 5: "spring",
           6: "summer", 7: "summer", 8: "summer"}
YEAR_S = 365 * 86400
LIVE_RATE, LIVE_WARMUP_S, LIVE_LIMIT_S = 250, 10, 60
LIVE_TRIGGER, LIVE_WATERMARK = "10 seconds", "45 seconds"


class BenchSink:
    """``PrometheusPushSink`` with an in-memory poster. Keeps the merged
    latest gauges for the output checks and counts pushes, push time and
    body bytes for the sinks layer."""

    def __init__(self):
        from travelpulse_spark_stream_tourism_analytics_spark.streaming.sinks import (
            PrometheusPushSink,
        )

        self._lock = threading.Lock()
        self.latest: dict = {}
        self.pushes = 0
        self.push_s = 0.0
        self.bytes = 0
        self._inner = PrometheusPushSink(poster=self._post)

    def _post(self, url: str, body: bytes) -> None:
        with self._lock:
            self.bytes += len(body)

    def push(self, metrics) -> None:
        t0 = time.perf_counter()
        self._inner.push(metrics)
        dt_s = time.perf_counter() - t0
        with self._lock:
            self.pushes += 1
            self.push_s += dt_s
            self.latest.update(metrics)


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Collects every progress report and termination."""

        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

    return ProgressLog


def _sources(spark, kind: str, path: str):
    from travelpulse_spark_stream_tourism_analytics_spark import schemas
    from travelpulse_spark_stream_tourism_analytics_spark.streaming import sources
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.parse import parse_events

    schema = {"weather": schemas.WEATHER_SCHEMA, "flight": schemas.FLIGHT_SCHEMA,
              "booking": schemas.BOOKING_SCHEMA}
    read = sources.kafka_frame_replay if kind == "frames" else sources.file_stream
    return {t: parse_events(read(spark, os.path.join(path, t)), schema[t]) for t in TOPICS}


def _start_topology(spark, src, run_dir: str, sink, trigger: dict, watermark: str):
    from pyspark.sql import functions as F

    from travelpulse_spark_stream_tourism_analytics_spark.schemas import CITY_DIM_SCHEMA
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.pipeline import (
        build_all_queries,
    )

    return build_all_queries(
        spark, src["weather"], src["flight"], src["booking"],
        spark.createDataFrame(CITY_DIM_ROWS, CITY_DIM_SCHEMA), sink,
        checkpoint_root=os.path.join(run_dir, "chk"),
        staging_dir=os.path.join(run_dir, "staging"),
        watermark=watermark, trigger=trigger, as_of=F.lit(AS_OF),
    )


def _wait_listener(log, queries, timeout: float = 15.0) -> None:
    """Progress events reach Python asynchronously; wait for the
    termination events of ``queries``, which Spark posts last."""
    ids = {str(q.runId) for q in queries}
    deadline = time.time() + timeout
    while time.time() < deadline:
        with log.lock:
            if ids <= log.terminated:
                return
        time.sleep(0.05)


def _close(x: float, y: float) -> bool:
    return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-6)


def _compare_gauges(streamed: dict, expected: dict, family: str, source: str) -> list[str]:
    """Gauges of ``family`` (metric keys up to '|') must agree with the
    ``source`` expectation."""
    pick = lambda d: {k: v for k, v in d.items() if k.split("|", 1)[0] == family}  # noqa: E731
    s, e = pick(streamed), pick(expected)
    if not e:
        return [f"{family}: {source} expectation has no gauges"]
    if set(s) != set(e):
        return [f"{family}: streamed keys {sorted(set(s) ^ set(e))[:4]} differ from {source}"]
    return [f"{family} {k}: {s[k][1]} != {source} {e[k][1]}"
            for k in e if not _close(s[k][1], e[k][1])]


def expected_gauges(events: dict[str, list[dict]]) -> tuple[dict, list[str]]:
    """Gauges of a drained corpus that do not depend on micro-batch
    boundaries, computed in plain Python from the simulator events with
    the reference's definitions, sharing no code with the package: the
    ingest count (weather events, all in one data batch), bookings per
    city in the 365-day event-time window (top 10), and bookings and
    spend (adr x rooms x nights) by arrival month and arrival season.
    Returns the gauges, keyed as the sink keys them, and problems."""
    book = events["booking"]
    windows = {
        int(dt.datetime.strptime(b["event_ts"], "%Y-%m-%dT%H:%M:%SZ")
            .replace(tzinfo=dt.timezone.utc).timestamp()) // YEAR_S
        for b in book
    }
    if len(windows) != 1:
        return {}, [f"corpus spans {len(windows)} 365-day windows; the check needs one"]
    out: dict = {"tourism_ingest_records_per_trigger": (None, len(events["weather"]))}
    per_city: dict[str, int] = {}
    for b in book:
        per_city[b["city_id"]] = per_city.get(b["city_id"], 0) + 1
    for city, n in sorted(per_city.items(), key=lambda kv: (-kv[1], kv[0]))[:10]:
        out[f"tourism_city_bookings_top|{city}:365d"] = (None, n)

    def add(key: str, x: float) -> None:
        out[key] = (None, out.get(key, (None, 0))[1] + x)

    for b in book:
        spend = (b["adr_proxy"] if b["adr_proxy"] is not None else 0.0) \
            * (b["rooms"] if b["rooms"] is not None else 1) \
            * (b["nights"] if b["nights"] is not None else 1)
        month = int(b["checkin_date"][5:7])
        for kind, label in (("month", f"{month:02d}"), ("season", SEASONS.get(month, "autumn"))):
            add(f"tourism_{kind}_bookings_rolling|{label}", 1)
            add(f"tourism_{kind}_spend_rolling_eur|{label}", spend)
    return out, []


def _check_replay(spark, frames_dir: str, sink: BenchSink, events: dict) -> list[str]:
    """Window-independent gauges of the last drain against the plain
    Python expectation, and together with the season score against a
    batch recomputation over the same frames with the package's own
    ``kpis`` and mapper functions."""
    from travelpulse_spark_stream_tourism_analytics_spark import schemas
    from travelpulse_spark_stream_tourism_analytics_spark.streaming import kpis, pipeline
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.parse import (
        enrich_bookings,
        parse_events,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.sources import (
        KAFKA_FRAME_SCHEMA,
        decode_kafka_frame,
    )

    def batch(topic, schema):
        raw = spark.read.schema(KAFKA_FRAME_SCHEMA).parquet(os.path.join(frames_dir, topic))
        return parse_events(decode_kafka_frame(raw), schema)

    b = enrich_bookings(batch("booking", schemas.BOOKING_SCHEMA))
    w = batch("weather", schemas.WEATHER_SCHEMA)
    f = batch("flight", schemas.FLIGHT_SCHEMA).withColumnRenamed("destination_city_id", "city_id")
    recomputed: dict = {}
    recomputed.update(pipeline.map_city_topn(
        kpis.city_bookings_windowed(b, "event_time", kpis.DAYS_365, "bookings_365d"),
        "bookings_365d", "365d"))
    recomputed.update(pipeline.map_month_roll(kpis.month_rollup(b)))
    recomputed.update(pipeline.map_season_roll(kpis.season_rollup(b)))
    recomputed.update(pipeline.map_season_score(
        kpis.season_score(*kpis.season_city_stats(b, w, f))))
    independent, problems = expected_gauges(events)
    got = sink.latest
    # Only the 365-day top cities; the minute and 30-day ones depend on batches.
    streamed = {k: v for k, v in got.items()
                if not k.startswith("tourism_city_bookings_top|") or k.endswith(":365d")}
    rollups = ("tourism_city_bookings_top", "tourism_month_bookings_rolling",
               "tourism_month_spend_rolling_eur", "tourism_season_bookings_rolling",
               "tourism_season_spend_rolling_eur")
    if independent:
        for fam in ("tourism_ingest_records_per_trigger",) + rollups:
            problems += _compare_gauges(streamed, independent, fam, "python")
    for fam in rollups + ("tourism_season_score",):
        problems += _compare_gauges(streamed, recomputed, fam, "batch")
    return problems


def _common_layers(log_progress, sink, units, jvm_cpu, lag_max) -> dict:
    m = layer_metrics(log_progress, units)
    m.update({
        "sinks.pushes": (sink.pushes / max(1, units), "count"),
        "sinks.push_ms": (1000.0 * sink.push_s / max(1, sink.pushes), "ms"),
        "sinks.bytes": (sink.bytes / max(1, units), "B"),
        "jvm.cpu_s": (jvm_cpu / max(1, units), "s"),
        "gen.lag_max_s": (lag_max, "s"),
    })
    return m


def _drain(spark, frames: str, run_dir: str):
    """One ``availableNow`` drain of the topology over ``frames``.
    Returns its wall time, the seconds from start to each query's
    termination by query index, the queries and the sink."""
    sink = BenchSink()
    src = _sources(spark, "frames", frames)
    t0 = time.perf_counter()
    queries, _scorer = _start_topology(
        spark, src, run_dir, sink, {"availableNow": True}, LIVE_WATERMARK)
    ends: dict[int, float] = {}
    while len(ends) < len(queries) and time.perf_counter() - t0 < DRAIN_LIMIT_S:
        for i, q in enumerate(queries):
            if i not in ends and not q.isActive:
                ends[i] = time.perf_counter() - t0
        time.sleep(0.02)
    return time.perf_counter() - t0, ends, queries, sink


def _warm_up(spark, work: str) -> None:
    """The set-up's throwaway drain of a small fixed corpus."""
    frames = os.path.join(work, "warmup")
    write_replay_frames(spark, simulate_events(WARMUP_SEED, WARMUP_DAYS, WARMUP_PER_DAY),
                        frames)
    _wall, _ends, queries, _sink = _drain(spark, frames, os.path.join(work, "warmup-run"))
    for q in queries:
        q.stop()


def run_replay(work: str, seed: int, seconds: float, trace: bool) -> dict:
    events = simulate_events(seed, REPLAY_DAYS, REPLAY_PER_DAY)
    n_events = sum(len(v) for v in events.values())
    frames = os.path.join(work, "frames")

    def stage(spark):
        write_replay_frames(spark, events, frames)
        spark.read.parquet(os.path.join(frames, "booking")).count()

    setup, spark = timed_setup(stage, lambda sp: _warm_up(sp, work))
    # Query end times come from polling; the listener is tracing only.
    log = _listener_class()() if trace else None
    if log is not None:
        spark.streams.addListener(log)
    pid = jvm_pid(spark)
    cpu0 = proc_cpu_s(pid)
    drains, op_s, problems, failed, attempted = [], [], [], 0, 0
    sink = None
    measured_from = time.time()
    t_start = time.perf_counter()
    while not drains or (time.perf_counter() - t_start) + drains[-1] <= seconds:
        wall, ends, queries, sink = _drain(spark, frames, os.path.join(work, f"drain{len(drains)}"))
        for i, q in enumerate(queries):
            attempted += 1
            if i not in ends:
                q.stop()
                failed += 1
                problems.append(f"{q.name}: not drained in {DRAIN_LIMIT_S}s")
            elif q.exception() is not None:
                failed += 1
                problems.append(f"{q.name}: {str(q.exception())[:200]}")
            else:
                op_s.append(ends[i])
        if log is not None:
            _wait_listener(log, queries)
        drains.append(wall)
        if failed:
            break
    jvm_cpu = proc_cpu_s(pid) - cpu0
    if log is not None:
        spark.streams.removeListener(log)
    if not failed:
        if trace:
            set_job_label(spark, "check")
        problems += _check_replay(spark, frames, sink, events)

    drain_s = median(drains)
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "throughput_per_s": (n_events / drain_s, "1/s"),
        "op_p50_s": (median(op_s) if op_s else 0.0, "s"),
    }
    layers = _common_layers(log.progress if log else [], sink, len(drains), jvm_cpu, 0.0)
    layers.update(setup_layers(setup))
    layers["jvm.peak_rss_mb"] = (proc_peak_rss_mb(pid), "MB")
    summary = {
        "replay_events_per_s": (n_events / drain_s, "1/s"),
        "peak_rss_mb": layers["jvm.peak_rss_mb"],
        "warmup_s": (setup["warmup_s"], "s"),
        "drain_s": (drain_s, "s"),
        "events": (n_events, ""),
        "drains": (len(drains), ""),
    }
    return {"attempted": attempted, "failed": failed, "problems": problems,
            "metrics": metrics, "layers": layers, "summary": summary, "spark": spark,
            "measured_from": measured_from}


def run_live(work: str, seed: int, seconds: float, trace: bool) -> dict:
    n_slots = LIVE_WARMUP_S + int(seconds)
    # The simulator yields 1,005 events per simulated day (500 flights,
    # 500 bookings, 5 weather); cover the schedule with room to spare.
    events = simulate_events(seed, n_days=math.ceil(LIVE_RATE * n_slots / 1000) + 2,
                             per_day=500)
    src_dir = os.path.join(work, "src")
    holder: dict = {}

    def stage(spark):
        holder["schedule"] = stage_schedule(events, src_dir, LIVE_RATE, n_slots)
        spark.read.text(os.path.join(src_dir, "booking")).count()

    setup, spark = timed_setup(stage, lambda sp: _warm_up(sp, work))
    schedule = holder["schedule"]
    log = _listener_class()()
    spark.streams.addListener(log)
    pid = jvm_pid(spark)
    sink = BenchSink()
    queries, _scorer = _start_topology(
        spark, _sources(spark, "files", src_dir), os.path.join(work, "run"), sink,
        {"processingTime": LIVE_TRIGGER}, LIVE_WATERMARK)
    # All 16 queries fire on the same 10 s grid of the epoch clock; start
    # publishing half a second past a grid point so every run sees the
    # same phase between publishes and triggers.
    measured_from = time.time()
    t0 = math.ceil(measured_from / 10.0) * 10.0 + 0.5
    cpu0 = proc_cpu_s(pid)
    pub = Publisher(schedule, t0)
    pub.start()
    totals = {t: sum(f["rows"] for f in schedule if f["topic"] == t) for t in TOPICS}
    deadline = t0 + n_slots + LIVE_LIMIT_S
    dead = []
    while time.time() < deadline:
        dead = [q for q in queries if not q.isActive]
        if dead:
            break
        rows: dict[str, int] = {}
        with log.lock:
            for p in log.progress:
                rows[p["name"]] = rows.get(p["name"], 0) + p["numInputRows"]
        if pub.ident and not pub.is_alive() and all(
            rows.get(q, 0) >= totals[t] for q, t in QUERY_TOPIC.items()
        ):
            break
        time.sleep(0.2)
    pub.stop()
    pub.join()
    jvm_cpu = proc_cpu_s(pid) - cpu0
    for q in queries:
        q.stop()
    _wait_listener(log, queries)
    spark.streams.removeListener(log)

    triggers: dict[str, list[tuple[float, int]]] = {}
    for p in log.progress:
        triggers.setdefault(p["name"], []).append((trigger_end(p), p["numInputRows"]))
    for f in schedule:
        f["due"] = t0 + f["slot"]
    fresh = freshness(schedule, triggers)
    measured = [(f, x) for f, x in zip(schedule, fresh) if f["slot"] >= LIVE_WARMUP_S]
    problems = [f"query {q.name} died: {str(q.exception())[:200]}" for q in dead]
    late = [f for f, x in measured if x is None or x > LIVE_LIMIT_S]
    problems += [f"{f['topic']} file of slot {f['slot']} not processed" for f in late[:5]]
    ok = [x for f, x in measured if x is not None and x <= LIVE_LIMIT_S]
    n_weather = sum(f["rows"] for f in schedule if f["topic"] == "weather")
    ingest = sink.latest.get("tourism_ingest_records_per_trigger", (None, None))[1]
    if ingest != n_weather:
        problems.append(f"ingest counter {ingest} != {n_weather} weather events published")
    layers = _common_layers(log.progress, sink, 1, jvm_cpu,
                            max(pub.lateness) if pub.lateness else 0.0)
    if layers["kpis.rows_dropped_late"][0]:
        problems.append(f"{layers['kpis.rows_dropped_late'][0]} rows dropped as late")
    p95, used = tail(ok, 95) if ok else (0.0, 95.0)
    m_rows = sum(f["rows"] for f, _ in measured)
    span = max((f["due"] + x for f, x in measured if x is not None), default=t0) - (
        t0 + LIVE_WARMUP_S)
    layers.update(setup_layers(setup))
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "throughput_per_s": (m_rows / span if span > 0 else 0.0, "1/s"),
        "op_p50_s": (median(ok) if ok else 0.0, "s"),
    }
    layers["jvm.peak_rss_mb"] = (proc_peak_rss_mb(pid), "MB")
    summary = {
        "live_freshness_p50_s": metrics["op_p50_s"],
        # p95, or the highest percentile with ten files beyond it.
        "live_freshness_p95_s": (p95, "s"),
        "p95_rule_pct": (used, ""),
        "peak_rss_mb": layers["jvm.peak_rss_mb"],
        "files": (len(measured), ""),
    }
    return {"attempted": len(measured), "failed": len(late) + len(dead), "problems": problems,
            "metrics": metrics, "layers": layers, "summary": summary, "spark": spark,
            "measured_from": measured_from}

