"""Multi-query streaming orchestration: 16 concurrent queries —
the reference's 13-query topology (spark/kafka_to_metrics.py:564-601)
with the season score decomposed into three snapshot queries.

Season score is an agg -> join -> agg -> join chain — a
multi-stateful-operator streaming query that classic micro-batch
forbids (SURVEY.md §3.2). Strategy (b) from SURVEY.md §4.3: each of
the three per-(window, city, season) aggregations runs as its own
single-stateful streaming query materializing a complete-mode snapshot;
a batch stage recomputes percentiles + score from the snapshots each
trigger. Observable output identical, each piece independently
restartable and testable.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travelpulse_spark_stream_tourism_analytics_spark.streaming import kpis
from travelpulse_spark_stream_tourism_analytics_spark.streaming.sinks import (
    MetricDict,
    foreach_metrics,
    start_query,
)

TOPN_DEFAULT = 10

#: State-store partitions of every topology query. Each stateful key
#: space is windows x cities (the whole topology holds tens of state
#: rows), so more partitions only multiply the state stores, checkpoint
#: files and filesystem calls committed per trigger. Parsing and the
#: map-side partial aggregation still run in parallel per source
#: partition ahead of the single-partition exchange.
KPI_STATE_PARTITIONS = 1


@contextlib.contextmanager
def one_state_partition(spark: SparkSession):
    """Start the streaming queries inside this block with
    KPI_STATE_PARTITIONS state partitions, then restore the session's
    own ``spark.sql.shuffle.partitions``. ``start()`` clones the session
    conf into the query, so the value is captured before it returns.
    Only a first start takes it: a restart reads the count back from
    the checkpoint's offset log, so existing checkpoints keep theirs."""
    key = "spark.sql.shuffle.partitions"
    previous = spark.conf.get(key)
    spark.conf.set(key, str(KPI_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, previous)


# --------------------------- metric mappers --------------------------------
# rows -> Pushgateway metric dicts, exact label/name parity with the
# reference push functions (spark/kafka_to_metrics.py:249-301,:337-366,
# :403-415,:510-520). They run on tiny aggregated outputs; the heavy
# top-N reduction happens in-engine (kpis.per_window_topn) before
# anything reaches the driver.


def map_batch_counts(df: DataFrame) -> MetricDict:
    metrics: MetricDict = {}
    for r in df.collect():
        ad = r.asDict()
        if ad.get("records_in_trigger") is not None:
            metrics["tourism_ingest_records_per_trigger"] = (
                None,
                ad["records_in_trigger"],
            )
        if ad.get("weather_count") is not None:
            metrics["tourism_weather_msgs_per_min"] = (None, ad["weather_count"])
        if ad.get("flights_count") is not None:
            total = ad["flights_count"] or 0
            canc = ad.get("flights_cancelled") or 0
            metrics["tourism_flight_msgs_per_min"] = (None, total)
            if total > 0:
                metrics["tourism_flight_cancel_rate"] = (None, float(canc) / total)
            if ad.get("avg_delay_min") is not None:
                metrics["tourism_flight_delay_min_avg"] = (None, ad["avg_delay_min"])
        if ad.get("bookings_count") is not None:
            metrics["tourism_booking_msgs_per_min"] = (None, ad["bookings_count"])
            if ad.get("avg_adr") is not None:
                metrics["tourism_booking_adr_avg"] = (None, ad["avg_adr"])
    return metrics


def map_airports_top(df: DataFrame, direction: str, topn: int = TOPN_DEFAULT) -> MetricDict:
    ranked = kpis.per_window_topn(df, direction, topn, "airport")
    metrics: MetricDict = {}
    for r in ranked.collect():
        ap = r["airport"] or "UNK"
        metrics[f"tourism_airport_flights_per_min|{ap}:{direction}"] = (
            {"airport": ap, "direction": direction},
            r[direction],
        )
    return metrics


def map_city_topn(
    df: DataFrame, value_col: str, period: str, topn: int = TOPN_DEFAULT
) -> MetricDict:
    ranked = kpis.per_window_topn(df, value_col, topn, "city_id")
    metrics: MetricDict = {}
    for r in ranked.collect():
        # `or "NA"` would mislabel the legitimate city_id 0 as NA
        # (caught by the PromQL parity pack) — only None is missing.
        labels = {
            "city_id": "NA" if r["city_id"] is None else str(r["city_id"]),
            "period": period,
        }
        if r["city_name"]:
            labels["city_name"] = r["city_name"]
        metrics[f"tourism_city_bookings_top|{r['city_id']}:{period}"] = (
            labels,
            r[value_col],
        )
    return metrics


def map_season_score(df: DataFrame, topn: int = TOPN_DEFAULT) -> MetricDict:
    ranked = kpis.per_window_topn(df, "season_score", topn * 4, "city_id", "season")
    metrics: MetricDict = {}
    for r in ranked.collect():
        labels = {
            "city_id": str(r["city_id"]),
            "city_name": r["city_name"] or "NA",
            "season": r["season"] or "NA",
        }
        metrics[f"tourism_season_score|{r['city_id']}:{r['season']}"] = (
            labels,
            float(r["season_score"]),
        )
    return metrics


def map_city_today(df: DataFrame, topn: int = TOPN_DEFAULT) -> MetricDict:
    """(reference :272-284)"""
    rows = df.orderBy(F.desc("arrivals_today"), F.asc("city_id")).limit(topn).collect()
    metrics: MetricDict = {}
    for r in rows:
        labels = {"city_id": str(r["city_id"] or "NA")}
        if r["city_name"]:
            labels["city_name"] = r["city_name"]
        if r["arrivals_today"] is not None:
            metrics[f"tourism_city_arrivals_today|{r['city_id']}"] = (
                labels, r["arrivals_today"],
            )
        if r["spend_today_eur"] is not None:
            metrics[f"tourism_city_spend_today_eur|{r['city_id']}"] = (
                labels, r["spend_today_eur"],
            )
    return metrics


def map_month_roll(df: DataFrame) -> MetricDict:
    """(reference :336-346)"""
    metrics: MetricDict = {}
    for r in df.collect():
        if r["arr_month"] is None:
            continue
        m = f"{int(r['arr_month']):02d}"
        metrics[f"tourism_month_bookings_rolling|{m}"] = ({"month": m}, r["bookings_m"])
        if r["spend_m_eur"] is not None:
            metrics[f"tourism_month_spend_rolling_eur|{m}"] = (
                {"month": m}, r["spend_m_eur"],
            )
    return metrics


def map_season_roll(df: DataFrame) -> MetricDict:
    """(reference :358-369)"""
    metrics: MetricDict = {}
    for r in df.collect():
        s = r["season"]
        if not s:
            continue
        metrics[f"tourism_season_bookings_rolling|{s}"] = ({"season": s}, r["bookings_s"])
        if r["spend_s_eur"] is not None:
            metrics[f"tourism_season_spend_rolling_eur|{s}"] = (
                {"season": s}, r["spend_s_eur"],
            )
    return metrics


def map_city_geomap(df: DataFrame, topn: int = TOPN_DEFAULT) -> MetricDict:
    """(reference :403-415): only rows with geo coordinates, top-N per
    window in-engine."""
    ranked = kpis.per_window_topn(
        df.filter(F.col("g_lat").isNotNull() & F.col("g_lon").isNotNull()),
        "bookings", topn, "city_id",
    )
    metrics: MetricDict = {}
    for r in ranked.collect():
        labels = {
            "city_id": str(r["city_id"]),
            "city_name": r["g_name_final"] or (r["city_name"] or "NA"),
            "lat": f"{float(r['g_lat']):.5f}",
            "lon": f"{float(r['g_lon']):.5f}",
        }
        metrics[f"tourism_city_bookings_geo|{r['city_id']}"] = (labels, r["bookings"])
    return metrics


# ------------------------ two-phase season score ----------------------------



class TwoPhaseSeasonScore:
    """Stage 1: three single-stateful streaming aggs snapshotting to
    parquet each trigger (complete mode). Stage 2: batch percentile +
    score over the snapshots, pushed to the sink. At-least-once,
    last-write-wins — the same delivery contract as the reference's
    Pushgateway gauges."""

    def __init__(self, spark: SparkSession, staging_dir: str, sink, topn: int = 10):
        self.spark = spark
        self.staging = staging_dir
        self.sink = sink
        self.topn = topn

    def _snapshot_writer(self, name: str, score_after: bool = False):
        """Versioned snapshot + atomic pointer: each trigger writes to a
        fresh v{batch_id} dir and then os.replace()s a pointer file —
        concurrent readers never observe a half-overwritten directory
        (plain mode('overwrite') is delete-then-write and racy against
        the scorer running in another query's foreachBatch)."""

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            vdir = os.path.join(self.staging, name, f"v{batch_id}")
            batch_df.write.mode("overwrite").parquet(vdir)
            pointer = os.path.join(self.staging, f"{name}.current")
            tmp = pointer + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(vdir)
            os.replace(tmp, pointer)
            self._prune_versions(name)
            if score_after:
                self.score_and_push()

        return fn

    def _prune_versions(self, name: str, keep: int = 2) -> None:
        """Retention for the versioned snapshots: a long-running
        topology otherwise accretes one v{batch} directory per trigger
        without bound. Keep the newest ``keep`` versions — the current
        one plus one predecessor a concurrent score_batch() reader may
        still hold open (it resolved the pointer BEFORE this trigger
        repointed it)."""
        base = os.path.join(self.staging, name)
        try:
            versions = sorted(
                (d for d in os.listdir(base) if d.startswith("v")),
                key=lambda d: int(d[1:]),
            )
        except (FileNotFoundError, ValueError):
            return
        for d in versions[:-keep]:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    def _current(self, name: str) -> str | None:
        pointer = os.path.join(self.staging, f"{name}.current")
        if not os.path.isfile(pointer):
            return None
        with open(pointer) as fh:
            return fh.read().strip()

    def has_all_snapshots(self) -> bool:
        return all(
            self._current(n) is not None
            for n in ("bookings_cs", "weather_cs", "flights_cs")
        )

    def score_batch(self) -> DataFrame:
        b = self.spark.read.parquet(self._current("bookings_cs"))
        w = self.spark.read.parquet(self._current("weather_cs"))
        f = self.spark.read.parquet(self._current("flights_cs"))
        return kpis.season_score(b, w, f)

    def score_and_push(self) -> None:
        if not self.has_all_snapshots():
            return
        try:
            self.sink.push(map_season_score(self.score_batch(), self.topn))
        except Exception as e:  # pragma: no cover - timing-dependent
            # At-least-once last-write-wins contract: a failed push is
            # retried implicitly on the next trigger; never kill the
            # host streaming query from its foreachBatch.
            print(f"season-score push skipped this trigger: {e}")

    def queries(
        self,
        bookings_evt: DataFrame,
        weather_evt: DataFrame,
        flights_evt: DataFrame,
        checkpoint_root: str,
        trigger: dict | None = None,
    ):
        bookings_cs, weather_cs, flights_cs = kpis.season_city_stats(
            bookings_evt, weather_evt, flights_evt
        )
        qs = []
        # EVERY writer scores after its snapshot (not just bookings):
        # score_and_push is a no-op until all three pointers exist, so
        # whichever query lands LAST performs the push. With a single
        # designated scorer, an availableNow drain where the scorer's
        # only batch ran first would skip the push forever ("retried on
        # next trigger" — but availableNow has no next trigger). Extra
        # pushes are harmless under the last-write-wins gauge contract.
        with one_state_partition(self.spark):
            for name, df, score_after in [
                ("weather_cs", weather_cs, True),
                ("flights_cs", flights_cs, True),
                ("bookings_cs", bookings_cs, True),
            ]:
                qs.append(
                    start_query(
                        df,
                        f"season_{name}",
                        os.path.join(checkpoint_root, f"chk_{name}"),
                        self._snapshot_writer(name, score_after),
                        mode="complete",
                        trigger=trigger,
                    )
                )
        return qs


# ----------------------------- full topology --------------------------------


def build_all_queries(
    spark: SparkSession,
    weather_base: DataFrame,
    flights_base: DataFrame,
    bookings_base: DataFrame,
    city_dim: DataFrame,
    sink,
    checkpoint_root: str,
    staging_dir: str,
    watermark: str = "45 seconds",
    trigger: dict | None = None,
    topn: int = TOPN_DEFAULT,
    as_of=None,
):
    """Start the full topology (16 queries) off shared parsed
    streams (one Kafka consumer group per query, like the reference's
    per-query checkpoints; SURVEY.md §2.8 W8). Each query starts with
    one state partition (``one_state_partition``)."""
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.parse import (
        enrich_bookings,
        fork_watermarks,
    )

    bookings_enriched = enrich_bookings(bookings_base)
    weather_ing, weather_evt = fork_watermarks(weather_base, watermark)
    flights_ing, flights_evt = fork_watermarks(flights_base, watermark)
    bookings_ing, bookings_evt = fork_watermarks(bookings_enriched, watermark)
    flights_evt = flights_evt.withColumnRenamed("destination_city_id", "city_id")

    chk = lambda n: os.path.join(checkpoint_root, n)  # noqa: E731
    mm = foreach_metrics
    b_city_min = kpis.city_bookings_windowed(
        bookings_ing, "ingest_time", kpis.MINUTE, "bookings"
    )
    with one_state_partition(spark):
        queries = [
            start_query(kpis.ingest_counter(weather_ing), "ingest_counter",
                        chk("chk_i"), mm(map_batch_counts, sink), trigger=trigger),
            start_query(kpis.weather_minute_counts(weather_ing), "weather_cnt",
                        chk("chk_w"), mm(map_batch_counts, sink), trigger=trigger),
            start_query(kpis.flight_minute_counts(flights_ing), "flights_cnt",
                        chk("chk_f"), mm(map_batch_counts, sink), trigger=trigger),
            start_query(kpis.booking_minute_counts(bookings_ing), "bookings_cnt",
                        chk("chk_b"), mm(map_batch_counts, sink), trigger=trigger),
            start_query(kpis.airport_flow(flights_ing, "inbound"), "airports_inbound",
                        chk("chk_air_in"),
                        mm(lambda df: map_airports_top(df, "inbound", topn), sink),
                        trigger=trigger),
            start_query(kpis.airport_flow(flights_ing, "outbound"), "airports_outbound",
                        chk("chk_air_out"),
                        mm(lambda df: map_airports_top(df, "outbound", topn), sink),
                        trigger=trigger),
            start_query(
                kpis.city_bookings_windowed(bookings_ing, "ingest_time", kpis.MINUTE, "bookings"),
                "top_cities_minute", chk("chk_city_min"),
                mm(lambda df: map_city_topn(df, "bookings", "1m", topn), sink),
                trigger=trigger),
            start_query(
                kpis.city_bookings_windowed(bookings_evt, "event_time", kpis.DAYS_30, "bookings_30d"),
                "top_cities_30d", chk("chk_city_30d"),
                mm(lambda df: map_city_topn(df, "bookings_30d", "30d", topn), sink),
                trigger=trigger),
            start_query(
                kpis.city_bookings_windowed(bookings_evt, "event_time", kpis.DAYS_365, "bookings_365d"),
                "top_cities_365d", chk("chk_city_365d"),
                mm(lambda df: map_city_topn(df, "bookings_365d", "365d", topn), sink),
                trigger=trigger),
            start_query(
                kpis.arrivals_today(bookings_enriched, as_of=as_of), "city_today",
                chk("chk_city_today"),
                mm(lambda df: map_city_today(df, topn), sink),
                mode="complete", trigger=trigger),
            start_query(
                kpis.month_rollup(bookings_evt), "month_roll_365",
                chk("chk_month_roll"), mm(map_month_roll, sink), trigger=trigger),
            start_query(
                kpis.season_rollup(bookings_evt), "season_roll_365",
                chk("chk_season_roll"), mm(map_season_roll, sink), trigger=trigger),
            start_query(
                kpis.geo_enrich(b_city_min, city_dim), "cities_geomap",
                chk("chk_city_geo"),
                mm(lambda df: map_city_geomap(df, topn), sink), trigger=trigger),
        ]
    scorer = TwoPhaseSeasonScore(spark, staging_dir, sink, topn)
    queries += scorer.queries(
        bookings_evt, weather_evt, flights_evt, checkpoint_root, trigger
    )
    return queries, scorer
