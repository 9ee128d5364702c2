"""The whole 16-query KPI topology of ``build_all_queries``, drained
once with ``availableNow`` over a small simulated corpus replayed as
Kafka frames: every query terminates cleanly, each starts with one
state partition, the session conf is left as it was found, and the
gauges that do not depend on micro-batch boundaries equal a batch
recomputation with the same ``kpis`` and mapper functions."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import offset_conf, state_partition_counts
from travelpulse_spark_stream_tourism_analytics_spark.schemas import (
    BOOKING_SCHEMA,
    CITY_DIM_SCHEMA,
    FLIGHT_SCHEMA,
    WEATHER_SCHEMA,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming import kpis, pipeline
from travelpulse_spark_stream_tourism_analytics_spark.streaming.parse import (
    enrich_bookings,
    parse_events,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.simulator import (
    simulate,
    write_wire_fixture,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.sinks import (
    MemoryMetricSink,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.sources import (
    KAFKA_FRAME_SCHEMA,
    decode_kafka_frame,
    kafka_frame_replay,
    write_kafka_frame_fixture,
)

SCHEMAS = {"weather": WEATHER_SCHEMA, "flight": FLIGHT_SCHEMA, "booking": BOOKING_SCHEMA}
CITY_DIM = [
    ("3165524", "Roma", 41.9028, 12.4964),
    ("3173435", "Milano", 45.4642, 9.1900),
    ("3169070", "Napoli", 40.8518, 14.2681),
]
#: Gauge families whose final value does not depend on where the
#: micro-batch boundaries fall (the 1-minute and 30-day top cities do).
BOUNDARY_FREE = (
    "tourism_ingest_records_per_trigger",
    "tourism_city_bookings_top",
    "tourism_month_bookings_rolling",
    "tourism_month_spend_rolling_eur",
    "tourism_season_bookings_rolling",
    "tourism_season_spend_rolling_eur",
    "tourism_season_score",
)


def _boundary_free(gauges: dict) -> dict:
    out = {}
    for key, (labels, value) in gauges.items():
        family = key.split("|", 1)[0]
        if family not in BOUNDARY_FREE:
            continue
        if family == "tourism_city_bookings_top" and not key.endswith(":365d"):
            continue
        out[key] = (labels, value)
    return out


def test_topology_drains_with_one_state_partition(spark, tmp_path):
    # Three June days: one 365-day window, so its top cities are final.
    events = simulate(dt.datetime(2024, 6, 1), n_days=3, events_per_day=60, seed=5)
    frames = tmp_path / "frames"
    for kind in SCHEMAS:
        wire = str(tmp_path / "wire" / f"{kind}.jsonl")
        write_wire_fixture(events[kind], wire)
        write_kafka_frame_fixture(spark, wire, str(frames / kind), kind, n_partitions=2)
    src = {
        kind: parse_events(kafka_frame_replay(spark, str(frames / kind)), schema)
        for kind, schema in SCHEMAS.items()
    }

    conf_before = spark.conf.getAll
    partitions_before = spark.conf.get("spark.sql.shuffle.partitions")
    sink = MemoryMetricSink()
    chk_root = str(tmp_path / "chk")
    queries, _scorer = pipeline.build_all_queries(
        spark, src["weather"], src["flight"], src["booking"],
        spark.createDataFrame(CITY_DIM, CITY_DIM_SCHEMA), sink,
        checkpoint_root=chk_root, staging_dir=str(tmp_path / "staging"),
        trigger={"availableNow": True}, as_of=F.lit(dt.date(2024, 6, 2)),
    )
    try:
        for q in queries:
            assert q.awaitTermination(600), f"{q.name} did not drain"
    finally:
        for q in queries:
            if q.isActive:
                q.stop()

    assert len(queries) == 16
    assert [q.name for q in queries if q.exception() is not None] == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions_before
    assert spark.conf.getAll == conf_before

    checkpoints = sorted(os.listdir(chk_root))
    assert len(checkpoints) == 16
    for name in checkpoints:
        chk = os.path.join(chk_root, name)
        assert offset_conf(chk)["spark.sql.shuffle.partitions"] == "1", name
        counts = state_partition_counts(chk)
        assert counts and set(counts.values()) == {1}, (name, counts)

    def batch(kind):
        raw = spark.read.schema(KAFKA_FRAME_SCHEMA).parquet(str(frames / kind))
        return parse_events(decode_kafka_frame(raw), SCHEMAS[kind])

    b = enrich_bookings(batch("booking"))
    w = batch("weather")
    f = batch("flight").withColumnRenamed("destination_city_id", "city_id")
    want: dict = {}
    want.update(pipeline.map_batch_counts(kpis.ingest_counter(w)))
    want.update(pipeline.map_city_topn(
        kpis.city_bookings_windowed(b, "event_time", kpis.DAYS_365, "bookings_365d"),
        "bookings_365d", "365d"))
    want.update(pipeline.map_month_roll(kpis.month_rollup(b)))
    want.update(pipeline.map_season_roll(kpis.season_rollup(b)))
    want.update(pipeline.map_season_score(kpis.season_score(*kpis.season_city_stats(b, w, f))))
    want = _boundary_free(want)
    got = _boundary_free(sink.latest())

    assert {k.split("|", 1)[0] for k in want} == set(BOUNDARY_FREE)
    assert want["tourism_ingest_records_per_trigger"][1] == len(events["weather"])
    assert sorted(got) == sorted(want)
    for key, (labels, value) in want.items():
        assert got[key][0] == labels, key
        assert got[key][1] == pytest.approx(value, rel=1e-9), key
