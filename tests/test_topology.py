"""The whole 16-query KPI topology of ``build_all_queries``, drained
with ``availableNow`` over a small simulated corpus replayed as Kafka
frames: every query terminates cleanly, each starts with one state
partition, the session conf is left as it was found, the gauges that
do not depend on micro-batch boundaries equal a batch recomputation
with the same ``kpis`` and mapper functions, and a second drain into
fresh checkpoints reuses the generated classes of the first."""

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


def _drain(spark, frames, run_dir):
    """One ``availableNow`` drain of all 16 queries over ``frames``,
    checkpointed under ``run_dir``. Returns the queries and the sink."""
    src = {
        kind: parse_events(kafka_frame_replay(spark, str(frames / kind)), schema)
        for kind, schema in SCHEMAS.items()
    }
    sink = MemoryMetricSink()
    queries, _scorer = pipeline.build_all_queries(
        spark, src["weather"], src["flight"], src["booking"],
        spark.createDataFrame(CITY_DIM, CITY_DIM_SCHEMA), sink,
        checkpoint_root=str(run_dir / "chk"), staging_dir=str(run_dir / "staging"),
        trigger={"availableNow": True}, as_of=F.lit(dt.date(2024, 6, 2)),
    )
    try:
        for q in queries:
            assert q.awaitTermination(600), f"{q.name} did not drain"
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
    return queries, sink


@pytest.fixture(scope="module")
def first_drain(spark, tmp_path_factory):
    """The simulated corpus as Kafka frames, and one drain of it."""
    # Three June days: one 365-day window, so its top cities are final.
    events = simulate(dt.datetime(2024, 6, 1), n_days=3, events_per_day=60, seed=5)
    root = tmp_path_factory.mktemp("topology")
    frames = root / "frames"
    for kind in SCHEMAS:
        wire = str(root / "wire" / f"{kind}.jsonl")
        write_wire_fixture(events[kind], wire)
        write_kafka_frame_fixture(spark, wire, str(frames / kind), kind, n_partitions=2)
    conf_before = spark.conf.getAll
    queries, sink = _drain(spark, frames, root / "first")
    return {
        "events": events, "frames": frames, "chk_root": str(root / "first" / "chk"),
        "queries": queries, "sink": sink,
        "conf_before": conf_before, "conf_after": spark.conf.getAll,
    }


def test_topology_drains_with_one_state_partition(spark, first_drain):
    events, frames = first_drain["events"], first_drain["frames"]
    queries, sink = first_drain["queries"], first_drain["sink"]
    chk_root = first_drain["chk_root"]

    assert len(queries) == 16
    assert [q.name for q in queries if q.exception() is not None] == []
    assert first_drain["conf_after"] == first_drain["conf_before"]

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


def test_second_drain_reuses_generated_classes(spark, first_drain, tmp_path):
    """Spark caches Janino-compiled classes JVM-wide, up to
    ``spark.sql.codegen.cache.maxEntries``. ``get_spark`` sizes that
    cache above the topology's working set, so a second drain of the
    same plans into fresh checkpoints compiles (almost) nothing new.
    At Spark's default of 100 entries each drain evicted and
    recompiled several hundred classes."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled_before = codegen.METRIC_COMPILATION_TIME().getCount()
    queries, sink = _drain(spark, first_drain["frames"], tmp_path)
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled_before

    assert [q.name for q in queries if q.exception() is not None] == []
    assert compiled <= 5, f"{compiled} classes compiled again"
    assert _boundary_free(sink.latest()) == _boundary_free(first_drain["sink"].latest())
