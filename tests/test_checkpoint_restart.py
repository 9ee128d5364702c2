"""Checkpoint-restart recovery: the reference's operating mode is
long-lived queries resuming from their checkpoint dirs after restarts
(reference spark/kafka_to_metrics.py:556,564-589 — every start_query
gets a per-query checkpoint dir precisely so a crashed job resumes
with no dupes and no loss). These tests stop/kill a query mid-stream
and restart it from the SAME checkpoint, asserting the resumed output
equals a from-scratch batch recomputation.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import offset_conf, state_partition_counts
from travelpulse_spark_stream_tourism_analytics_spark.schemas import (
    BOOKING_SCHEMA,
    WEATHER_SCHEMA,
    WIRE_SCHEMA,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming import kpis
from travelpulse_spark_stream_tourism_analytics_spark.streaming.parse import (
    enrich_bookings,
    parse_events,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.pipeline import (
    one_state_partition,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.simulator import (
    simulate,
    write_wire_fixture,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.sinks import (
    start_parquet_sink,
    start_query,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.sources import (
    file_batch,
    file_stream,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.stateful import (
    running_user_totals,
)


def _closed_window_count(spark, src_dir: str) -> int:
    """Batch recomputation of the windows the final watermark
    (max ingest_time - 45 s) has closed — what append mode must have
    committed exactly once by end-of-stream."""
    batch_parsed = parse_events(file_batch(spark, src_dir), WEATHER_SCHEMA)
    max_ing = batch_parsed.agg(F.max("ingest_time")).collect()[0][0]
    watermark = max_ing - dt.timedelta(seconds=45)
    return (
        kpis.weather_minute_counts(batch_parsed)
        .filter(F.col("window.end") <= F.lit(watermark))
        .count()
    )


def test_parquet_sink_restart_resumes_from_checkpoint(spark, tmp_path):
    """Stop the exactly-once parquet sink after draining run-1 data,
    restart it against the SAME checkpoint with new data present, and
    assert (a) the restarted query reads ONLY the new files, (b) the
    final output equals the batch recomputation over everything, with
    zero duplicate windows."""
    src = tmp_path / "wire"
    out = str(tmp_path / "sinkout")
    chk = str(tmp_path / "chk")

    events_a = simulate(dt.datetime(2024, 6, 1), n_days=1, events_per_day=40, seed=11)
    write_wire_fixture(events_a["weather"], str(src / "a.json"))

    def run_once(name: str):
        parsed = parse_events(
            file_stream(spark, str(src)), WEATHER_SCHEMA
        ).withWatermark("ingest_time", "45 seconds")
        q = start_parquet_sink(
            kpis.weather_minute_counts(parsed),
            name,
            out,
            chk,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        return q

    run_once("pq_run1")
    rows_run1 = spark.read.parquet(out).count()
    assert rows_run1 > 0  # run 1 committed some closed windows

    # New data lands while the query is down (later day -> advances the
    # watermark on restart, closing run-1's still-open windows too).
    events_b = simulate(dt.datetime(2024, 6, 2), n_days=1, events_per_day=40, seed=13)
    write_wire_fixture(events_b["weather"], str(src / "b.json"))

    q2 = run_once("pq_run2")

    # (a) no re-read: the restarted query's input rows are exactly the
    # new file's events — the checkpoint remembered file a.json.
    input_rows_run2 = sum(p["numInputRows"] for p in q2.recentProgress)
    assert input_rows_run2 == len(events_b["weather"])

    # (b) no loss, no dupes: final parquet == batch recompute over both
    # runs' data, and every committed window appears exactly once.
    back = spark.read.parquet(out)
    want = _closed_window_count(spark, str(src))
    assert back.count() == want
    assert back.select("window").distinct().count() == want
    assert back.count() > rows_run1  # restart actually appended


def _city_kpi_query(spark, src, chk):
    """The 365-day city bookings KPI over the wire files in ``src``,
    checkpointed at ``chk``. Returns ``start(name)`` and the dict in
    which its foreachBatch keeps the latest count per (window start,
    city)."""
    latest: dict[tuple, int] = {}

    def collect(df, _bid):
        rows = df.collect()
        keys = [(r["window"]["start"], r["city_id"]) for r in rows]
        assert len(keys) == len(set(keys))  # one row per key per batch
        latest.update(zip(keys, (r["bookings_365d"] for r in rows)))

    def start(name: str):
        bookings = enrich_bookings(
            parse_events(file_stream(spark, str(src)), BOOKING_SCHEMA)
        ).withWatermark("event_time", "45 seconds")
        return start_query(
            kpis.city_bookings_windowed(bookings, "event_time", kpis.DAYS_365, "bookings_365d"),
            name, chk, collect, trigger={"availableNow": True},
        )

    return start, latest


def _city_kpi_batch(spark, src) -> dict[tuple, int]:
    """Batch recomputation of the same KPI over every file in ``src``."""
    batch = enrich_bookings(parse_events(file_batch(spark, str(src)), BOOKING_SCHEMA))
    return {
        (r["window"]["start"], r["city_id"]): r["bookings_365d"]
        for r in kpis.city_bookings_windowed(
            batch, "event_time", kpis.DAYS_365, "bookings_365d"
        ).collect()
    }


def test_kpi_restart_keeps_checkpoint_state_partitions(spark, tmp_path):
    """A KPI checkpoint created under the session's own shuffle
    partition count, restarted through the topology's one-partition
    start path, keeps its original state partition count (Spark reads
    it back from the offset log) and resumes its state: the restarted
    query reads only the new file, and the merged output equals the
    batch recomputation over both files, nothing lost or counted
    twice."""
    n_default = spark.conf.get("spark.sql.shuffle.partitions")
    if int(n_default) < 2:
        pytest.skip("the session runs with one shuffle partition")
    src = tmp_path / "wire"
    chk = str(tmp_path / "chk")
    start, latest = _city_kpi_query(spark, src, chk)

    events_a = simulate(dt.datetime(2024, 6, 1), n_days=1, events_per_day=60, seed=17)
    write_wire_fixture(events_a["booking"], str(src / "a.json"))
    q1 = start("kpi_restart_run1")  # a plain start: the session default
    assert q1.awaitTermination(300)
    assert offset_conf(chk)["spark.sql.shuffle.partitions"] == n_default
    assert set(state_partition_counts(chk).values()) == {int(n_default)}
    run1 = dict(latest)

    events_b = simulate(dt.datetime(2024, 6, 2), n_days=1, events_per_day=60, seed=19)
    write_wire_fixture(events_b["booking"], str(src / "b.json"))
    with one_state_partition(spark):
        q2 = start("kpi_restart_run2")
    assert spark.conf.get("spark.sql.shuffle.partitions") == n_default
    assert q2.awaitTermination(300)

    last_batch = max(p["batchId"] for p in q2.recentProgress)
    assert offset_conf(chk, last_batch)["spark.sql.shuffle.partitions"] == n_default
    assert set(state_partition_counts(chk).values()) == {int(n_default)}
    assert sum(p["numInputRows"] for p in q2.recentProgress) == len(events_b["booking"])

    want = _city_kpi_batch(spark, src)
    assert latest == want
    assert sum(want.values()) == len(events_a["booking"]) + len(events_b["booking"])
    assert latest != run1  # the restart resumed and updated the state


CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def _offset_log_manager(query) -> str:
    """Class name of the checkpoint file manager behind the query's
    offset log."""
    jq = query._jsq.streamingQuery()
    return jq.offsetLog().fileManager().getClass().getName()


def _crc_sidecars_missing(checkpoint_dir) -> list[str]:
    """Offset- and commit-log files without Hadoop's ``.<name>.crc``."""
    missing = []
    for log in ("offsets", "commits"):
        files = set(os.listdir(os.path.join(checkpoint_dir, log)))
        missing += [f"{log}/{f}" for f in files if f.isdigit() and f".{f}.crc" not in files]
    return missing


def test_filecontext_checkpoint_restarts_under_filesystem_manager(spark, tmp_path):
    """A KPI checkpoint written entirely under Spark's FileContext
    checkpoint file manager (the default before ``get_spark`` chose the
    FileSystem one) restarts under the session's FileSystem manager
    with new data: the restarted query reads only the new file, its
    offset log goes through the FileSystem manager, both runs leave
    Hadoop's ``.crc`` sidecars, and the output equals the batch
    recomputation over both files, nothing lost or counted twice."""
    session_manager = spark.conf.get(CHECKPOINT_MANAGER)
    assert session_manager == CHECKPOINTING + "FileSystemBasedCheckpointFileManager"
    src = tmp_path / "wire"
    chk = str(tmp_path / "chk")
    start, latest = _city_kpi_query(spark, src, chk)

    events_a = simulate(dt.datetime(2024, 6, 1), n_days=1, events_per_day=60, seed=23)
    write_wire_fixture(events_a["booking"], str(src / "a.json"))
    # The whole first run, source log included (a file source creates
    # it lazily from the DataFrame's session), under FileContext.
    spark.conf.set(CHECKPOINT_MANAGER, CHECKPOINTING + "FileContextBasedCheckpointFileManager")
    try:
        q1 = start("fc_checkpoint_run1")
        assert _offset_log_manager(q1).endswith(".FileContextBasedCheckpointFileManager")
        assert q1.awaitTermination(300)
    finally:
        spark.conf.set(CHECKPOINT_MANAGER, session_manager)
    assert q1.exception() is None
    assert _crc_sidecars_missing(chk) == []

    events_b = simulate(dt.datetime(2024, 6, 2), n_days=1, events_per_day=60, seed=29)
    write_wire_fixture(events_b["booking"], str(src / "b.json"))
    q2 = start("fc_checkpoint_run2")
    assert _offset_log_manager(q2) == session_manager
    assert q2.awaitTermination(300)
    assert q2.exception() is None

    assert min(p["batchId"] for p in q2.recentProgress) > 0  # resumed, not restarted
    assert _crc_sidecars_missing(chk) == []
    assert sum(p["numInputRows"] for p in q2.recentProgress) == len(events_b["booking"])

    want = _city_kpi_batch(spark, src)
    assert latest == want
    assert sum(want.values()) == len(events_a["booking"]) + len(events_b["booking"])


def _write_totals_file(path, batch: list[tuple[str, float]], minute: int) -> None:
    with open(path, "w") as f:
        for key, v in batch:
            f.write(
                json.dumps(
                    {
                        "key": key,
                        "value": json.dumps({"v": v}),
                        "kafka_ts": f"2024-06-01T12:{minute:02d}:00.000Z",
                    }
                )
                + "\n"
            )


def test_stateful_agg_recovers_state_after_midstream_crash(spark, tmp_path):
    """Kill running_user_totals mid-stream (sink raises in batch 1 of
    3) and restart from the same checkpoint: the state store must
    resume from the last committed batch — the failed batch replays,
    nothing is double-counted, and the final totals equal the batch
    recomputation over all files."""
    data_dir = tmp_path / "wire"
    data_dir.mkdir()
    batches = [
        [("u1", 10.0), ("u1", 5.0), ("u2", 1.0)],
        [("u1", 2.5), ("u2", 1.5), ("u3", 7.0)],
        [("u2", 4.0), ("u3", 3.0)],
    ]
    for i, batch in enumerate(batches):
        _write_totals_file(data_dir / f"f{i}.json", batch, i)

    def stream():
        return (
            spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(data_dir))
            .select(
                F.col("key"),
                F.get_json_object("value", "$.v").cast("double").alias("v"),
            )
        )

    chk = str(tmp_path / "chk")
    emitted: list[tuple[int, list]] = []

    def crashing_sink(df, bid):
        rows = df.collect()
        if bid == 1:
            raise RuntimeError("injected sink crash in batch 1")
        emitted.append((bid, rows))

    q = (
        running_user_totals(stream(), "key", "v")
        .writeStream.outputMode("update")
        .foreachBatch(crashing_sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected sink crash"):
        q.awaitTermination(120)
    crash_batches = [bid for bid, _ in emitted]
    assert crash_batches == [0]  # batch 0 committed, batch 1 died

    # Restart from the same checkpoint with a healthy sink.
    q2 = (
        running_user_totals(stream(), "key", "v")
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emitted.append((bid, df.collect())))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    # The failed batch replays under its original id (offsets were
    # never committed), then the remaining file runs — no batch 0
    # re-emission, i.e. file f0 was not re-read into state.
    resumed_batches = [bid for bid, _ in emitted[1:]]
    assert resumed_batches == [1, 2]

    finals: dict[str, tuple[int, float]] = {}
    for _, rows in emitted:
        for r in rows:
            finals[r["key"]] = (r["total_events"], r["total_value"])

    # No loss, no double count: equals the batch group-by over ALL
    # files (state recovered; a reset state would undercount u1/u2, a
    # re-read of f0 would overcount them).
    want = {
        r["key"]: (r["n"], r["s"])
        for r in (
            spark.read.schema(WIRE_SCHEMA)
            .json(str(data_dir))
            .select(
                "key",
                F.get_json_object("value", "$.v").cast("double").alias("v"),
            )
            .groupBy("key")
            .agg(F.count("*").alias("n"), F.round(F.sum("v"), 6).alias("s"))
            .collect()
        )
    }
    assert finals == want
    assert finals["u1"] == (3, 17.5)
    assert finals["u2"] == (3, 6.5)
    assert finals["u3"] == (2, 10.0)


def test_streaming_neardup_state_survives_restart(spark, tmp_path):
    """The near-dup fingerprint index must RESUME from its state store:
    run phase 1 over half the corpus, stop the query, drop new files,
    restart from the SAME checkpoint — docs in phase 2 must still be
    flagged against phase-1 fingerprints (which only state recovery
    can know), and the combined verdicts must equal the batch pair
    ground truth."""
    from travelpulse_spark_stream_tourism_analytics_spark.functions.text import (
        words_of,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.dedup import (
        simhash16,
        simhash16_expr,
        simhash_neardup_pairs,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.stateful import (
        neardup_verdicts,
        streaming_neardup_evidence,
    )

    base = (
        "rooms by the coast fill quickly in summer while flights from "
        "the north arrive late and hotels reprice nightly for demand"
    )
    docs = []
    for i in range(24):
        words = base.split()
        if i % 2 == 0:
            words[i % len(words)] = f"tweak{i}"  # near-dup family
        else:
            words = [f"u{i}_{j}" for j in range(len(words))]
        docs.append((i, " ".join(words)))

    bdf = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = simhash_neardup_pairs(
        simhash16(bdf, "doc_id", "text"), "doc_id", max_hamming=3, bits=16
    )
    expected = {}
    for r in pairs.collect():
        a, b = sorted((r["id_a"], r["id_b"]))
        expected[b] = min(expected.get(b, a), a)
    # the test is only meaningful if some dup's witness is in phase 1
    assert any(e < 12 <= d for d, e in expected.items())

    data_dir = tmp_path / "docs"
    data_dir.mkdir()
    chk = str(tmp_path / "chk")
    got = {}

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(data_dir))
            .select(
                "doc_id",
                simhash16_expr(
                    F.array_distinct(words_of(F.col("text")))
                ).alias("fp"),
            )
        )
        q = (
            streaming_neardup_evidence(stream, "doc_id", "fp", max_hamming=3)
            .writeStream.outputMode("update")
            .foreachBatch(
                lambda df, bid: got.update(
                    {
                        r["doc_id"]: r["dup_of"]
                        for r in neardup_verdicts(df).collect()
                        if r["is_dup"]
                    }
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def write_file(name, rows):
        with open(data_dir / name, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    write_file("f0.json", docs[:12])
    drain()  # phase 1: index the first half, then the query STOPS
    phase1 = dict(got)
    write_file("f1.json", docs[12:])
    drain()  # phase 2: restart from the same checkpoint
    # cross-phase flags exist and required recovered phase-1 state
    assert any(e < 12 <= d for d, e in got.items() if d not in phase1)
    assert got == expected
