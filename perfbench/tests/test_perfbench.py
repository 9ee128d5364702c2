"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import eventlog  # noqa: E402
import generator  # noqa: E402
import streamstats  # noqa: E402
from catalog_data import build_tables  # noqa: E402

sys.path.append(common.ROOT)


# ------------------------------- freshness ----------------------------------


def _files(*specs):
    return [{"topic": t, "rows": r, "due": d} for t, r, d in specs]


def test_freshness_waits_for_every_reader_of_the_topic():
    qt = {"a": "weather", "b": "weather", "c": "booking"}
    files = _files(("weather", 5, 100.0), ("weather", 5, 101.0), ("booking", 7, 101.0))
    triggers = {
        # "a" takes both weather files in its first trigger; "b" only the
        # first, then the second one trigger later.
        "a": [(105.0, 10)],
        "b": [(104.0, 5), (114.0, 5)],
        "c": [(104.0, 0), (114.5, 7)],
    }
    assert streamstats.freshness(files, triggers, qt) == [5.0, 13.0, 13.5]


def test_freshness_uses_running_totals_not_per_trigger_counts():
    qt = {"a": "weather"}
    files = _files(("weather", 3, 0.0), ("weather", 3, 1.0), ("weather", 3, 2.0))
    # Trigger 2 takes in rows of files 2 and 3 together.
    triggers = {"a": [(10.0, 3), (20.0, 0), (30.0, 6)]}
    assert streamstats.freshness(files, triggers, qt) == [10.0, 29.0, 28.0]


def test_freshness_is_none_for_a_file_never_taken_in():
    qt = {"a": "weather", "b": "weather"}
    files = _files(("weather", 4, 0.0), ("weather", 4, 1.0))
    triggers = {"a": [(10.0, 8)], "b": [(10.0, 4)]}
    assert streamstats.freshness(files, triggers, qt) == [10.0, None]


def test_trigger_end_adds_trigger_duration_to_start():
    p = {"timestamp": "1970-01-01T00:00:10.250Z", "durationMs": {"triggerExecution": 1500}}
    assert streamstats.trigger_end(p) == pytest.approx(11.75)


# ------------------------------ percentiles ---------------------------------


def test_supported_percentile_keeps_ten_samples_beyond():
    assert common.supported_percentile(1000, 95) == 95
    assert common.supported_percentile(200, 95) == 95
    assert common.supported_percentile(100, 95) == pytest.approx(90)
    assert common.supported_percentile(60, 95) == pytest.approx(100 * (1 - 10 / 60))
    # Never below the median, however small the sample.
    assert common.supported_percentile(12, 95) == 50
    assert common.supported_percentile(3, 50) == 50


def test_tail_reports_the_percentile_it_used():
    values = list(range(1, 101))  # 1..100
    value, used = common.tail(values, 95)
    assert used == pytest.approx(90)
    assert value == 90
    assert sum(1 for v in values if v > value) == 10


def test_nearest_rank():
    assert common.nearest_rank([3, 1, 2], 50) == 2
    assert common.nearest_rank([5], 99) == 5
    assert common.nearest_rank(list(range(1, 11)), 100) == 10


# ------------------------------- event log ----------------------------------


def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_event_log_groups_jobs_and_tasks_by_description(tmp_path):
    def job(jid, stages, desc, at=1000):
        props = {} if desc is None else {"spark.job.description": desc}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": at,
                "Stage IDs": stages, "Properties": props}

    def task(sid, cpu_ns, gc_ms, rd=0, wr=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    mb = 1024 * 1024
    log = tmp_path / "app-1"
    _write_log(log, [
        {"Event": "SparkListenerApplicationStart", "App Name": "x"},
        job(0, [0, 1], "perfbench:corpus:graph_rank_entities:build"),
        task(0, 2e9, 100, wr=mb),
        task(1, 1e9, 0, rd=mb),
        # Job 1 lists stage 1 again (skipped stage): its tasks stay with job 0.
        job(1, [1, 2], "perfbench:relational:pricing_summary:exec"),
        task(2, 5e8, 50, spill=2 * mb),
        job(2, [3], None),
        task(3, 1e9, 0),
        job(3, [4], "\nid = abc\nbatch = 0"),
        # Submitted before the measured section: set-up, whatever its tag.
        job(4, [5], "perfbench:corpus:graph_rank_entities:build", at=10),
        task(5, 1e9, 0),
        job(5, [6], None, at=10),
    ])
    per = eventlog.read_event_log(str(log), measured_from_ms=500)
    corpus = per["corpus:graph_rank_entities:build"]
    assert corpus["jobs"] == 1 and corpus["tasks"] == 2
    assert corpus["task_cpu_s"] == pytest.approx(3.0)
    assert corpus["gc_s"] == pytest.approx(0.1)
    assert corpus["shuffle_mb"] == pytest.approx(2.0)
    rel = per["relational:pricing_summary:exec"]
    assert rel["tasks"] == 1 and rel["spill_mb"] == pytest.approx(2.0)
    assert per["untagged"]["jobs"] == 1 and per["untagged"]["task_cpu_s"] == pytest.approx(1.0)
    assert per["other"]["jobs"] == 1 and per["other"]["tasks"] == 0
    assert per["setup"]["jobs"] == 2 and per["setup"]["task_cpu_s"] == pytest.approx(1.0)
    assert eventlog.totals(per, "corpus:")["jobs"] == 1
    assert eventlog.totals(per)["jobs"] == 6


# ------------------------------ generators ----------------------------------


def test_simulated_schedule_is_deterministic_per_seed(tmp_path):
    def stage(seed, name):
        events = generator.simulate_events(seed, n_days=2, per_day=200)
        sched = generator.stage_schedule(events, str(tmp_path / name), rate=50, seconds=6)
        return [(f["slot"], f["topic"], f["rows"], open(f["hidden"]).read()) for f in sched]

    a, b, c = stage(7, "a"), stage(7, "b"), stage(8, "c")
    assert a == b
    assert a != c
    # One-second slices of exactly `rate` events, hidden until published.
    per_slot: dict[int, int] = {}
    for slot, _t, rows, _body in a:
        per_slot[slot] = per_slot.get(slot, 0) + rows
    assert per_slot == {s: 50 for s in range(6)}


def test_schedule_is_sorted_by_event_time(tmp_path):
    events = generator.simulate_events(3, n_days=2, per_day=200)
    sched = generator.stage_schedule(events, str(tmp_path), rate=40, seconds=5)
    last_by_slot = {}
    first_by_slot = {}
    for f in sched:
        ts = [json.loads(json.loads(line)["value"])["event_ts"]
              for line in open(f["hidden"]).read().splitlines()]
        last_by_slot[f["slot"]] = max(ts + [last_by_slot.get(f["slot"], "")])
        first_by_slot[f["slot"]] = min(ts + [first_by_slot.get(f["slot"], "~")])
    for s in range(1, 5):
        assert first_by_slot[s] >= last_by_slot[s - 1]


def test_publisher_renames_on_schedule(tmp_path):
    import time

    events = generator.simulate_events(1, n_days=1, per_day=100)
    sched = generator.stage_schedule(events, str(tmp_path), rate=20, seconds=2)
    assert all(not os.path.exists(f["path"]) for f in sched)
    pub = generator.Publisher(sched, time.time())
    pub.start()
    pub.join(10)
    assert all(os.path.exists(f["path"]) and not os.path.exists(f["hidden"]) for f in sched)
    assert len(pub.lateness) == len(sched)
    assert max(pub.lateness) < 1.0


def test_catalog_tables_are_deterministic_per_seed():
    a, b, c = build_tables(0.05, 3), build_tables(0.05, 3), build_tables(0.05, 4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


# -------------------------------- digests -----------------------------------


def test_digest_ignores_row_and_column_order():
    import datetime as dt
    import decimal

    rows = [(1, "x", 2.5, dt.datetime(2024, 1, 1)), (2, None, float("nan"), None)]
    d1 = common.digest(["id", "s", "v", "t"], rows)
    d2 = common.digest(["t", "v", "s", "id"], [tuple(reversed(r)) for r in reversed(rows)])
    assert d1 == d2
    assert common.digest(["a"], [(decimal.Decimal("1.50"),)]) == common.digest(
        ["a"], [(decimal.Decimal("1.5"),)])
    assert common.digest(["a"], [(1,)]) != common.digest(["a"], [(1.0,)])


# ------------------------- replay expectation -------------------------------


def _booking(city, event_ts, checkin, adr, rooms, nights):
    return {"city_id": city, "event_ts": event_ts, "checkin_date": checkin,
            "adr_proxy": adr, "rooms": rooms, "nights": nights}


def test_expected_gauges_roll_up_bookings_by_city_month_and_season():
    import kpi_bench

    events = {"weather": [{}, {}, {}], "flight": [], "booking": [
        _booking("1", "2024-01-02T10:00:00Z", "2024-02-10", 100.0, 2, 3),
        _booking("2", "2024-01-03T10:00:00Z", "2024-03-01", 50.0, 1, None),
        _booking("1", "2024-01-04T10:00:00Z", "2024-02-20", None, 1, 1),
    ]}
    got, problems = kpi_bench.expected_gauges(events)
    assert problems == []
    vals = {k: v for k, (_labels, v) in got.items()}
    assert vals == {
        "tourism_ingest_records_per_trigger": 3,
        "tourism_city_bookings_top|1:365d": 2,
        "tourism_city_bookings_top|2:365d": 1,
        "tourism_month_bookings_rolling|02": 2,
        "tourism_month_spend_rolling_eur|02": 600.0,
        "tourism_month_bookings_rolling|03": 1,
        "tourism_month_spend_rolling_eur|03": 50.0,
        "tourism_season_bookings_rolling|winter": 2,
        "tourism_season_spend_rolling_eur|winter": 600.0,
        "tourism_season_bookings_rolling|spring": 1,
        "tourism_season_spend_rolling_eur|spring": 50.0,
    }


def test_expected_gauges_refuse_a_corpus_across_365_day_windows():
    import kpi_bench

    events = {"weather": [], "flight": [], "booking": [
        _booking("1", "2024-01-02T10:00:00Z", "2024-02-10", 100.0, 1, 1),
        _booking("1", "2024-12-20T10:00:00Z", "2025-01-10", 100.0, 1, 1),
    ]}
    got, problems = kpi_bench.expected_gauges(events)
    assert got == {} and "365-day windows" in problems[0]
