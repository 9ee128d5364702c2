"""Seeded input generator for the streaming workloads.

Events come from the engine's own simulator (``streaming.simulator``),
which is part of the benchmark harness here and not a measured layer,
and are encoded by the package's own fixture writers. Two outputs:

- Kafka frames for the replay workload: per topic, the wire file of
  ``simulator.write_wire_fixture`` re-encoded by
  ``sources.write_kafka_frame_fixture`` (4 simulated partitions);
- a publish schedule for the live workload: every event sorted by event
  time, cut into one-second slices of ``rate`` events, each slice
  written per topic as a dot-prefixed wire file (Spark's file source
  ignores those) that ``Publisher`` renames into view at its slot.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

TOPICS = ("weather", "flight", "booking")
START = dt.datetime(2024, 1, 1)
PARTITIONS = 4


def simulate_events(seed: int, n_days: int, per_day: int) -> dict[str, list[dict]]:
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.simulator import simulate

    return simulate(START, n_days, per_day, seed=seed)


def write_replay_frames(spark, events: dict[str, list[dict]], out_dir: str) -> None:
    """Kafka frames of every topic under ``out_dir/<topic>``, through a
    wire file under ``out_dir/wire``."""
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.simulator import (
        write_wire_fixture,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.sources import (
        write_kafka_frame_fixture,
    )

    for t in TOPICS:
        wire = os.path.join(out_dir, "wire", f"{t}.jsonl")
        write_wire_fixture(events[t], wire)
        write_kafka_frame_fixture(spark, wire, os.path.join(out_dir, t), t,
                                  n_partitions=PARTITIONS)


def stage_schedule(events: dict[str, list[dict]], src_dir: str, rate: int,
                   seconds: int) -> list[dict]:
    """Write the hidden wire files for ``seconds`` one-second slices of
    ``rate`` events and return the schedule, in publish order: one item
    per (second, topic) with rows, carrying its slot, paths and rows."""
    from travelpulse_spark_stream_tourism_analytics_spark.streaming.simulator import (
        write_wire_fixture,
    )

    merged = sorted(
        ((ev["event_ts"], t, i) for t in TOPICS for i, ev in enumerate(events[t])),
    )
    if len(merged) < rate * seconds:
        raise ValueError("not enough simulated events for the schedule")
    schedule = []
    for s in range(seconds):
        by_topic: dict[str, list[dict]] = {}
        for _, t, i in merged[s * rate:(s + 1) * rate]:
            by_topic.setdefault(t, []).append(events[t][i])
        for t in TOPICS:
            slice_ = by_topic.get(t)
            if not slice_:
                continue
            d = os.path.join(src_dir, t)
            name = f"part-{s:05d}.json"
            write_wire_fixture(slice_, os.path.join(d, "." + name))
            schedule.append({
                "slot": s, "topic": t, "rows": len(slice_),
                "hidden": os.path.join(d, "." + name), "path": os.path.join(d, name),
            })
    return schedule


class Publisher(threading.Thread):
    """Renames each scheduled file into view at ``t0 + slot`` seconds
    (wall clock, ``time.time()``) and records how late each rename ran."""

    def __init__(self, schedule: list[dict], t0: float):
        super().__init__(daemon=True, name="perfbench-publisher")
        self.schedule = schedule
        self.t0 = t0
        self.lateness: list[float] = []
        self._halt = threading.Event()

    def run(self) -> None:
        for item in self.schedule:
            due = self.t0 + item["slot"]
            delay = due - time.time()
            if delay > 0 and self._halt.wait(delay):
                return
            os.rename(item["hidden"], item["path"])
            item["published"] = time.time()
            self.lateness.append(max(0.0, item["published"] - due))

    def stop(self) -> None:
        self._halt.set()
