"""Bounded operator-scoped caching.

Some multi-consumer operator pipelines (the Jaccard verify stage reads
the exploded shingle relation four times) are pathological both
without materialization (4x recomputation of an expensive lineage —
measured 15x slower at sf0.1) and with a forced shuffle (the exploded
relation is the widest data in the pipeline — 8x slower). ``persist``
is the right local-mode analogue of the stage materialization a
cluster pipeline would do to parquet — but a bare ``persist`` with no
``unpersist`` accumulates executor storage across calls (ADVICE r1).

``scoped_persist`` bounds that: each call SITE keeps at most one live
cached lineage — re-invoking the operator unpersists the previous
one — and ``clear_operator_caches()`` releases everything (bench.py
additionally calls ``spark.catalog.clearCache()`` between queries).

The only threaded caller is ``plans.catalog.build_arms``, which
builds a plan's arms on concurrent driver threads, so ``_LIVE`` is
guarded by a lock and each site records its owning thread: re-
persisting a site that a DIFFERENT, still-running worker thread owns
would race ``unpersist(blocking=True)`` against that thread's reads
(a silent recompute at best), so it fails loudly instead.  The main
thread is exempt as an owner — entries run sequentially from it and
it joins worker threads before reading, so a site it persisted in an
earlier entry is never concurrently read when a later entry's worker
thread re-persists it.

The owner guard is best-effort. It covers only persist-vs-persist
races on one site: a thread that merely READS a cached relation it
did not persist is not recorded anywhere, so nothing stops another
thread from unpersisting it mid-read. And ``owner.is_alive()`` is a
time-of-check/time-of-use test of the owning thread, not of the
cached relation: once the owner exits, the relation it returned may
still be read by its caller while another thread re-persists the
site, and an owner that is finishing right at the check raises an
error it need not.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.RLock()
_LIVE: dict[str, DataFrame] = {}
_OWNER: dict[str, threading.Thread] = {}


def scoped_persist(df: DataFrame, site: str) -> DataFrame:
    """Persist ``df``, releasing whatever the same site cached before."""
    me = threading.current_thread()
    with _LOCK:
        prev = _LIVE.get(site)
        owner = _OWNER.get(site)
        if (
            prev is not None
            and owner is not None
            and owner is not me
            and owner is not threading.main_thread()
            and owner.is_alive()
        ):
            raise RuntimeError(
                f"scoped_persist site {site!r} is live and owned by "
                f"running thread {owner.name!r}; re-persisting it from "
                f"{me.name!r} would evict a cache mid-read — pass a "
                "per-caller cache_site instead of sharing one"
            )
        if prev is not None:
            try:
                # blocking: the default async unpersist leaves the old
                # blocks visible in storage for a while, which (a) makes
                # cache accounting racy and (b) lets Spark's cache manager
                # substitute the DYING cache into brand-new plans that
                # happen to match its lineage (observed as a flaky
                # InMemoryTableScan in plan-purity tests under suite load)
                prev.unpersist(blocking=True)
            except Exception:
                pass  # session of the previous cache may already be gone
        cached = df.persist()
        _LIVE[site] = cached
        _OWNER[site] = me
    return cached


def clear_operator_caches() -> None:
    """Unpersist every live operator cache (long-lived sessions)."""
    with _LOCK:
        for df in _LIVE.values():
            try:
                df.unpersist(blocking=True)
            except Exception:
                pass
        _LIVE.clear()
        _OWNER.clear()
