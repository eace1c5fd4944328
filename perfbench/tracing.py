"""Spans for the traced run, recorded from the benchmark's side only.

``Tracer.install`` replaces, as module attributes in this process, the
public layer functions the workloads reach; each replacement opens a span,
tags the Spark jobs it runs with a job group named after the span, and
materializes the frame it returns (an eager ``localCheckpoint`` with the
same rows) before the span closes, so the span times execution rather
than plan construction. ``TracingStore`` records the snapshot store's
commits, reads, rollbacks, expiry and pointer flips the same way.

Store reads are the exception: they stay lazy, because their consumers
push filters and partition pruning into the scan. Spans stay in memory;
``Tracer.spans`` is written out once, at the end.
"""

from __future__ import annotations

import functools
import os
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s_crawler_spark.sources.store import SnapshotStore

GROUP = "spark.jobGroup.id"
TRACE_GROUP = "trace"  # the tracer's own row counts, kept out of every span


def _rows(df: DataFrame) -> int:
    return df.count()


def _retried(df: DataFrame) -> int:
    from s_crawler_spark.operators import frontier as fr
    return df.filter((F.col("status") == fr.STATUS_PENDING)
                     & (F.col("attempts") > 0)).count()


def _suspects(df: DataFrame) -> int:
    return df.filter(F.col("maybe_seen")).count()


def _wrap_targets():
    """(module, attribute, span name, extra counters) for every layer
    function the workloads call."""
    from s_crawler_spark.operators import dedup as dd
    from s_crawler_spark.operators import frontier as fr
    from s_crawler_spark.operators import politeness as po
    from s_crawler_spark.operators import seen as sn
    from s_crawler_spark.operators import traps as tp
    from s_crawler_spark.plans import wave as wv
    return [
        (wv, "collect_candidates", "wave.collect_candidates", {}),
        (wv, "hydrate_batch", "wave.hydrate_batch", {}),
        (wv, "fetch_parse", "wave.fetch_parse", {}),
        (sn, "dedup_against_seen", "seen.dedup_against_seen", {}),
        (sn, "probe_shards", "seen.probe_shards", {"suspects": _suspects}),
        (sn, "build_shards", "seen.build_shards", {}),
        (sn, "update_shards", "seen.update_shards", {}),
        (fr, "eligible_pending", "frontier.eligible_pending", {}),
        (fr, "record_results", "frontier.record_results",
         {"retried": _retried}),
        (po, "compose_wave", "politeness.compose_wave", {}),
        (po, "decorate_robots_ok", "politeness.decorate_robots_ok", {}),
        (po, "adapt_host_policy", "politeness.adapt_host_policy", {}),
        (dd, "pruned_anti_join", "dedup.pruned_anti_join", {}),
        (dd, "tiered_insert_dedup", "dedup.tiered_insert_dedup", {}),
        (tp, "host_trap_counts", "traps.host_trap_counts", {}),
        (tp, "update_trap_state", "traps.update_trap_state", {}),
    ]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0
        self._local = threading.local()
        self._main: list[dict] = []   # the main thread's open spans
        self._main_ident = threading.get_ident()
        self._restore: list[tuple] = []

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main_ident:
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> dict:
        """Start a span; its parent is this thread's innermost open span,
        or, on a pool thread with none open, the main thread's."""
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None,
               "group": f"s{sid}", "attrs": dict(attrs),
               "_prev_group": self.sc.getLocalProperty(GROUP)}
        self.sc.setLocalProperty(GROUP, rec["group"])
        stack.append(rec)
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        stack = self._stack()
        stack.remove(rec)
        self.sc.setLocalProperty(GROUP, rec.pop("_prev_group"))
        with self._lock:
            self.spans.append(rec)

    def count(self, rec: dict, key: str, fn, df) -> None:
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, TRACE_GROUP)
        try:
            rec["attrs"][key] = fn(df)
        finally:
            self.sc.setLocalProperty(GROUP, prev)

    def materialize(self, out, rec: dict, counters: dict | None):
        """Checkpoint every frame returned (a tuple's too); the counters
        and the row count describe the first."""
        if isinstance(out, tuple):
            return tuple(self.materialize(o, rec, counters if i == 0 else None)
                         for i, o in enumerate(out))
        if not isinstance(out, DataFrame):
            return out
        out = out.localCheckpoint(eager=True)
        if counters is not None:
            self.count(rec, "rows", _rows, out)
            for key, fn in counters.items():
                self.count(rec, key, fn, out)
        return out

    def traced(self, fn, name: str, counters: dict):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            rec = self.open(name)
            try:
                return self.materialize(fn(*args, **kwargs), rec, counters)
            finally:
                self.close(rec)
        return call

    def install(self) -> None:
        for module, attr, name, counters in _wrap_targets():
            fn = getattr(module, attr)
            self._restore.append((module, attr, fn))
            setattr(module, attr, self.traced(fn, name, counters))

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._restore):
            setattr(module, attr, fn)
        self._restore.clear()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except FileNotFoundError:  # expiry racing the walk
                pass
    return total


class FlipStore(SnapshotStore):
    """A SnapshotStore that notes when each wave's pointer flips — the
    wave clock of the untimed metrics (wave intervals, resume time)."""

    def __init__(self, root: str):
        super().__init__(root)
        self.flips: list[tuple[int, float]] = []

    def mark_wave_committed(self, wave: int) -> None:
        super().mark_wave_committed(wave)
        if wave >= 0:
            self.flips.append((wave, time.perf_counter()))


class TracingStore(FlipStore):
    """FlipStore that also records a span per store operation."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer

    def commit(self, df, table, wave, **kw):
        rec = self.tracer.open("store.commit", table=table, wave=wave,
                               mode=kw.get("mode", "full"))
        before = dir_bytes(os.path.join(self.root, table))
        try:
            return super().commit(df, table, wave, **kw)
        finally:
            rec["attrs"]["bytes"] = max(
                0, dir_bytes(os.path.join(self.root, table)) - before)
            chain = 0
            for s in reversed(self.snapshots(table)):
                if s.get("mode", "full") != "delta":
                    break
                chain += 1
            rec["attrs"]["chain"] = chain
            self.tracer.close(rec)

    def read(self, spark, table, *args, **kwargs):
        rec = self.tracer.open("store.read", table=table)
        try:
            return super().read(spark, table, *args, **kwargs)
        finally:
            self.tracer.close(rec)

    def rollback_to_committed(self):
        rec = self.tracer.open("store.rollback")
        try:
            return super().rollback_to_committed()
        finally:
            self.tracer.close(rec)

    def expire_snapshots(self, table=None, keep=2):
        rec = self.tracer.open("store.expire", table=table)
        try:
            return super().expire_snapshots(table, keep=keep)
        finally:
            self.tracer.close(rec)

    def mark_wave_committed(self, wave: int) -> None:
        rec = self.tracer.open("store.flip", wave=wave)
        try:
            super().mark_wave_committed(wave)
        finally:
            self.tracer.close(rec)
