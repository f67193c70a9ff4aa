"""Benchmark-side tracing: spans around calls into each layer of the
engine, Spark's own stage and job counters, and streaming progress.

Nothing here edits the engine. Spans come from wrappers that this file
installs over the layers' public functions (in every module that bound
them), and the Spark counters are read from the live status store,
which works with ``spark.ui.enabled=false``. Spans stay in memory and
are written once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from datetime import datetime

from stats import Span, attribute

PACKAGE = "customer_review__etl_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent, self.op, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()


def _replace_everywhere(old, new) -> None:
    """Rebind ``old`` to ``new`` in every loaded module of the engine,
    so call sites that imported the function by name see the wrapper."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is old:
                setattr(mod, attr, new)


def _wrap(tracer: Tracer, func, name: str, after=None) -> None:
    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as sp:
            out = func(*args, **kwargs)
            if after is not None and sp is not None:
                after(sp, out)
            return out

    _replace_everywhere(func, wrapper)


class StreamProgress:
    """Collects streaming micro-batch progress through a
    StreamingQueryListener registered on each streaming session."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[tuple[float, int, float]] = []  # (start, rows, seconds)
        self._sessions: set[int] = set()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                outer.batches.append(
                    (start.timestamp(), int(p.numInputRows), p.batchDuration / 1000.0)
                )

        self.listener = _Listener()

    def watch(self, session) -> None:
        if id(session) not in self._sessions:
            self._sessions.add(id(session))
            session.streams.addListener(self.listener)


def install(tracer: Tracer, progress: StreamProgress) -> None:
    """Wrap the public entry points of the sources, ml, scratch and
    streaming layers (the plans layer is timed by the workloads, which
    call the registry themselves)."""
    from customer_review__etl_spark import scratch
    from customer_review__etl_spark.ml import pipeline as ml
    from customer_review__etl_spark.plans import dedupplans
    from customer_review__etl_spark.sources import objectstore, sinks, tables
    from customer_review__etl_spark.streaming import jobs

    for fn in (tables.load, tables.load_parallel):
        _wrap(tracer, fn, "sources.read")
    for fn in (
        sinks.write_csv, sinks.write_parquet, sinks.write_jsonl, sinks.write_orc,
        sinks.write_metrics_json, sinks.save_model, objectstore.publish_run,
    ):
        _wrap(tracer, fn, "sources.write")
    for fn in (
        ml.with_tokens, ml.fit_lda, ml.assign_topics, ml.md5_split,
        ml.fit_classifier, ml.classification_metrics,
    ):
        _wrap(tracer, fn, f"ml.{fn.__name__}")

    def record_dir(sp, out):
        sp.attrs["dir"] = out

    _wrap(tracer, scratch.run_scratch, "scratch.run_scratch", record_dir)

    # A landing is a materialized_df call that runs its builder; a
    # cache hit returns the earlier landing without calling it.
    original = dedupplans.materialized_df

    @functools.wraps(original)
    def materialized(spark, sf_dir, kind, builder, cols):
        with tracer.span("scratch.materialize", kind=kind) as sp:
            def land(*a, **k):
                if sp is not None:
                    sp.attrs["landed"] = True
                return builder(*a, **k)

            return original(spark, sf_dir, kind, land, cols)

    _replace_everywhere(original, materialized)

    def watch(sp, out):
        progress.watch(out.sparkSession)

    for fn in (jobs.stream_events, jobs.stream_events_arrival_batches):
        _wrap(tracer, fn, "streaming.source", watch)
    for name in ("run_append", "run_available_now", "run_incremental",
                 "run_keyed_upsert", "run_update_latest"):
        _wrap(tracer, getattr(jobs, name), "streaming.run")


class SparkCounters:
    """Reads finished stages and jobs from the status store. Stage and
    job ids are sequential, so each poll fetches only the new ones."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self.stages: list[dict] = []
        self.jobs: list[float] = []  # submission times
        self._next_stage = 0
        self._next_job = 0

    @staticmethod
    def _scan(fetch, start: int, gap: int = 8):
        """Yield (id, item) from start until ``gap`` ids in a row are missing."""
        misses, i = 0, start
        while misses < gap:
            try:
                item = fetch(i)
            except Exception:  # noqa: BLE001 - py4j raises for unknown ids
                misses += 1
            else:
                misses = 0
                yield i, item
            i += 1

    def poll(self) -> None:
        mb = 1.0 / (1 << 20)
        for sid, s in self._scan(self._store.lastStageAttempt, self._next_stage):
            self._next_stage = sid + 1
            sub = s.submissionTime()
            if sub.isEmpty():
                continue  # skipped stage: never ran
            self.stages.append({
                "stage": sid,
                "submitted": sub.get().getTime() / 1000.0,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "input_mb": s.inputBytes() * mb,
                "output_mb": s.outputBytes() * mb,
                "shuffle_write_mb": s.shuffleWriteBytes() * mb,
                "shuffle_read_mb": s.shuffleReadBytes() * mb,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) * mb,
            })
        for jid, j in self._scan(self._store.job, self._next_job):
            self._next_job = jid + 1
            sub = j.submissionTime()
            if not sub.isEmpty():
                self.jobs.append(sub.get().getTime() / 1000.0)


def attribute_stages(spans: list[Span], stages: list[dict]) -> None:
    """Attach each stage to the innermost span open when it was
    submitted (stages submitted outside any span are left out)."""
    for st in stages:
        sp = attribute(spans, st["submitted"])
        if sp is not None:
            sp.attrs.setdefault("stages", []).append(st)


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / (1 << 20)


def write_spans(path: str, spans: list[Span], self_s: dict[int, float]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            [
                {"id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                 "start": s.start, "end": s.end, "self_s": self_s[s.sid],
                 "attrs": s.attrs}
                for s in spans
            ],
            f,
            default=str,
        )
