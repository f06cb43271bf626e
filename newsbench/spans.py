"""Tracing for the traced run: spans recorded from outside the program.

``Tracer.install`` swaps public functions and methods of the engine for
wrappers that record a span (name, start, end, parent) around each call and
set the Spark job description of the calling thread to the span's id. The
engine looks these names up by module or class attribute at call time, so
the wrappers take effect without touching the program. Jobs launched inside
a span carry its id, which is how ``read_event_log`` attributes the Spark
event log's task metrics to the innermost span.

Spans stay in memory until the run ends. The untraced run installs nothing.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

DESC_PREFIX = "nb:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; a thread with no open span (an engine pool thread, the
    streaming callback thread) parents its spans to the innermost span open
    on the thread that created the tracer."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.book_s = 0.0  # time the wrappers spend on their own bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._local.stack = self._main_stack
        self._patched: list[tuple[object, str, object]] = []
        self._book_lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), name, time.time(),
                  parent=parent.id if parent else None, attrs=dict(attrs))
        sp.attrs["_prev_desc"] = self.sc.getLocalProperty(
            "spark.job.description")
        self.sc.setJobDescription(f"{DESC_PREFIX}{sp.id}")
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        self.sc.setJobDescription(sp.attrs.pop("_prev_desc"))
        self.spans.append(sp)

    def add_book(self, seconds: float) -> None:
        with self._book_lock:
            self.book_s += seconds

    # -- patching ----------------------------------------------------------
    def wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``name`` is a
        string or a function of the call's arguments; ``after(span, args,
        kwargs, result)`` may record attributes once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = tracer.open(name(*args, **kwargs) if callable(name) else name)
            try:
                result = orig(*args, **kwargs)
            except BaseException:
                sp.attrs["error"] = True
                tracer.close(sp)
                raise
            tracer.close(sp)
            if after is not None:
                t = time.time()
                after(sp, args, kwargs, result)
                tracer.add_book(time.time() - t)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def install(self) -> None:
        """Wrap every layer boundary the benchmark measures."""
        from scrapy_newsutils_spark.operators import dedup
        from scrapy_newsutils_spark.operators import frontier as frontier_ops
        from scrapy_newsutils_spark.plans import epoch as epoch_mod
        from scrapy_newsutils_spark.plans import nlp_job, posts_pipeline
        from scrapy_newsutils_spark.sources.snapshot_table import SnapshotTable
        from scrapy_newsutils_spark.streaming import stream

        eng = epoch_mod.CrawlEngine
        self.wrap(eng, "run_epoch", "epoch.run_epoch", after=_record_epoch)
        self.wrap(eng, "bootstrap", "epoch.bootstrap")
        self.wrap(eng, "expire_seen", "epoch.expire_seen")
        self.wrap(frontier_ops, "pop_top_k_per_host",
                  "frontier.pop_top_k_per_host")
        self.wrap(dedup, "build_partitioned", "dedup.build_partitioned")
        self.wrap(dedup, "store_apply_keys", "dedup.store_apply_keys")
        self.wrap(dedup.FilterStore, "load_meta_only", "dedup.reload",
                  after=_record_reload)

        def table_op(op):
            def name(table, *args, **kwargs):
                meta = kwargs.get("meta") or {}
                tname = os.path.basename(table.path.rstrip("/"))
                if op == "overwrite" and meta.get("compaction"):
                    return f"snapshot.{tname}.compact"
                return f"snapshot.{tname}.{op}"
            return name

        for op in ("append", "overwrite", "prepare_delete",
                   "commit_prepared_delete", "merge_upsert_partitioned",
                   "delete_by_keys", "rollback"):
            self.wrap(SnapshotTable, op, table_op(op),
                      after=_record_discovery if op == "append" else None)
        self.wrap(posts_pipeline, "process_crawl_batch",
                  "posts.process_crawl_batch", after=_record_batch)
        self.wrap(stream, "process_crawl_stream_batch",
                  "stream.process_crawl_stream_batch")
        self.wrap(stream, "process_fetch_batch", "stream.process_fetch_batch")
        self.wrap(nlp_job, "save_day", "nlp.save_day")
        self.wrap(nlp_job, "save_similarity", "nlp.similarity")
        self.wrap(nlp_job, "save_summary", "nlp.summary")
        self.wrap(nlp_job, "save_metapost", "nlp.metapost")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({"id": sp.id, "name": sp.name,
                                    "start": sp.start, "end": sp.end,
                                    "parent": sp.parent,
                                    "attrs": sp.attrs}) + "\n")


def _record_epoch(sp: Span, args, kwargs, result) -> None:
    sp.attrs.update(popped=result.popped, fetched=result.fetched_ok,
                    deferred=result.deferred,
                    dedup_dropped=result.dedup_dropped)


def _record_reload(sp: Span, args, kwargs, result) -> None:
    sp.attrs["loaded"] = result is not None


def _record_batch(sp: Span, args, kwargs, result) -> None:
    sp.attrs.update(vars(result))


def _record_discovery(sp: Span, args, kwargs, result) -> None:
    """Rows a discovery append added to the frontier, read from the new
    data dir's parquet footers. The epoch commits nothing else to the
    frontier until its pool of parallel commits has joined, so the
    manifest's last data dir is this append's."""
    import pyarrow.parquet as pq

    if (kwargs.get("meta") or {}).get("stage") != "discovery":
        return
    table = args[0]
    d = os.path.join(table.path, table.manifest()["dirs"][-1])
    sp.attrs["rows"] = sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d) if f.endswith(".parquet"))


# ---------------------------------------------------------------------------
# Spark event log


@dataclass
class Task:
    span: int | None
    stage: int
    start: float
    end: float
    run_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    failed: bool


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith(DESC_PREFIX):
        try:
            return int(desc[len(DESC_PREFIX):])
        except ValueError:
            return None
    return None


class EventLog:
    """Tasks (with their stage's span) and job submission times read from a
    rolling Spark event log. The log's SQL plan events run to megabytes per
    query, so a drain thread consumes each rolled file as soon as Spark
    starts the next one and deletes it: the log never holds more than two
    files on disk."""

    # only these events are parsed; every other line is skipped unparsed
    KINDS = ("SparkListenerStageSubmitted", "SparkListenerJobStart",
             "SparkListenerTaskEnd")

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self.tasks: list[Task] = []
        self.jobs: list[float] = []  # submission times
        self._stage_span: dict[int, int | None] = {}
        self._stop_ev = threading.Event()
        self._thread = threading.Thread(target=self._drain_loop, daemon=True)
        self._prefixes = tuple('{"Event":"%s"' % k for k in self.KINDS)

    def start(self) -> None:
        self._thread.start()

    def _files(self) -> list[str]:
        """Event files of the log, oldest first (events_<n>_<app id>)."""
        out = []
        for dirpath, _, files in os.walk(self.log_dir):
            for f in files:
                if f.startswith("events_"):
                    out.append((int(f.split("_")[1]), os.path.join(dirpath, f)))
        return [p for _, p in sorted(out)]

    def _drain_loop(self) -> None:
        while not self._stop_ev.wait(0.5):
            for path in self._files()[:-1]:  # the last one is being written
                self.consume(path)
                os.remove(path)

    def finish(self) -> None:
        """Stop draining and consume what is left (call after Spark has
        stopped and closed the log)."""
        self._stop_ev.set()
        if self._thread.is_alive():
            self._thread.join(timeout=60)
        for path in self._files():
            self.consume(path)
            os.remove(path)

    def consume(self, path: str) -> None:
        with open(path) as f:
            for line in f:
                if line.startswith(self._prefixes):
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerStageSubmitted":
            self._stage_span[ev["Stage Info"]["Stage ID"]] = \
                _span_of(ev.get("Properties"))
        elif kind == "SparkListenerJobStart":
            self.jobs.append(ev["Submission Time"] / 1000.0)
        else:
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            stage = ev["Stage ID"]
            self.tasks.append(Task(
                span=self._stage_span.get(stage), stage=stage,
                start=info["Launch Time"] / 1000.0,
                end=info["Finish Time"] / 1000.0,
                run_s=m.get("Executor Run Time", 0) / 1000.0,
                gc_s=m.get("JVM GC Time", 0) / 1000.0,
                shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
                spill_bytes=(m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0)),
                failed=bool(info.get("Failed")),
            ))
