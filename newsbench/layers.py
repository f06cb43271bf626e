"""Per-layer metrics of the traced run, from spans, the Spark event log and
the workload's own counts.

Additive metrics are given per step: per timed epoch on crawl-discover, per
cycle (the whole timed window) on news-day. ``epoch.*`` timings are medians
over the timed steps (epochs, or micro-batches on news-day). A layer a
workload does not load reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from . import stats
from .spans import Span, Task
from .stats import MB

# (name, unit) in output order; BENCHMARK.json's per_layer list is this list
PER_LAYER = [
    ("session.start_s", "s"),
    ("epoch.bootstrap_s", "s"),
    ("epoch.warm_epoch_s", "s"),
    ("epoch.idle_s", "s"),
    ("epoch.jobs", "count"),
    ("epoch.busy_frac", "ratio"),
    ("epoch.popped", "count"),
    ("epoch.fetched", "count"),
    ("epoch.deferred", "count"),
    ("epoch.dedup_dropped", "count"),
    ("epoch.fetch_yield", "ratio"),
    ("epoch.deferred_frac", "ratio"),
    ("epoch.expire_seen_s", "s"),
    ("frontier.pop_plan_s", "s"),
    ("dedup.builds", "count"),
    ("dedup.reloads", "count"),
    ("dedup.build_s", "s"),
    ("dedup.apply_keys_s", "s"),
    ("dedup.apply_keys_calls", "count"),
    ("dedup.filter_mb", "MB"),
    ("snapshot.fetched.append_s", "s"),
    ("snapshot.url_seen.append_s", "s"),
    ("snapshot.frontier.append_s", "s"),
    ("snapshot.frontier.delete_s", "s"),
    ("snapshot.frontier.compact_s", "s"),
    ("snapshot.frontier.deltas", "count"),
    ("snapshot.rollback_s", "s"),
    ("snapshot.posts.merge_s", "s"),
    ("snapshot.commits", "count"),
    ("snapshot.written_mb", "MB"),
    ("parse.pages", "count"),
    ("parse.outlinks", "count"),
    ("parse.new_frac", "ratio"),
    ("posts.batch_s", "s"),
    ("posts.new", "count"),
    ("posts.new_version", "count"),
    ("posts.minor", "count"),
    ("posts.pristine", "count"),
    ("posts.saved_frac", "ratio"),
    ("stream.batch_s", "s"),
    ("stream.fetch_s", "s"),
    ("stream.source_reads", "ratio"),
    ("stream.trigger_overhead_s", "s"),
    ("nlp.similarity_s", "s"),
    ("nlp.summary_s", "s"),
    ("nlp.metapost_s", "s"),
    ("spark.task_s", "s"),
    ("spark.shuffle_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"),
    ("spark.task_skew", "ratio"),
    ("spark.failed_tasks", "count"),
    ("trace.spans", "count"),
    ("trace.book_s", "s"),
    ("trace.step_s_p50", "s"),
]

COMMIT_OPS = ("append", "overwrite", "commit_prepared_delete",
              "merge_upsert_partitioned", "compact")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals."""
    children = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append((sp.start, sp.end))
    return {sp.id: stats.self_time(sp.start, sp.end, children[sp.id])
            for sp in spans}


def span_table(spans: list[Span], tasks: list[Task]) -> list[dict]:
    """One row per span name: calls, total and self seconds, and the Spark
    work of the jobs the spans launched (attributed to the innermost span)."""
    selfs = self_times(spans)
    by_span = defaultdict(list)
    for t in tasks:
        if t.span is not None:
            by_span[t.span].append(t)
    rows = {}
    for sp in spans:
        r = rows.setdefault(sp.name, {"name": sp.name, "n": 0, "total_s": 0.0,
                                      "self_s": 0.0, "tasks": []})
        r["n"] += 1
        r["total_s"] += sp.dur
        r["self_s"] += selfs[sp.id]
        r["tasks"].extend(by_span[sp.id])
    out = []
    for r in sorted(rows.values(), key=lambda r: -r["total_s"]):
        ts = r.pop("tasks")
        r.update(_task_stats(ts))
        out.append(r)
    return out


def _task_stats(tasks: list[Task]) -> dict:
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.end - t.start)
    largest = max(by_stage.values(), key=sum, default=[])
    return {
        "task_s": sum(t.run_s for t in tasks),
        "shuffle_mb": sum(t.shuffle_bytes for t in tasks) / MB,
        "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "gc_s": sum(t.gc_s for t in tasks),
        "skew": stats.skew(largest) if largest else 0.0,
        "failed": sum(t.failed for t in tasks),
    }


def per_layer(workload: str, out, spans: list[Span], tasks: list[Task],
              job_times: list[float], cores: int, book_s: float) -> dict:
    lo, hi = out.window
    win = [sp for sp in spans if sp.start >= lo and sp.end <= hi]
    steps = out.steps
    per = len(steps) if workload.startswith("crawl") else 1
    f = out.facts

    def total(name: str, spans_=None) -> float:
        return sum(sp.dur for sp in (spans_ or win) if sp.name == name)

    def calls(name: str, spans_=None) -> int:
        return sum(1 for sp in (spans_ or win) if sp.name == name)

    intervals = [(t.start, t.end) for t in tasks]
    idle = [stats.idle_time(s, e, intervals) for s, e in steps]
    busy = [stats.busy_frac(s, e, intervals, cores) for s, e in steps]
    jobs = [sum(1 for j in job_times if s <= j < e) for s, e in steps]

    first = f.get("timed_first", [])
    popped = sum(c["popped"] for c in first)
    fetched = sum(c["fetched"] for c in first)
    deferred = sum(c["deferred"] for c in first)
    dropped = sum(c["dedup_dropped"] for c in first)

    builds = [sp for sp in spans if sp.name == "dedup.build_partitioned"]
    reloads = [sp for sp in spans
               if sp.name == "dedup.reload" and sp.attrs.get("loaded")]
    additions = sum(sp.attrs.get("rows", 0) for sp in win
                    if sp.name == "snapshot.frontier.append")
    batches = [sp.attrs for sp in win if sp.name == "posts.process_crawl_batch"]
    batch_in = sum(b.get("batch_in", 0) for b in batches)
    progress = f.get("progress", [])
    trig = sum(p["durationMs"].get("triggerExecution", 0)
               - p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0
    wtasks = [t for t in tasks if lo <= t.start and t.end <= hi]
    ts = _task_stats(wtasks)
    outlinks = f.get("outlinks", 0)
    commits = sum(1 for sp in win if sp.name.startswith("snapshot.")
                  and sp.name.rsplit(".", 1)[1] in COMMIT_OPS)
    written = f.get("table_mb_window", (0.0, 0.0))

    v = {
        "session.start_s": out.session_s,
        "epoch.bootstrap_s": stats.median_or_zero(sp.dur for sp in spans
                                  if sp.name == "epoch.bootstrap"),
        "epoch.warm_epoch_s": out.warm_s,
        "epoch.idle_s": stats.median_or_zero(idle),
        "epoch.jobs": stats.median_or_zero(jobs),
        "epoch.busy_frac": stats.median_or_zero(busy),
        "epoch.popped": popped,
        "epoch.fetched": fetched,
        "epoch.deferred": deferred,
        "epoch.dedup_dropped": dropped,
        "epoch.fetch_yield": _ratio(fetched, popped),
        "epoch.deferred_frac": _ratio(deferred, popped - dropped),
        "epoch.expire_seen_s": stats.median_or_zero(e[1] for e in f.get("expiries", [])),
        "frontier.pop_plan_s": total("frontier.pop_top_k_per_host") / per,
        "dedup.builds": len(builds),
        "dedup.reloads": len(reloads),
        "dedup.build_s": sum(sp.dur for sp in builds),
        "dedup.apply_keys_s": total("dedup.store_apply_keys") / per,
        "dedup.apply_keys_calls": calls("dedup.store_apply_keys") / per,
        "dedup.filter_mb": f.get("filter_mb", 0.0),
        "snapshot.fetched.append_s": total("snapshot.fetched.append") / per,
        "snapshot.url_seen.append_s": total("snapshot.url_seen.append") / per,
        "snapshot.frontier.append_s": total("snapshot.frontier.append") / per,
        "snapshot.frontier.delete_s": (
            total("snapshot.frontier.prepare_delete")
            + total("snapshot.frontier.commit_prepared_delete")) / per,
        "snapshot.frontier.compact_s": stats.median_or_zero(
            sp.dur for sp in win if sp.name == "snapshot.frontier.compact"),
        "snapshot.frontier.deltas": (sum(f.get("deltas", []))
                                     / max(1, len(f.get("deltas", [])))),
        "snapshot.rollback_s": sum(sp.dur for sp in spans
                                   if sp.name.endswith(".rollback")),
        "snapshot.posts.merge_s": (
            total("snapshot.posts.merge_upsert_partitioned") / per),
        "snapshot.commits": commits / per,
        "snapshot.written_mb": (written[1] - written[0]) / per,
        "parse.pages": batch_in / per,
        "parse.outlinks": outlinks / per,
        "parse.new_frac": _ratio(additions, outlinks),
        "posts.batch_s": total("posts.process_crawl_batch") / per,
        "posts.new": sum(b.get("new", 0) for b in batches),
        "posts.new_version": sum(b.get("new_version", 0) for b in batches),
        "posts.minor": sum(b.get("minor", 0) for b in batches),
        "posts.pristine": sum(b.get("pristine_dropped", 0) for b in batches),
        "posts.saved_frac": _ratio(sum(b.get("saved", 0) for b in batches),
                                   batch_in),
        "stream.batch_s": total("stream.process_crawl_stream_batch") / per,
        "stream.fetch_s": total("stream.process_fetch_batch") / per,
        "stream.source_reads": _ratio(
            sum(p["numInputRows"] for p in progress), f.get("drop_rows", 0)),
        "stream.trigger_overhead_s": trig / per,
        "nlp.similarity_s": total("nlp.similarity") / per,
        "nlp.summary_s": total("nlp.summary") / per,
        "nlp.metapost_s": total("nlp.metapost") / per,
        "spark.task_s": ts["task_s"] / per,
        "spark.shuffle_mb": ts["shuffle_mb"] / per,
        "spark.spill_mb": ts["spill_mb"] / per,
        "spark.gc_s": ts["gc_s"] / per,
        "spark.task_skew": ts["skew"],
        "spark.failed_tasks": ts["failed"],
        "trace.spans": len(win) / per,
        "trace.book_s": book_s / per,
        "trace.step_s_p50": stats.median_or_zero(out.step_s()),
    }
    return {name: (float(v[name]), unit) for name, unit in PER_LAYER}
