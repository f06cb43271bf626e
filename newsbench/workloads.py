"""The benchmark's workloads. Each is a closed loop with one client (this
process): it sends the engine its next operation only after the previous
one has returned.

- ``crawl-discover``: the crawl epoch loop with link discovery (the
  engine's synthetic outlinks), cuckoo URL-seen and frontier-membership
  filters in store mode, a recrawl-TTL ``expire_seen`` and MoR compaction
  inside the timed window; it ends with a kill and resume.
- ``news-day``: URL drops stream through ``run_crawl_stream`` into the posts
  table, the same pages are recrawled with seeded edits through
  ``run_crawl_day`` in one batch, then ``save_day`` runs for the first day.

Each workload returns an ``Outcome``: its end-to-end metrics (measured with
tracing off, or on in the traced run), the counts the per-layer metrics
need, and the results of its output checks. Checks run outside the timed
windows; a failing check counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from . import inputs, stats
from .stats import MB



@dataclass
class Outcome:
    setup_s: float = 0.0
    session_s: float = 0.0
    # the repeated part of set-up: bootstraps, or the warm pass
    setup_runs_s: list[float] = field(default_factory=list)
    warm_s: float = 0.0
    window: tuple[float, float] = (0.0, 0.0)
    # (start, end) of each timed step: an epoch, or a micro-batch
    steps: list[tuple[float, float]] = field(default_factory=list)
    rate_per_s: float = 0.0
    heavy_s: list[float] = field(default_factory=list)
    replay_s: float = 0.0
    state_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    # the end-to-end metrics under the names their workload's users know:
    # (name, value, unit)
    aliases: list[tuple[str, float, str]] = field(default_factory=list)
    # workload facts the per-layer metrics are computed from
    facts: dict = field(default_factory=dict)
    # wall seconds of each phase of the run, in order (see ``mark``)
    phases: dict[str, float] = field(default_factory=dict)
    _marked: float = field(default_factory=time.time)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.op(ok)

    def step_s(self) -> list[float]:
        return [e - s for s, e in self.steps]

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark (or since the
        outcome was created) under ``phase``."""
        now = time.time()
        self.phases[phase] = now - self._marked
        self._marked = now


def dir_bytes(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass  # a file removed while walking
    return total


def _tables_mb(root: str) -> float:
    """MB of the snapshot tables under a state root (filter stores and the
    stream checkpoint excluded)."""
    return sum(dir_bytes(os.path.join(root, d)) for d in os.listdir(root)
               if not d.endswith("_filters") and d != "checkpoint") / MB


def _timed(fn, *args, **kwargs):
    t = time.time()
    out = fn(*args, **kwargs)
    return out, time.time() - t


def _report_error(what: str) -> None:
    print(f"newsbench: {what} failed:\n{traceback.format_exc()}",
          file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# crawl-discover

# Sizes keep a run near 65 s on 4 cores: store-mode epochs cost ~8 s
# whatever their size, so the window holds two epochs (one compacts) and
# the frontier stays far below the pop's 10M-row narrow-plan crossover.
CRAWL = dict(
    rows=50_000,
    payloads=1_000,
    fanout=3,
    top_k=10,
    compact_every=3,
    expire_every=2,
    expire_age=1,
    min_epochs=2,
    setup_repeats=2,
)


def _engine(spark, root, images, robots):
    from scrapy_newsutils_spark.plans.epoch import CrawlEngine

    return CrawlEngine(
        spark, root, images=images, robots=robots, top_k=CRAWL["top_k"],
        filter_kind="cuckoo", filter_probe="store",
        compact_every=CRAWL["compact_every"],
        discovery_fanout=CRAWL["fanout"], discovery_images=CRAWL["payloads"])


def _rows_digest(df) -> tuple[int, int]:
    """(row count, order-free hash sum) of a frame: equal digests ⇔ equal
    row multisets, up to hash collisions."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.coalesce(F.sum(F.xxhash64(*df.columns) % (1 << 40)),
                          F.lit(0)).alias("h")).first()
    return int(r["n"]), int(r["h"])


def crawl_discover(spark, work: str, seed: int, seconds: float,
                   session_s: float, results_dir: str) -> Outcome:
    from scrapy_newsutils_spark import fixtures

    out = Outcome(session_s=session_s)
    c = CRAWL
    inp = os.path.join(work, "inputs")
    inputs.write_crawl_inputs(spark, inp, seed, c["rows"], c["payloads"])
    images = spark.read.parquet(os.path.join(inp, "payloads")).cache()
    images.count()
    robots = fixtures.robots_table(spark)
    frontier = spark.read.parquet(os.path.join(inp, "frontier"))
    seen = fixtures.url_seen_table(spark, frontier)
    out.mark("inputs")

    # -- set-up: bootstrap (repeated on fresh roots, median kept) + warm epoch
    root = None
    for r in range(c["setup_repeats"]):
        if root is not None:
            shutil.rmtree(root)
        root = os.path.join(work, f"state{r}")
        eng = _engine(spark, root, images, robots)
        _, secs = _timed(eng.bootstrap, frontier, seen)
        out.setup_runs_s.append(secs)
    epochs = []  # (EpochResult, compacted)
    try:
        res, out.warm_s = _timed(eng.run_epoch)
        epochs.append((res, False))
        out.op(True)
    except Exception:
        _report_error("warm epoch")
        out.op(False)
        return out
    out.setup_s = session_s + stats.median(out.setup_runs_s) + out.warm_s
    out.mark("setup")

    # -- timed window
    expiries = []  # (last_epoch at the call, seconds, expired rows)
    deltas = []
    frontier_v = []  # frontier version at each timed epoch's start
    tables_before = _tables_mb(root)
    t0 = time.time()
    while True:
        deltas.append(eng.frontier_t.n_delete_deltas())
        frontier_v.append(eng.frontier_t.current_version())
        ts = time.time()
        try:
            res = eng.run_epoch()
        except Exception:
            _report_error(f"epoch {eng.last_epoch() + 1}")
            out.op(False)
            break
        te = time.time()
        out.op(True)
        compacted = bool(eng.frontier_t.manifest()["meta"].get("compaction"))
        epochs.append((res, compacted))
        out.steps.append((ts, te))
        if compacted:
            out.heavy_s.append(te - ts)
        if res.epoch % c["expire_every"] == 0:
            try:
                n, secs = _timed(eng.expire_seen, c["expire_age"])
                expiries.append((eng.last_epoch(), secs, n))
                out.op(True)
            except Exception:
                _report_error("expire_seen")
                out.op(False)
        if len(out.steps) == c["min_epochs"]:
            out.state_mb = dir_bytes(root) / MB
        # end on a compaction epoch, so the resume below always replays
        # the same kind of epoch however many fit in the window
        if res.popped == 0 or (len(out.steps) >= c["min_epochs"] and compacted
                               and time.time() - t0 >= seconds):
            break
    t1 = time.time()
    out.window = (t0, t1)
    out.facts["table_mb_window"] = (tables_before, _tables_mb(root))
    timed = [r for r, _ in epochs[1:]]
    work_done = sum(r.popped + r.fetched_ok for r in timed)
    out.rate_per_s = work_done / (t1 - t0)
    out.mark("window")

    # -- kill and resume: undo only the frontier commits of the last timed
    # epoch L, so its fetched/url_seen (and metrics, cash, expiry) commits
    # stand without the frontier commit that closes the epoch — the state a
    # job killed just before that commit leaves. A new engine on the same
    # root must replay L to the rows and counts the uninterrupted L had.
    last = eng.last_epoch()
    resumed_ok = False
    try:
        fetched_ref = _rows_digest(eng.fetched_t.read(spark)
                                   .where(F.col("epoch") == last))
        seen_ref = _rows_digest(eng.url_seen_t.read(spark)
                                .where(F.col("first_seen_epoch") == last))
        eng.frontier_t.rollback(frontier_v[-1])
        eng2 = _engine(spark, root, images, robots)
        res2, out.replay_s = _timed(eng2.run_epoch)
        out.op(True)
        fetched_res = _rows_digest(eng2.fetched_t.read(spark)
                                   .where(F.col("epoch") == last))
        seen_res = _rows_digest(eng2.url_seen_t.read(spark)
                                .where(F.col("first_seen_epoch") == last))
        out.check("resume_rows_equal", fetched_ref == fetched_res
                  and seen_ref == seen_res)
        out.check("resume_counts_equal",
                  _counts(epochs[-1][0]) == _counts(res2))
        eng = eng2
        resumed_ok = True
    except Exception:
        _report_error("kill and resume")
        out.op(False)

    out.mark("resume")
    # -- output checks
    _crawl_checks(spark, out, eng, epochs, expiries, seed, results_dir)
    out.mark("checks")
    if not resumed_ok:
        out.replay_s = float("nan")

    steps = out.step_s()
    first = timed[:c["min_epochs"]]
    out.facts.update(
        epochs=[_counts(r) for r, _ in epochs],
        timed_first=[_counts(r) for r in first],
        deltas=deltas, expiries=expiries,
        # the synthetic outlink generator emits `fanout` links per fetched page
        outlinks=c["fanout"] * sum(r.fetched_ok for r in timed),
        filter_mb=sum(dir_bytes(os.path.join(root, d)) for d in
                      ("url_seen_filters", "frontier_filters")) / MB)
    out.aliases = [
        ("crawl_ops_per_s", out.rate_per_s, "ops/s"),
        ("epoch_s_p50", stats.median(steps) if steps else float("nan"), "s"),
        ("compaction_epoch_s",
         stats.median(out.heavy_s) if out.heavy_s else float("nan"), "s"),
        ("resume_s", out.replay_s, "s"),
    ]
    out.facts["summaries"] = {"epoch_s": stats.summarize(steps)} if steps else {}
    return out


def _counts(r) -> dict:
    return {"epoch": r.epoch, "popped": r.popped, "fetched": r.fetched_ok,
            "robots_denied": r.robots_denied, "deferred": r.deferred,
            "dedup_dropped": r.dedup_dropped}


def _crawl_checks(spark, out: Outcome, eng, epochs, expiries, seed: int,
                  results_dir: str) -> None:
    age = CRAWL["expire_age"]
    fetched = eng.fetched_t.read(spark)

    # per-epoch counts repeat exactly for a seed: the first run with a seed
    # records them, later runs compare the epochs both have
    counts = [_counts(r) for r, _ in epochs]
    path = os.path.join(results_dir, f"counts-crawl-discover-{seed}.json")
    prev = []
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
    n = min(len(prev), len(counts))
    ok = prev[:n] == counts[:n]
    if ok and len(counts) > len(prev):
        with open(path, "w") as f:
            json.dump(counts, f)
    out.check("epoch_counts_repeat", ok)

    # a url_key is fetched again only after its url_seen row expired: an
    # expire_seen call at last_epoch x forgets rows first seen ≤ x - age
    dups = (fetched.groupBy("url_key").agg(F.sort_array(F.collect_list("epoch"))
                                           .alias("eps"))
            .where(F.size("eps") > 1).collect())
    calls = [x for x, _, _ in expiries]

    def refetch_ok(eps):
        return all(any(e1 <= x - age and x < e2 for x in calls)
                   for e1, e2 in zip(eps, eps[1:]))

    out.check("no_refetch_within_ttl", all(refetch_ok(r["eps"]) for r in dups))

    # every attempted key is in url_seen, unless an expiry forgot it since
    horizon = max((x - age for x in calls), default=-1)
    seen_keys = eng.url_seen_t.read(spark).select("url_key")
    missing = (fetched.where(F.col("epoch") > horizon).select("url_key")
               .join(seen_keys, "url_key", "left_anti").count())
    out.check("attempted_in_url_seen", missing == 0)

    denied_bytes = fetched.where((F.col("status") == "robots_denied")
                                 & F.col("bytes").isNotNull()).count()
    out.check("robots_denied_null_bytes", denied_bytes == 0)


# ---------------------------------------------------------------------------
# news-day

# Sizes keep a run near 60 s on 4 cores; the day job and each micro-batch
# cost ~10 s and ~7 s whatever their size. 400 pages over 16 drop files:
# the stream's file source takes 8 files per trigger, so phase 1 runs 2
# micro-batches of 200 pages; save_day runs for the first of the 5 days.
NEWS = dict(
    docs=400,
    drop_files=16,
    warm_docs=20,
    nlp_days=1,
)
# a stream that has not drained its drops by then counts as failed; the
# bound keeps a whole run within three minutes
STREAM_TIMEOUT_S = 45


def news_day(spark, work: str, seed: int, seconds: float,
             session_s: float, results_dir: str) -> Outcome:
    import duckdb

    from scrapy_newsutils_spark import schemas
    from scrapy_newsutils_spark.plans import crawl_compose, nlp_job
    from scrapy_newsutils_spark.sources.snapshot_table import SnapshotTable
    from scrapy_newsutils_spark.streaming import stream

    out = Outcome(session_s=session_s)
    n = NEWS
    inp = os.path.join(work, "inputs")
    inputs.write_news_inputs(spark, inp, seed, n["docs"], n["drop_files"])
    docs_path = os.path.join(inp, "documents.parquet")
    docs = spark.read.parquet(docs_path).cache()
    docs.count()
    # payloads and recrawl pages are column expressions over the cached docs
    payloads = inputs.page_payloads(
        inputs.pages(docs, n["docs"], edited=False))
    pages_v2 = inputs.pages(docs, n["docs"], edited=True)
    robots = spark.createDataFrame([("news.example.com", 0, [], 64)],
                                   schema=schemas.ROBOTS)
    src, days = inputs.SOURCE_URL, inputs.DAYS
    out.mark("inputs")

    # -- set-up: one warm pass of the batch composition (parse and MERGE
    # code paths) into a throwaway posts table. It is not repeated like
    # crawl-discover's bootstrap: a second pass would cost ~6 s, a tenth of
    # the run, for a part of setup_s smaller than the session start.
    warm = os.path.join(work, "warm")
    warm_pages = inputs.pages(docs.where(F.col("doc_id") < n["warm_docs"]),
                              n["docs"], edited=False)
    try:
        _, secs = _timed(crawl_compose.run_crawl_day, spark, warm_pages,
                         SnapshotTable(os.path.join(warm, "posts"),
                                       schemas.POSTS), src, days)
        out.setup_runs_s.append(secs)
        out.op(True)
    except Exception:
        _report_error("warm pass")
        out.op(False)
        return out
    shutil.rmtree(warm)
    out.setup_s = session_s + secs
    out.mark("setup")

    state = os.path.join(work, "state")
    posts_t = SnapshotTable(os.path.join(state, "posts"), schemas.POSTS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_path}')")

    # -- phase 1: URL drops through the crawl stream
    os.makedirs(state, exist_ok=True)
    tables_before = _tables_mb(state)
    t0 = time.time()
    q = stream.run_crawl_stream(
        spark, os.path.join(inp, "drops"), os.path.join(state, "crawl"),
        payloads, robots, posts_t, days, src,
        checkpoint=os.path.join(state, "checkpoint"), available_now=True)
    done = q.awaitTermination(timeout=STREAM_TIMEOUT_S)
    t1 = time.time()
    if not done:
        q.stop()
    stream_ok = done and q.exception() is None
    if not stream_ok:
        print(f"newsbench: crawl stream failed: "
              f"{q.exception() or 'timed out'}", file=sys.stderr, flush=True)
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    for p in progress:
        # the trigger starts at p.timestamp; its addBatch phase (the
        # foreachBatch call) ends just before the trigger's offset commit
        out.op(stream_ok)
        start = dt.datetime.fromisoformat(p.timestamp).timestamp()
        end = start + p.durationMs.get("triggerExecution", 0) / 1000.0
        out.steps.append((end - p.durationMs.get("addBatch", 0) / 1000.0, end))
    if not progress:
        out.op(False)
    ingested = posts_t.read(spark).count()
    out.rate_per_s = ingested / (t1 - t0)
    out.mark("phase1")
    out.check("phase1_aggregates",
              _agg(posts_t.read(spark)) == _oracle(con, edited=False))
    out.mark("checks1")

    # -- phase 2: one recrawl batch of every page with edits, then the day
    # jobs
    recrawl = None  # the batch's BatchStats
    try:
        (recrawl, _), out.replay_s = _timed(crawl_compose.run_crawl_day,
                                            spark, pages_v2, posts_t, src,
                                            days)
        out.op(True)
    except Exception:
        _report_error("recrawl batch")
        out.replay_s = float("nan")
        out.op(False)
    day_counts = {}
    for day in days[:n["nlp_days"]]:
        try:
            day_counts[day], secs = _timed(nlp_job.save_day, spark, posts_t,
                                          day)
            out.heavy_s.append(secs)
            out.op(True)
        except Exception:
            _report_error(f"save_day {day}")
            out.op(False)
    t2 = time.time()
    out.window = (t0, t2)
    out.facts["table_mb_window"] = (tables_before, _tables_mb(state))
    out.mark("phase2")

    expect = _oracle(con, edited=True)
    posts = posts_t.read(spark).where(~F.col("type").startswith("metapost"))
    out.check("phase2_aggregates", _agg(posts) == expect)
    if recrawl is not None:
        ev = con.execute(f"""
            SELECT count(*) FILTER (WHERE doc_id % 7 = {inputs.EDIT_TEXT_MOD}),
                   count(*) FILTER (WHERE doc_id % 7 = {inputs.EDIT_IMAGE_MOD})
            FROM documents""").fetchone()
        got = [getattr(recrawl, k)
               for k in ("new", "new_version", "minor", "pristine_dropped")]
        out.check("edit_classes",
                  got == [0, ev[0], ev[1], n["docs"] - ev[0] - ev[1]])
    per_day = {row[0]: row[1] for row in expect}  # day → posts
    out.check("day_job_counts", len(day_counts) == n["nlp_days"] and all(
        c["similarity"] == per_day[d.isoformat()]
        and c["summary"] == per_day[d.isoformat()]
        for d, c in day_counts.items()))
    out.state_mb = dir_bytes(state) / MB
    out.mark("checks2")

    steps = out.step_s()
    out.aliases = [
        ("ingest_posts_per_s", out.rate_per_s, "posts/s"),
        ("microbatch_s_p50", stats.median(steps) if steps else float("nan"),
         "s"),
        ("recrawl_posts_per_s",
         recrawl.batch_in / out.replay_s if recrawl is not None
         else float("nan"), "posts/s"),
        ("nlp_day_s", stats.median(out.heavy_s) if out.heavy_s
         else float("nan"), "s"),
    ]
    out.facts.update(
        progress=[{"numInputRows": p.numInputRows,
                   "durationMs": dict(p.durationMs)} for p in progress],
        drop_rows=n["docs"])
    out.facts["summaries"] = ({"microbatch_s": stats.summarize(steps)}
                              if steps else {})
    if out.heavy_s:
        out.facts["summaries"]["save_day_s"] = stats.summarize(out.heavy_s)
    return out


def _agg(posts) -> list[tuple]:
    """Per-day aggregates of the posts table, sorted by day."""
    rows = (
        posts.groupBy(F.to_date("publish_time").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_posts"),
             F.sum(F.size(F.split("text", " "))).alias("words"),
             F.countDistinct("top_image").alias("top_images"),
             F.sum(F.col("top_image").endswith("-v2.png").cast("long"))
             .alias("new_images"),
             F.sum((F.col("version") == 2).cast("long")).alias("v2"))
        .orderBy("day").collect())
    return [(r["day"].isoformat(), int(r["n_posts"]), int(r["words"]),
             int(r["top_images"]), int(r["new_images"]), int(r["v2"]))
            for r in rows]


def _oracle(con, edited: bool) -> list[tuple]:
    """The same per-day aggregates computed by DuckDB straight from
    ``documents``: page doc_id lands on day doc_id % 5; after the recrawl
    a text edit adds a version-2 post (one more word), a top_image edit
    replaces the page's og:image in place."""
    tm, im = inputs.EDIT_TEXT_MOD, inputs.EDIT_IMAGE_MOD
    e = 1 if edited else 0
    rows = con.execute(f"""
        WITH d AS (
          SELECT doc_id, CAST(DATE '2024-03-01' + CAST(doc_id % 5 AS INT)
                              AS DATE) AS day,
                 len(string_split(text, ' ')) AS words,
                 {e} = 1 AND doc_id % 7 = {tm} AS text_edit,
                 {e} = 1 AND doc_id % 7 = {im} AS image_edit
          FROM documents)
        SELECT strftime(day, '%Y-%m-%d'),
               CAST(count(*) + count(*) FILTER (WHERE text_edit) AS BIGINT),
               CAST(sum(words) + sum(CASE WHEN text_edit THEN words + 1
                                          ELSE 0 END) AS BIGINT),
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE image_edit) AS BIGINT),
               CAST(count(*) FILTER (WHERE text_edit) AS BIGINT)
        FROM d GROUP BY day ORDER BY day""").fetchall()
    return [tuple(r) for r in rows]


WORKLOADS = {"crawl-discover": crawl_discover, "news-day": news_day}
