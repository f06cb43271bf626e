"""Run one benchmark workload from a seed in a fresh process.

    python3 newsbench/run.py --workload crawl-discover --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. Prints every metric by
name with its unit, then, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes lives under ``.newsbench/`` in the checkout; the
run's state, inputs and Spark scratch are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "scrapy_newsutils_spark"
# one JVM hosts driver and executors. The heap is committed and touched at
# start, so peak RSS does not swing with when the collector grows the heap.
DRIVER_MEMORY = "2g"

# end-to-end metrics in output order; the aliases each workload prints
# beside them name them as the workload's users know them
END_TO_END = [
    ("setup_s", "s"),
    ("rate_per_s", "ops/s"),
    ("step_s_p50", "s"),
    ("heavy_step_s", "s"),
    ("replay_s", "s"),
    ("ok_frac", "ratio"),
    ("peak_rss_mb", "MB"),
    ("state_mb", "MB"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl-discover", "news-day"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled every 0.5 s from /proc. Python
    processes count their proportional set size, so pages a forked worker
    shares with its daemon count once; the JVM, which shares nothing, counts
    its RSS (its PSS costs a page-table walk of the whole heap per read)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _resident(self, pid: int) -> int:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * self._page
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _tree_bytes(self) -> int:
        children = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # process ended while listing
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                total += self._resident(pid)
            except (OSError, IndexError, ValueError):
                pass  # process ended while reading
        return total

    def run(self) -> None:
        while not self._stop_ev.wait(0.5):
            self.peak_bytes = max(self.peak_bytes, self._tree_bytes())

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=10)


def start_spark(work: str, traced: bool):
    from scrapy_newsutils_spark.session import get_spark

    n = cores()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "true",
                     "spark.eventLog.rolling.maxFileSize": "10m"})
    return get_spark(app_name="newsbench", master=f"local[{n}]",
                     shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM's stdin (it exits on
    EOF) and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def finite(x: float) -> float:
    return x if isinstance(x, (int, float)) and math.isfinite(x) else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"newsbench: no {PACKAGE} package beside {HERE}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".newsbench")
    results = os.path.join(base, "results")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    sys.path.insert(0, ROOT)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR

    from newsbench import layers, spans, stats, workloads

    traced = bool(args.trace)
    sampler = RssSampler()
    sampler.start()
    spark = tracer = None
    events = spans.EventLog(os.path.join(work, "events"))
    try:
        t = time.time()
        spark = start_spark(work, traced)
        session_s = time.time() - t
        if traced:
            tracer = spans.Tracer(spark.sparkContext)
            events.start()
            tracer.install()
        out = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, session_s, results)
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        if traced:
            events.finish()
        shutil.rmtree(work, ignore_errors=True)
    tasks, jobs = events.tasks, events.jobs

    steps = out.step_s()
    e2e = {
        "setup_s": out.setup_s,
        "rate_per_s": out.rate_per_s,
        "step_s_p50": stats.median_or_zero(steps),
        "heavy_step_s": stats.median_or_zero(out.heavy_s),
        "replay_s": out.replay_s,
        "ok_frac": 1.0 - stats.failed_frac(out.attempted, out.failed),
        "peak_rss_mb": sampler.peak_bytes / stats.MB,
        "state_mb": out.state_mb,
    }
    correct = (out.failed == 0 and all(out.checks.values())
               and all(finite(v) > 0 for v in e2e.values()))

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"on local[{cores()}], driver heap {DRIVER_MEMORY}")
    for name, ok in out.checks.items():
        print(f"check {name}: {'pass' if ok else 'FAIL'}")
    print(f"failed_frac = {stats.failed_frac(out.attempted, out.failed):.4f} ratio "
          f"({out.failed} of {out.attempted} operations)")
    for name, value, unit in out.aliases:
        print(f"{name} = {value:.4f} {unit}")
    for name, summ in out.facts.get("summaries", {}).items():
        print(f"{name}: {summ.describe('s')}")
    for name, unit in END_TO_END:
        print(f"{name} = {e2e[name]:.4f} {unit}")

    own = os.path.join(results, f"e2e-{args.workload}-{args.seed}.json")
    if traced:
        metrics = layers.per_layer(args.workload, out, tracer.spans, tasks,
                                   jobs, cores(),
                                   tracer.book_s)
        for row in layers.span_table(
                [sp for sp in tracer.spans
                 if out.window[0] <= sp.start and sp.end <= out.window[1]],
                tasks):
            print("span {name}: n={n} total={total_s:.3f}s self={self_s:.3f}s "
                  "task={task_s:.3f}s shuffle={shuffle_mb:.2f}MB "
                  "spill={spill_mb:.2f}MB gc={gc_s:.3f}s skew={skew:.2f} "
                  "failed_tasks={failed}".format(**row))
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.4f} {unit}")
        if os.path.exists(own):
            with open(own) as f:
                base_p50 = json.load(f)["step_s_p50"]
            print(f"tracing overhead = "
                  f"{e2e['step_s_p50'] / base_p50 - 1.0:+.4f} ratio "
                  f"(step_s_p50 {e2e['step_s_p50']:.4f} s traced vs "
                  f"{base_p50:.4f} s untraced, same seed)")
        else:
            print("tracing overhead: no untraced run of this workload and "
                  "seed in .newsbench/results to compare against")
        tracer.dump(os.path.join(
            results, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {name: (e2e[name], unit) for name, unit in END_TO_END}
        with open(own, "w") as f:
            json.dump(e2e, f)

    print(f"run wall = {time.time() - T_START:.1f} s: session "
          f"{session_s:.1f} s, " + ", ".join(
              f"{k} {v:.1f} s" for k, v in out.phases.items()))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": {k: {"value": finite(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
