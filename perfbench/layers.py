"""Spans, the Spark event-log reader and the per-layer metrics.

The benchmark records a span around every call it makes into the program
(set-up, each ``run_wave()``, the resume, each isolated layer call). Spans
stay in memory and are written out when the run ends. In a traced run Spark
writes its event log to a run-local directory; its job and task events are
attributed to the enclosing span by time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from host import tree_cpu_s


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


# -- Spark event log -------------------------------------------------------


@dataclass
class Task:
    launch: float
    cpu_s: float
    gc_s: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float


def read_event_log(log_dir: str) -> tuple[list[float], list[Task]]:
    """(job submission times, tasks) from the one application log in
    ``log_dir``. Times are epoch seconds."""
    jobs: list[float] = []
    tasks: list[Task] = []
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append(Task(
                        ev["Task Info"]["Launch Time"] / 1000,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1000,
                        (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 2**20,
                        wr.get("Shuffle Bytes Written", 0) / 2**20,
                        m.get("Disk Bytes Spilled", 0) / 2**20,
                    ))
    return jobs, tasks


def in_window(ts: list[float], lo: float, hi: float) -> int:
    return sum(lo <= t < hi for t in ts)


def task_sums(tasks: list[Task], lo: float, hi: float) -> dict[str, float]:
    sel = [t for t in tasks if lo <= t.launch < hi]
    return {
        "tasks": len(sel),
        "executor_cpu_s": sum(t.cpu_s for t in sel),
        "gc_s": sum(t.gc_s for t in sel),
        "shuffle_read_mb": sum(t.shuffle_read_mb for t in sel),
        "shuffle_write_mb": sum(t.shuffle_write_mb for t in sel),
        "spill_mb": sum(t.spill_mb for t in sel),
    }


# -- engine layer ----------------------------------------------------------

# run_wave() timings -> the phase metric it is summed into; whatever wall
# time the timings do not cover is the commit.
PHASES = {
    "select_wave": "select_wave",
    "fetch_parse_rank": "fetch_parse_rank",
    "materialize": "materialize",
    "write_results": "write_results",
    "plan_writes": "writes",
    "metrics_write": "writes",
    "writes": "writes",
    "bloom": "writes",
}


def phase_windows(wave: dict) -> list[tuple[str, float, float]]:
    """(phase, start, end) in epoch seconds, rebuilt from the wave's
    cumulative timings; the tail after the last mark is the commit."""
    t, out = wave["span"][0], []
    for k, v in wave["timings"].items():
        out.append((PHASES.get(k, "writes"), t, t + v))
        t += v
    out.append(("commit", t, wave["span"][1]))
    return out


# Below this spread of wave sizes (URLs) the per-row work (~0.3 ms/URL)
# is smaller than wave-to-wave noise, so the fit cannot separate the floor
# from the row cost.
FIT_MIN_RANGE = 1000


def row_cost_resolved(waves: list[dict]) -> bool:
    x = [w["scheduled"] for w in waves if not w["cold"]]
    return len(x) >= 2 and max(x) - min(x) >= FIT_MIN_RANGE


def engine_metrics(waves: list[dict]) -> dict[str, float]:
    """Floor and row cost from a line fit of wave wall time on scheduled
    URLs over the warm waves (the cold first wave and the cold wave after
    the resume left out). When the warm waves are too alike in size for a
    fit, the floor is their median wave and the row cost is the slope
    through them, which ``row_cost_resolved`` reports as unresolved."""
    warm = [w for w in waves if not w["cold"]]
    x = np.array([w["scheduled"] for w in warm], dtype=float)
    y = np.array([w["span_s"] for w in warm], dtype=float)
    slope = np.polyfit(x, y, 1)[0] if np.ptp(x) > 0 else 0.0
    floor = y.mean() - slope * x.mean() if row_cost_resolved(waves) else np.median(y)
    out = {
        "engine.wave_floor_s": float(floor),
        "engine.row_cost_ms": float(slope) * 1000,
        "engine.first_wave_s": waves[0]["span_s"],
        "engine.waves": len(waves),
    }
    sums = dict.fromkeys(sorted(set(PHASES.values())) + ["commit"], 0.0)
    for w in waves:
        for phase, lo, hi in phase_windows(w):
            sums[phase] += hi - lo
    out.update({f"engine.{k}_s": v for k, v in sums.items()})
    return out


def spark_metrics(waves: list[dict], crawl: Span, jobs, tasks) -> dict[str, float]:
    n = len(waves)
    in_waves = [task_sums(tasks, *w["span"]) for w in waves]
    total = task_sums(tasks, crawl.start, crawl.end)
    return {
        "spark.jobs_per_wave": sum(in_window(jobs, *w["span"]) for w in waves) / n,
        "spark.tasks_per_wave": sum(s["tasks"] for s in in_waves) / n,
        "spark.executor_cpu_s": total["executor_cpu_s"],
        "spark.gc_s": total["gc_s"],
        "spark.shuffle_read_mb": total["shuffle_read_mb"],
        "spark.shuffle_write_mb": total["shuffle_write_mb"],
        "spark.spill_mb": total["spill_mb"],
    }


def wave_table(waves: list[dict], jobs, tasks) -> list[dict]:
    """Per wave and phase: wall, jobs, tasks, executor CPU, GC, shuffle."""
    rows = []
    for w in waves:
        for phase, lo, hi in phase_windows(w):
            s = task_sums(tasks, lo, hi)
            rows.append({
                "wave": w["wave"], "phase": phase, "wall_s": round(hi - lo, 3),
                "jobs": in_window(jobs, lo, hi), "tasks": s["tasks"],
                "cpu_s": round(s["executor_cpu_s"], 3), "gc_s": round(s["gc_s"], 3),
                "shuffle_mb": round(s["shuffle_read_mb"] + s["shuffle_write_mb"], 3),
            })
    return rows


# -- isolated layer calls --------------------------------------------------


@contextmanager
def timed(tracer: Tracer, name: str, out: dict):
    """Span plus wall and process-tree CPU of one isolated layer call."""
    c0 = tree_cpu_s()
    with tracer.span(name) as s:
        yield
    out[name] = (s.dur, tree_cpu_s() - c0)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_metrics(spark, tracer: Tracer, crawl, fx: str, server) -> dict[str, float]:
    """Each layer called on its own after the crawl, over the run's own
    inputs: its pages, its largest wave's candidates, its images, its
    stores."""
    from pyspark.sql import functions as F

    from goribot_spark.canon import with_url_hash
    from goribot_spark.functions.imaging import with_decoded
    from goribot_spark.functions.pngcodec import decode_png, phash64_batch
    from goribot_spark.operators.admission import dedup_against_seen, resolve_rule
    from goribot_spark.operators.discover import build_candidates
    from goribot_spark.operators.ordering import bfs_order
    from goribot_spark.operators.parse import with_parsed
    from goribot_spark.operators.politeness import salt_and_partition, select_wave

    eng = crawl.engine
    cfg = eng.cfg
    t: dict[str, tuple[float, float]] = {}
    m: dict[str, float] = {}

    # politeness: the initial pending frontier, i.e. the seeded frontier as
    # committed before the first wave
    seed_wave = eng.store.committed_waves()[0]
    pending = resolve_rule(eng.store.read("frontier", seed_wave), cfg.rules).persist()
    pending.count()
    with timed(tracer, "politeness.select", t):
        wave_df, _ = select_wave(pending, cfg.rules, {}, bfs_order(), cfg.window_sec,
                                 cfg.parallelism_factor, cfg.wave_budget, 1)
        noop(salt_and_partition(wave_df, cfg.num_partitions, cfg.hot_host_threshold,
                                cfg.num_salts))
    pending.unpersist()
    m["politeness.select_s"] = t["politeness.select"][0]

    # parse, canon: every page of the fixture the run crawled, as served
    if server is None:
        pages = spark.read.parquet(f"{fx}/pages.parquet")
    else:
        pages = spark.createDataFrame(
            server.site.page_rows(), "url string, content_type string, body binary"
        )
    pages = pages.select("url", "content_type", "body").persist()
    n_pages = pages.count()
    with timed(tracer, "parse.with_parsed", t):
        noop(with_parsed(pages))
    m["parse.pages_per_s"] = n_pages / t["parse.with_parsed"][0]
    m["parse.cpu_s"] = t["parse.with_parsed"][1]
    with timed(tracer, "canon.with_url_hash", t):
        noop(with_url_hash(pages.select("url"), "url", "url_hash"))
    m["canon.urls_per_s"] = n_pages / t["canon.with_url_hash"][0]

    # discover, admission: the pages of the wave that discovered the most
    # links -> its candidates -> anti-join against the final seen set
    big = max(crawl.waves, key=lambda r: r["candidates"])
    log = eng.store.fetch_log().where(F.col("wave") == big["wave"])
    fetched = (
        eng.store.read("frontier")
        .join(log.select("url_hash", "retry_count", "seq"), ["url_hash", "retry_count", "seq"])
        .join(pages, "url")
    )
    parsed = with_parsed(fetched).where(F.col("parse_error").isNull()).persist()
    n_links = parsed.select(F.sum(F.size("links"))).first()[0] or 0
    with timed(tracer, "discover.build_candidates", t):
        cands, n_cands = build_candidates(parsed, big["wave"], 0)
        cands = cands.persist()
        cands.count()
    m["discover.links_per_s"] = n_links / t["discover.build_candidates"][0]
    seen = eng.store.seen().persist()
    seen.count()
    with timed(tracer, "admission.dedup_against_seen", t):
        noop(dedup_against_seen(cands, seen, spark))
    m["admission.dedup_rows_per_s"] = n_cands / t["admission.dedup_against_seen"][0]
    m["admission.admit_ratio"] = sum(r["admitted"] for r in crawl.waves) / max(
        1, sum(r["candidates"] for r in crawl.waves)
    )
    for df in (parsed, cands, seen, pages):
        df.unpersist()

    # imaging, pngcodec: the fixture's image payloads
    images = spark.read.parquet(f"{fx}/images.parquet").select("image_id", "bytes").persist()
    n_images = images.count()
    with timed(tracer, "imaging.with_decoded", t):
        noop(with_decoded(images))
    m["imaging.images_per_s"] = n_images / t["imaging.with_decoded"][0]
    images.unpersist()
    import pyarrow.parquet as pq

    blobs = pq.read_table(f"{fx}/images.parquet", columns=["bytes"]).column(0).to_pylist()[:512]
    with timed(tracer, "pngcodec.decode_phash", t):
        for b in blobs:
            phash64_batch(decode_png(b)[None])
    m["pngcodec.decode_ms"] = t["pngcodec.decode_phash"][0] / len(blobs) * 1000
    res = eng.store.read("results")
    m["imaging.decode_error_frac"] = res.where(F.col("decode_error").isNotNull()).count() / max(
        1, res.count()
    )

    # store: reads a resume makes, and what the run left on disk
    with timed(tracer, "store.resume_read", t):
        eng.store.pending_frontier().count()
        eng.store.seen().count()
    m["store.resume_read_s"] = t["store.resume_read"][0]
    root = eng.store.run_dir
    m["store.wave_dirs"] = len(glob.glob(os.path.join(root, "*", "wave=*")))
    m["store.bytes_mb"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    ) / 2**20
    return m


def fetch_metrics(spark, tracer: Tracer, crawl, fx: str) -> dict[str, float]:
    """crawl_polite: the fixture server's counters over the crawl.
    crawl_wide never fetches over HTTP, so its fetch layer is called on its
    own: ``live_fetch`` and ``live_fetch_robots`` over its first 2,000
    fixture pages, served by a fixture server of its own."""
    c = crawl.fetch
    if c is None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from fixture_server import FixtureServer
        from goribot_spark.operators.discover import host_of
        from goribot_spark.operators.fetch import live_fetch, live_fetch_robots

        cfg = crawl.engine.cfg
        urls = pq.read_table(f"{fx}/pages.parquet", columns=["url"]).column(0).to_pylist()
        with FixtureServer(fx) as srv:
            df = spark.createDataFrame([(srv.site.url(u),) for u in urls[:2000]], "url string")
            df = df.withColumn("host", host_of(F.col("url")))
            with tracer.span("fetch.live_fetch"):
                noop(live_fetch(df.select("url"), cfg.fetch_timeout_sec, cfg.fetch_threads,
                                cfg.ua))
                hosts = df.groupBy("host").agg(F.min("url").alias("url"))
                noop(live_fetch_robots(hosts, cfg.fetch_timeout_sec, cfg.fetch_threads,
                                       cfg.ua))
            c = srv.counters()
    return {
        "fetch.requests": c["requests"],
        "fetch.failed": c["failed"],
        "fetch.server_busy_s": c["busy_s"],
        "fetch.robots_per_host": c["robots_hosts"] / max(1, c["robots_requests"]),
    }
