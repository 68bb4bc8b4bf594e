"""The two crawl workloads: inputs, expected outputs and the crawl loop.

Both are closed loops: one crawl loop issues the next wave only after the
previous one commits. Inputs are stock fixtures from
``goribot_spark.sources.fixtures.generate_all`` made from the run's seed;
the expected fetches and items come from the single-threaded reference
simulator (``tests/reference_sim.py``) over the same fixture and config,
computed once per seed and cached beside the fixture.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from host import PeakRss, steal_ticks, tree_cpu_s


# A fresh CrawlEngine reopens the store after this many waves (resume_s).
# The wave after it is cold again, like the first, so both stay out of the
# floor/row-cost fit (layers.engine_metrics), which then runs over the
# largest wave and the smallest.
RESUME_AT = 1

# The live leg's per-host Delay: with the engine's 1 s wave window, 2 URLs
# per host per wave.
DELAY_SEC = 0.5


@dataclass(frozen=True)
class Workload:
    name: str
    hosts: int
    depth: int
    images: int
    live: bool
    # this many hosts' /p/3 fails once; no other page is flaky
    flaky_hosts: int


WORKLOADS = {
    # Synthetic fetch leg, no rules. 1,200 hosts at depth 2: waves of
    # 1.2k, 3.6k and 10.8k URLs (the third carrying the retries), then the
    # retried pages' 36 children.
    "crawl_wide": Workload(
        "crawl_wide", hosts=1200, depth=2, images=1024, live=False, flaky_hosts=12,
    ),
    # Live leg against the in-process fixture server: 16 loopback hosts at
    # depth 1, robots on, Delay DELAY_SEC per host: the roots, two waves of
    # children, then the three retries.
    "crawl_polite": Workload(
        "crawl_polite", hosts=16, depth=1, images=256, live=True, flaky_hosts=3,
    ),
}


def config(w: Workload):
    from goribot_spark.engine import CrawlConfig
    from goribot_spark.operators.admission import LimitRule

    if w.live:
        return CrawlConfig(
            fetch_mode="live", robots=True, retry_max=2, max_waves=64,
            rules=[LimitRule("*", delay_sec=DELAY_SEC)],
        )
    return CrawlConfig(retry_max=2, max_waves=64)


def seed_urls(w: Workload) -> list[str]:
    return [f"http://site{i}.test/p/0" for i in range(w.hosts)]


# -- inputs and expected outputs -------------------------------------------


def _pin_flaky(fx: str, w: Workload, seed: int) -> None:
    """Make exactly ``w.flaky_hosts`` pages flaky, each the third child
    (/p/3) of a host other than site0 (the hot host, fanout 4) and site1
    (whose robots.txt blocks /p/1*), and each failing once. Every seed then
    crawls in the same waves: crawl_wide fetches /p/3 in the second wave,
    retries it in the third and fetches its children in the fourth;
    crawl_polite, at 2 URLs per host per wave, fetches it in the third wave
    and retries it in the fourth."""
    path = f"{fx}/pages.parquet"
    t = pq.read_table(path)
    rng = np.random.default_rng(seed)
    hosts = rng.choice(np.arange(2, w.hosts), size=w.flaky_hosts, replace=False)
    flaky = {f"http://site{h}.test/p/3" for h in hosts}
    fail = [int(u in flaky) for u in t.column("url").to_pylist()]
    i = t.schema.get_field_index("fail_times")
    pq.write_table(t.set_column(i, "fail_times", pa.array(fail, pa.int32())), path)


def fixture_key(w: Workload) -> str:
    """Hash of what the fixture and its expected outputs are made from: the
    workload, the simulator's arguments and the generator, simulator and
    workload sources. A change to any of them builds a fresh fixture."""
    cfg = config(w)
    h = hashlib.sha256(repr((w, cfg.rules, cfg.retry_max, cfg.robots, cfg.ua)).encode())
    for src in ("goribot_spark/sources/fixtures.py", "tests/reference_sim.py", __file__):
        with open(src, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def prepare(work: str, w: Workload, seed: int) -> str:
    """Fixture dir for (workload, seed) with ``expected_*.parquet`` beside
    it; built once and reused by later runs with the same seed and
    fixture key."""
    fx = os.path.join(work, "fixtures", f"{w.name}-{seed}-{fixture_key(w)}")
    if os.path.exists(os.path.join(fx, "expected_items.parquet")):
        return fx
    from goribot_spark.sources.fixtures import generate_all

    tmp = fx + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_all(
        tmp, n_hosts=w.hosts, depth=w.depth, n_images=w.images, seed=seed,
        max_refs=5, flaky_frac=0.0,
    )
    _pin_flaky(tmp, w, seed)
    sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
    from reference_sim import simulate

    cfg = config(w)
    sim = simulate(
        tmp, seed_urls(w), rules=cfg.rules, retry_max=cfg.retry_max,
        robots=cfg.robots, ua=cfg.ua,
    )
    pq.write_table(
        pa.table({
            "url": [f[0] for f in sim.fetches],
            "depth": [f[1] for f in sim.fetches],
            "attempt": [f[2] for f in sim.fetches],
        }),
        f"{tmp}/expected_fetches.parquet",
    )
    pq.write_table(
        pa.table({
            "src_url": [i[0] for i in sim.items],
            "image_id": [i[1] for i in sim.items],
        }),
        f"{tmp}/expected_items.parquet",
    )
    os.replace(tmp, fx)
    return fx


# -- the crawl -------------------------------------------------------------


@dataclass
class Crawl:
    engine: object
    setup_s: float
    crawl_s: float
    resume_s: float
    cpu_s: float
    steal_frac: float
    waves: list[dict]  # run_wave() results, plus our own span wall
    fetch: dict | None  # fixture-server counters over the crawl (live leg)


def _new_engine(spark, w: Workload, fx: str, run_dir: str):
    from goribot_spark.engine import CrawlEngine

    return CrawlEngine(spark, None if w.live else fx, run_dir, config(w))


def _seed(spark, eng, w: Workload, server) -> None:
    if w.live:
        eng.seed([server.site.url(u) for u in seed_urls(w)])
    else:
        from pyspark.sql import functions as F

        eng.seed_frame(
            spark.range(w.hosts).select(
                F.format_string("http://site%d.test/p/0", F.col("id")).alias("url")
            )
        )


def _drop(eng) -> None:
    for df in (eng.pages, eng.images):
        if df is not None:
            df.unpersist()


def run_crawl(spark, w: Workload, fx: str, run_root: str, tracer, rss: PeakRss,
              server=None) -> Crawl:
    if server is not None:
        server.reset()
    with tracer.span("setup") as setup:
        eng = _new_engine(spark, w, fx, run_root)
        _seed(spark, eng, w, server)

    waves: list[dict] = []
    resume_s = 0.0
    cpu0, st0 = tree_cpu_s(), steal_ticks()
    srv_cpu0 = server.counters()["cpu_s"] if server else 0.0
    with tracer.span("crawl") as crawl_span:
        t_resume = None
        while True:
            if len(waves) == RESUME_AT and t_resume is None:
                t_resume = time.time()
                with tracer.span("resume.open"):
                    _drop(eng)
                    eng = _new_engine(spark, w, fx, eng.store.run_dir)
            base = int(eng.store.manifest["driver_state"].get("seq_base", 0))
            with tracer.span(f"wave{len(waves) + 1}") as sp:
                r = eng.run_wave()
            if r.get("done"):
                break
            r["span_s"] = sp.dur
            r["span"] = (sp.start, sp.end)
            r["candidates"] = (
                int(eng.store.manifest["driver_state"]["seq_base"]) - base
            )
            # the first wave and the first after the resume run on a fresh
            # engine, which builds its caches in that wave
            r["cold"] = len(waves) in (0, RESUME_AT)
            waves.append(r)
            if len(waves) == RESUME_AT + 1:
                resume_s = sp.end - t_resume
    cpu = tree_cpu_s() - cpu0
    fetch = server.counters() if server is not None else None
    if fetch is not None:
        cpu -= fetch["cpu_s"] - srv_cpu0
    st1 = steal_ticks()
    rss.sample()
    steal = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
    return Crawl(eng, setup.dur, crawl_span.dur, resume_s, cpu, steal, waves, fetch)


def wave_p50(c: Crawl) -> float:
    return statistics.median(r["span_s"] for r in c.waves)


# -- correctness -----------------------------------------------------------


def check(c: Crawl, w: Workload, fx: str, server=None) -> list[str]:
    """Compare the crawl with the reference simulator and the fixture.
    Returns a list of problems (empty when correct)."""
    to_live = server.site.url if server else (lambda u: u)
    problems = []
    if len(c.waves) <= RESUME_AT:
        problems.append(f"crawl drained in {len(c.waves)} waves, before the resume")
    exp_f = pq.read_table(f"{fx}/expected_fetches.parquet").to_pydict()
    want = Counter(
        (to_live(u), d, a)
        for u, d, a in zip(exp_f["url"], exp_f["depth"], exp_f["attempt"])
    )
    log = c.engine.store.fetch_log().select("url", "depth", "retry_count").toPandas()
    got = Counter(zip(log["url"], log["depth"].astype(int), log["retry_count"].astype(int)))
    if got != want:
        problems.append(
            f"fetches: {sum((got - want).values())} unexpected, "
            f"{sum((want - got).values())} missing"
        )

    images = pq.read_table(
        f"{fx}/images.parquet", columns=["image_id", "w", "h", "phash", "caption"]
    ).to_pandas().set_index("image_id")
    exp_i = pq.read_table(f"{fx}/expected_items.parquet").to_pydict()
    res = (
        c.engine.store.read("results")
        .select("src_url", "image_id", "w", "h", "phash", "caption", "decode_error")
        .toPandas()
    )
    if server:
        # live image ids are URLs: http://<host>/img/<fixture id>.png
        res["fx_id"] = res["image_id"].str.rsplit("/", n=1).str[1].str[:-4]
        html = _utf8_html_pages(fx, to_live)
        want_items = {
            (to_live(s), to_live(s).rsplit("/", 2)[0] + f"/img/{i}.png")
            for s, i in zip(exp_i["src_url"], exp_i["image_id"])
        }
    else:
        res["fx_id"] = res["image_id"]
        want_items = set(zip(exp_i["src_url"], exp_i["image_id"]))
    got_items = set(zip(res["src_url"], res["image_id"]))
    if len(res) != len(got_items) or got_items != want_items:
        problems.append(
            f"items: {len(res)} rows, {len(got_items - want_items)} unexpected, "
            f"{len(want_items - got_items)} missing"
        )
    ref = images.reindex(res["fx_id"])
    bad = (
        res["decode_error"].notna().to_numpy()
        | (res["w"].to_numpy() != ref["w"].to_numpy())
        | (res["h"].to_numpy() != ref["h"].to_numpy())
        | (res["phash"].to_numpy() != ref["phash"].to_numpy())
    )
    # the live leg's caption is the page's img alt text, which the fixture
    # server writes as the image's caption on UTF-8 HTML pages only
    want_cap = ref["caption"].to_numpy(dtype=object)
    if server:
        want_cap = np.where(res["src_url"].isin(html).to_numpy(), want_cap, None)
    bad |= np.array([a != b for a, b in zip(res["caption"], want_cap)], dtype=bool)
    if bad.any():
        problems.append(f"result rows: {int(bad.sum())} differ from the fixture images")

    n_err = error_rows(c)
    if n_err:
        problems.append(f"errors table: {n_err} rows, none expected")
    return problems


def _utf8_html_pages(fx: str, to_live) -> set[str]:
    t = pq.read_table(f"{fx}/pages.parquet", columns=["url", "content_type"]).to_pydict()
    return {
        to_live(u)
        for u, ct in zip(t["url"], t["content_type"])
        if ct == "text/html; charset=utf-8"
    }


def error_rows(c: Crawl) -> int:
    return c.engine.store.read("errors").count()
