"""Behavioral e2e tests mirroring the reference suite (SURVEY.md §5) —
engine vs the pool=1 simulator on the same fixtures, comparing fetched sets,
attempt counts, item sets, and admission decisions (wave-ordering
equivalence contract, SURVEY.md §7.3)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from goribot_spark.functions.pngcodec import decode_png, psnr
from goribot_spark.operators.admission import LimitRule

from tests.conftest import (
    crawl,
    engine_attempt_counts,
    engine_fetched_set,
    engine_items_set,
)
from tests.reference_sim import simulate

SEEDS2 = ["http://site0.test/p/0", "http://site1.test/p/0"]


@pytest.fixture(scope="module")
def bfs_run(spark, fx, tmp_path_factory):
    """Full BFS crawl, dedup on, retry on — the flagship scenario."""
    rd = tmp_path_factory.mktemp("bfs")
    eng = crawl(spark, fx, rd / "run", SEEDS2, retry_max=2, max_waves=16)
    sim = simulate(fx, SEEDS2, retry_max=2)
    return eng, sim


def test_bfs_fetched_set_parity(bfs_run):
    """TestBasic/TestReqDeduplicate analog: same fetched-URL set + depths."""
    eng, sim = bfs_run
    assert engine_fetched_set(eng) == sim.fetched_set()
    assert len(sim.fetched_set()) > 20


def test_bfs_attempt_counts_parity(bfs_run):
    """TestRetry analog: flaky pages fetched exactly fail_times+1 times."""
    eng, sim = bfs_run
    assert engine_attempt_counts(eng) == sim.attempt_counts()


def test_bfs_items_parity(bfs_run):
    """Item emission: same (src_url, image_id) set as the reference loop."""
    eng, sim = bfs_run
    assert engine_items_set(eng) == set(sim.items)


def test_errors_dir_only_for_waves_with_errors(bfs_run):
    """A wave writes its errors partition exactly when it has error rows;
    the errors table keeps the ERRORS schema either way (read() falls back
    to an empty frame when no wave wrote one)."""
    import os

    from goribot_spark import schemas

    eng, _ = bfs_run
    errs = eng.store.read("errors")
    assert [(f.name, f.dataType) for f in errs.schema] == [
        (f.name, f.dataType) for f in schemas.ERRORS
    ]
    with_rows = {r["wave"] for r in errs.select("wave").distinct().collect()}
    for w in eng.store.committed_waves():
        has_dir = os.path.isdir(eng.store.wave_path("errors", w))
        assert has_dir == (w in with_rows), f"wave {w}"


def test_bfs_wave_order_is_by_depth(bfs_run):
    """O1: BFS front advances one depth per wave — a URL at depth d is never
    fetched before wave d, and the un-delayed front reaches depth d exactly
    at wave d. (Retried parents legitimately discover children late, so
    first-fetch wave can exceed depth — same as the reference, where a
    retried task's links enter the queue only on success.)"""
    eng, _ = bfs_run
    rows = (
        eng.store.fetch_log()
        .groupBy("url_hash", "depth")
        .agg(F.min("wave").alias("w0"))
        .collect()
    )
    by_depth = {}
    for r in rows:
        assert r["w0"] >= r["depth"]
        by_depth.setdefault(r["depth"], set()).add(r["w0"])
    for d, waves in by_depth.items():
        assert min(waves) == d


def test_payload_verification(bfs_run, fx):
    """input_hint per-row invariant: engine-decoded w/h/phash match the
    fixture oracle, captions equal, decoded pixels allclose (PSNR≥40dB;
    exact for png)."""
    eng, _ = bfs_run
    spark = eng.spark
    oracle = spark.read.parquet(f"{fx}/images.parquet").select(
        "image_id",
        F.col("w").alias("ow"),
        F.col("h").alias("oh"),
        F.col("phash").alias("ophash"),
        F.col("caption").alias("ocaption"),
        F.col("bytes").alias("obytes"),
    )
    res = eng.store.read("results")
    assert res.count() > 0
    j = res.join(oracle, "image_id").persist()
    assert j.where("decode_error is not null").count() == 0
    assert j.where("w != ow or h != oh").count() == 0
    assert j.where("phash != ophash").count() == 0
    assert j.where("caption != ocaption").count() == 0
    # Pixel-level allclose on a sample.
    sample = j.limit(8).select("bytes", "obytes").collect()
    for r in sample:
        a = decode_png(bytes(r["bytes"]))
        b = decode_png(bytes(r["obytes"]))
        assert psnr(a, b) >= 40
    j.unpersist()


def test_referer_filler(bfs_run):
    """RefererFiller (extensions_test.go:141-168): every non-seed frontier
    row carries its parent URL as referer."""
    eng, _ = bfs_run
    f = eng.store.read("frontier")
    assert f.where((F.col("depth") > 1) & F.col("referer").isNull()).count() == 0
    # Referer is a real parent: its host appears in pages.
    one = f.where(F.col("depth") == 2).first()
    assert one["referer"].startswith("http")


def test_max_depth(spark, fx, tmp_path):
    """TestMaxDepth (limiter_test.go:136-164): depth cap honored exactly."""
    eng = crawl(spark, fx, tmp_path / "r", SEEDS2, max_depth=2, max_waves=8)
    sim = simulate(fx, SEEDS2, max_depth=2)
    got = engine_fetched_set(eng)
    assert got == sim.fetched_set()
    assert max(d for (_, d) in got) == 2


def test_max_req_budget(spark, fx, tmp_path):
    """TestMaxReq (limiter_test.go:110-134): lifetime admission cap per rule.

    Rule targets site1 (healthy root — site0's root is flaky and would die
    before discovering children with retry off)."""
    rules = [LimitRule(host_glob="site1.test", max_req=3)]
    eng = crawl(spark, fx, tmp_path / "r", SEEDS2, rules=rules, max_waves=8)
    sim = simulate(fx, SEEDS2, rules=[LimitRule(host_glob="site1.test", max_req=3)])
    assert engine_fetched_set(eng) == sim.fetched_set()
    log = eng.store.fetch_log().where(F.col("url").startswith("http://site1"))
    assert log.count() == 3  # exactly max_req admissions, like the reference test


def test_retry_exhaustion_errors(spark, fx, tmp_path):
    """R1: with retry off, flaky pages land in the errors table."""
    eng = crawl(spark, fx, tmp_path / "r", SEEDS2, retry_max=0, max_depth=2, max_waves=8)
    sim = simulate(fx, SEEDS2, retry_max=0, max_depth=2)
    assert engine_fetched_set(eng) == sim.fetched_set()
    errs = eng.store.read("errors")
    assert errs.count() == len(sim.errors)
    assert {r["error_kind"] for r in errs.collect()} <= {"bad_status", "fetch_error"}


def test_robots(spark, fx, tmp_path):
    """TestRobotsTxt (extensions_test.go:113-139): disallowed prefixes never
    fetched; per-UA rules."""
    eng = crawl(spark, fx, tmp_path / "r", SEEDS2, robots=True, max_waves=8)
    sim = simulate(fx, SEEDS2, robots=True)
    assert engine_fetched_set(eng) == sim.fetched_set()
    fetched_urls = set(engine_attempt_counts(eng))
    assert not any(u.startswith("http://site1.test/p/1") for u in fetched_urls)
    assert any(u.startswith("http://site1.test/p/2") for u in fetched_urls)


def test_robots_ua_specific(spark, fx, tmp_path):
    """badbot is banned from site2 entirely; default UA is not."""
    seeds = ["http://site2.test/p/0"]
    eng = crawl(spark, fx, tmp_path / "r", seeds, robots=True, ua="badbot", max_waves=4)
    sim = simulate(fx, seeds, robots=True, ua="badbot")
    assert engine_fetched_set(eng) == sim.fetched_set() == set()


def test_deny_rule_and_whitelist(spark, fx, tmp_path):
    """F3 (limiter.go:124-147): Disallow drops a host; whitelist drops
    unmatched hosts."""
    rules = [LimitRule(host_glob="site1.test", allow=False)]
    eng = crawl(spark, fx, tmp_path / "r1", SEEDS2, rules=rules, max_depth=2, max_waves=8)
    sim = simulate(fx, SEEDS2, rules=[LimitRule(host_glob="site1.test", allow=False)], max_depth=2)
    assert engine_fetched_set(eng) == sim.fetched_set()
    assert not any(u.startswith("http://site1") for u in engine_attempt_counts(eng))

    rules = [LimitRule(host_glob="site0.test", allow=True)]
    eng2 = crawl(
        spark, fx, tmp_path / "r2", SEEDS2, rules=rules, whitelist=True,
        max_depth=2, max_waves=8,
    )
    sim2 = simulate(
        fx, SEEDS2, rules=[LimitRule(host_glob="site0.test", allow=True)],
        whitelist=True, max_depth=2,
    )
    assert engine_fetched_set(eng2) == sim2.fetched_set()
    hosts = {u.split("/")[2] for u in engine_attempt_counts(eng2)}
    assert hosts == {"site0.test"}


def test_dedup_off_fetches_duplicates(spark, fx, tmp_path):
    """Without ReqDeduplicate the duplicate links are fetched again
    (reference default has no dedup)."""
    seeds = ["http://site1.test/p/0"]
    eng = crawl(spark, fx, tmp_path / "r", seeds, dedup=False, max_depth=2, max_waves=8)
    sim = simulate(fx, seeds, dedup=False, max_depth=2)
    eng_counts = engine_attempt_counts(eng)
    assert eng_counts == sim.attempt_counts()
    assert any(n > 1 for n in eng_counts.values())


def test_handler_gating(spark, fx, tmp_path):
    """U1: links_only emits no items; images_only follows no links."""
    seeds = ["http://site1.test/p/0"]
    eng_links = crawl_with_handler(spark, fx, tmp_path / "r3", seeds, "links_only")
    assert eng_links.store.read("results").count() == 0
    assert eng_links.store.fetch_log().count() > 1
    eng_imgs = crawl_with_handler(spark, fx, tmp_path / "r4", seeds, "images_only")
    assert eng_imgs.store.fetch_log().count() == 1  # seed only, no follow
    assert eng_imgs.store.read("results").count() > 0


def crawl_with_handler(spark, fx, run_dir, seeds, handler_id):
    import shutil

    from goribot_spark.engine import CrawlConfig, CrawlEngine

    shutil.rmtree(run_dir, ignore_errors=True)
    eng = CrawlEngine(spark, fx, str(run_dir), CrawlConfig(max_depth=2, max_waves=8))
    eng.seed(seeds, handler_id=handler_id)
    eng.run()
    return eng


def test_dfs_last_seed_first(spark, fx_deep, tmp_path):
    """TestSetDepthFirst (extensions_test.go:170-197): with LIFO order and a
    1-task budget, the second-added seed is fetched first, and descent goes
    deep before wide."""
    seeds = ["http://site0.test/p/0", "http://site1.test/p/0"]
    eng = crawl(
        spark, fx_deep, tmp_path / "r", seeds,
        dfs=True, wave_budget=1, max_depth=3, max_waves=10,
    )
    log = eng.store.fetch_log().orderBy("wave").collect()
    assert log[0]["url"] == "http://site1.test/p/0"  # LIFO: last seed pops first
    # Depth-first: within the first 4 waves we reach depth 3.
    assert max(r["depth"] for r in log[:4]) == 3


def test_politeness_delay_budget(spark, fx, tmp_path):
    """T1 (limiter_test.go:11-48, budget-domain): Delay=0.5s with a 1s wave
    window ⇒ ≤2 fetches per host per wave; the crawl still completes with
    the same fetched set."""
    rules = [LimitRule(host_glob="site*.test", delay_sec=0.5)]
    eng = crawl(
        spark, fx, tmp_path / "r", SEEDS2, rules=rules,
        max_depth=2, max_waves=40,
    )
    sim = simulate(fx, SEEDS2, max_depth=2)  # politeness changes pacing, not the set
    assert engine_fetched_set(eng) == sim.fetched_set()
    per_wave_host = (
        eng.store.fetch_log()
        .join(eng.store.read("frontier").select("url_hash", "seq", "host").distinct(),
              ["url_hash", "seq"])
        .groupBy("wave", "host")
        .count()
        .collect()
    )
    assert all(r["count"] <= 2 for r in per_wave_host)


def test_resume_equals_uninterrupted(spark, fx, tmp_path):
    """North rule checkpoint/resume: stop after 2 waves, resume with a fresh
    engine on the same run_dir → identical final state."""
    import shutil

    from goribot_spark.engine import CrawlConfig, CrawlEngine

    full = crawl(spark, fx, tmp_path / "full", SEEDS2, max_depth=2, max_waves=16)

    rd = str(tmp_path / "resumed")
    shutil.rmtree(rd, ignore_errors=True)
    cfg = CrawlConfig(max_depth=2, max_waves=16)
    e1 = CrawlEngine(spark, fx, rd, cfg)
    e1.seed(SEEDS2)
    e1.run_wave()
    e1.run_wave()
    # Fresh engine = process restart; picks up from the manifest.
    e2 = CrawlEngine(spark, fx, rd, CrawlConfig(max_depth=2, max_waves=16))
    e2.run()
    assert engine_fetched_set(e2) == engine_fetched_set(full)
    assert engine_items_set(e2) == engine_items_set(full)


def test_resume_after_mid_wave_crash(spark, fx, tmp_path):
    """Mid-wave crash safety (north rule 'resumable from checkpoint'): a
    process that dies AFTER writing some of a wave's table partitions but
    BEFORE the atomic manifest commit leaves orphan parquet dirs; reads only
    union manifest-committed waves, so the orphans are invisible and a fresh
    engine re-runs the wave to the identical final state."""
    import shutil

    from pyspark.sql import functions as F

    from goribot_spark.engine import CrawlConfig, CrawlEngine

    full = crawl(spark, fx, tmp_path / "full2", SEEDS2, max_depth=2, max_waves=16)

    rd = str(tmp_path / "crashed")
    shutil.rmtree(rd, ignore_errors=True)
    e1 = CrawlEngine(spark, fx, rd, CrawlConfig(max_depth=2, max_waves=16))
    e1.seed(SEEDS2)
    e1.run_wave()
    # Simulate the crash: partial, possibly-wrong wave-99 partitions land in
    # results + consumed (as if the writer threads finished a subset of
    # tables), but commit_wave never runs.
    junk = e1.store.read("results").limit(1).withColumn("wave", F.lit(99))
    e1.store.write("results", 99, junk)
    e1.store.write(
        "consumed",
        99,
        spark.createDataFrame(
            [(123456789, 0, 0, 99)], "url_hash long, retry_count int, seq long, wave int"
        ),
    )
    assert 99 not in e1.store.committed_waves()
    # Process restart on the same run_dir: orphans ignored, crawl completes.
    e2 = CrawlEngine(spark, fx, rd, CrawlConfig(max_depth=2, max_waves=16))
    e2.run()
    assert engine_fetched_set(e2) == engine_fetched_set(full)
    assert engine_items_set(e2) == engine_items_set(full)
    # The fabricated url_hash never leaked into the visible fetch log.
    assert (
        e2.store.fetch_log().where(F.col("url_hash") == 123456789).count() == 0
    )


def test_metrics_totals_row_invariants(bfs_run):
    """A1 lineage metrics: every committed wave carries exactly one totals
    row (partition_id = -1) whose images_decoded was captured INSIDE the
    results write action (Observation API) — so the totals must sum to the
    actual results row count — and whose urls_scheduled matches the sum of
    that wave's per-partition lineage rows."""
    eng, _ = bfs_run
    m = eng.store.read("metrics")
    per_wave = (
        m.groupBy("wave")
        .agg(
            F.sum(F.when(F.col("partition_id") == -1, 1).otherwise(0)).alias("totals_rows"),
            F.sum(F.when(F.col("partition_id") == -1, F.col("images_decoded"))).alias("img_tot"),
            F.sum(F.when(F.col("partition_id") == -1, F.col("urls_scheduled"))).alias("sched_tot"),
            F.sum(F.when(F.col("partition_id") >= 0, F.col("urls_scheduled"))).alias("sched_parts"),
        )
        .collect()
    )
    assert per_wave, "no metrics rows"
    for r in per_wave:
        assert r["totals_rows"] == 1, f"wave {r['wave']}: {r['totals_rows']} totals rows"
        assert r["sched_tot"] == r["sched_parts"], f"wave {r['wave']} scheduled mismatch"
    images_total = sum(r["img_tot"] for r in per_wave)
    assert images_total == eng.store.read("results").count()
