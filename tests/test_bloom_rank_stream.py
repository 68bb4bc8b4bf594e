"""Unit tests: distributed global rank, distributed seeding, streaming
monitor."""

from pyspark.sql import functions as F

from goribot_spark.operators.ordering import with_global_rank


def test_global_rank_deterministic_and_total(spark):
    rows = [(i % 7, i * 31 % 101, i) for i in range(500)]
    df = spark.createDataFrame(rows, "a int, b int, id int")
    keys = [F.col("a").asc(), F.col("b").asc(), F.col("id").asc()]
    r1, total = with_global_rank(df, keys, out_col="rk", base=10, return_total=True)
    assert total == 500
    got = {r["id"]: r["rk"] for r in r1.collect()}
    expected_order = sorted(rows, key=lambda t: (t[0], t[1], t[2]))
    for rank, (_, _, i) in enumerate(expected_order):
        assert got[i] == rank + 10
    # Re-run → identical ranks (determinism across plans).
    r2 = with_global_rank(df.repartition(13), keys, out_col="rk", base=10)
    got2 = {r["id"]: r["rk"] for r in r2.collect()}
    assert got2 == got
    # Single-partition fast path → byte-identical ranks and total.
    r3, total3 = with_global_rank(
        df.repartition(13), keys, out_col="rk", base=10,
        return_total=True, single_partition=True,
    )
    assert total3 == 500
    got3 = {r["id"]: r["rk"] for r in r3.collect()}
    assert got3 == got


def test_streaming_monitor(spark, fx, tmp_path):
    from tests.conftest import crawl

    eng = crawl(spark, fx, tmp_path / "run", ["http://site1.test/p/0"], max_depth=2, max_waves=6)
    from goribot_spark.streaming.monitor import run_monitor_once

    run_monitor_once(spark, str(tmp_path / "run"), str(tmp_path / "mon"))
    agg = spark.sql("select * from crawl_monitor").collect()
    assert len(agg) >= 1
    total_items = sum(r["items"] for r in agg)
    assert total_items == eng.store.read("results").count()


def test_seed_frame_equals_seed_list(spark, fx, tmp_path):
    """Distributed seeding (seed_frame) must crawl identically to the
    driver-list path (seed): same frontier keys, same fetched set, same
    item set."""
    from tests.conftest import crawl, engine_fetched_set, engine_items_set

    urls = ["http://site0.test/p/0", "http://site1.test/p/0"]
    a = crawl(spark, fx, tmp_path / "list", urls, retry_max=2, max_waves=12)
    import shutil

    from goribot_spark.engine import CrawlConfig, CrawlEngine

    shutil.rmtree(tmp_path / "frame", ignore_errors=True)
    b = CrawlEngine(
        spark, fx, str(tmp_path / "frame"), CrawlConfig(retry_max=2, max_waves=12)
    )
    b.seed_frame(spark.createDataFrame([(u,) for u in urls], "url string"))
    b.run()
    assert engine_fetched_set(a) == engine_fetched_set(b)
    assert engine_items_set(a) == engine_items_set(b)


def test_mass_seed_write_is_parallel(spark, fx, tmp_path):
    """r4 verdict #4: a mass re-seed (replaying a prior crawl's frontier
    through seed_frame) must NOT funnel the frontier/seen write through one
    task — the seed commit sizes its file count like a wave commit
    (_nfiles_for: ~250k rows/file, capped at num_partitions)."""
    import os

    from pyspark.sql import functions as F

    from goribot_spark.engine import CrawlConfig, CrawlEngine

    eng = CrawlEngine(
        spark, fx, str(tmp_path / "run"), CrawlConfig(max_waves=1, num_partitions=8)
    )
    urls = spark.range(300_000).select(
        F.concat(F.lit("http://bulk.test/p/"), F.col("id")).alias("url")
    )
    n = eng.seed_frame(urls)
    assert n == 300_000
    fdir = os.path.join(str(tmp_path / "run"), "frontier", "wave=0")
    parts = [f for f in os.listdir(fdir) if f.endswith(".parquet")]
    assert len(parts) >= 2  # 300k rows -> 2 files at 250k rows/file
    sdir = os.path.join(str(tmp_path / "run"), "seen", "wave=0")
    sparts = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
    assert len(sparts) >= 2
    assert eng.store.pending_frontier().count() == 300_000


def test_seed_frame_releases_rank_cache(spark, fx, tmp_path):
    """Both seed_frame rank strategies persist their shuffle input
    internally; the seed path must release it after the commit — a mass
    re-seed must not leave its whole frontier pinned in storage memory
    (and the small-frame fast path must not leak its repartition(1) cache
    either). Guard: persistent-RDD count returns to baseline after each
    seed_frame call, and seeded counts/pending rows stay correct."""
    from pyspark.sql import functions as F

    from goribot_spark.engine import CrawlConfig, CrawlEngine

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    eng = CrawlEngine(
        spark, fx, str(tmp_path / "run"), CrawlConfig(max_waves=1, num_partitions=8)
    )
    before = n_persistent()
    # small frame -> single-partition fast path (<= small_wave_threshold)
    assert (
        eng.seed_frame(
            spark.createDataFrame([("http://site0.test/p/0",)], "url string")
        )
        == 1
    )
    assert n_persistent() == before
    # mass frame -> distributed range-partitioned rank (> small_wave_threshold)
    urls = spark.range(25_000).select(
        F.concat(F.lit("http://bulk.test/p/"), F.col("id")).alias("url")
    )
    assert eng.seed_frame(urls) == 25_000
    assert n_persistent() == before
    assert eng.store.pending_frontier().count() == 25_001
