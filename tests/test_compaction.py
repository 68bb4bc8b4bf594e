"""Store compaction (the Iceberg rewrite_data_files / snapshot-expiry
analog, store.py::CrawlStore.compact).

A 10^10-frontier crawl runs thousands of waves; resume-time reads that list
one directory per wave per table grow O(waves). Compaction folds committed
waves into one ``base=<wave>`` snapshot per table behind the same atomic
manifest commit a wave uses, so every read stays correct at every instant
of the procedure. Covered here:

  * ``mode="files"`` is lossless — pending set, fetch log, seen set,
    results, metrics, and errors are row-identical across compaction, and
    the per-wave dirs are gone;
  * ``mode="state"`` collapses frontier/consumed to the pending set — a
    crawl interrupted mid-run, compacted, and resumed by a FRESH session
    produces exactly the results of an uninterrupted control crawl;
  * the cookie jar (host_state latest-snapshot semantics) survives;
  * crash safety — stranded temp/base dirs from a died compaction are
    swept on the next open and never become visible.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from goribot_spark.engine import CrawlConfig, CrawlEngine
from goribot_spark.sources.store import CrawlStore

from tests.conftest import crawl, engine_fetched_set, engine_items_set

SEEDS = ["http://site0.test/p/0", "http://site1.test/p/0"]


def test_empty_tables_have_zero_partitions(spark, tmp_path):
    """A table with no committed data reads as a zero-partition frame with
    its declared schema: a Python-side empty frame would start one Python
    task per default-parallelism slot on every scan."""
    from pyspark.sql.types import StructType

    from goribot_spark import schemas

    store = CrawlStore(spark, str(tmp_path / "run"))
    consumed = StructType.fromDDL("url_hash long, retry_count int, seq long, wave int")
    frames = {
        "errors": (store.read("errors"), schemas.ERRORS),
        "consumed": (store.read("consumed"), consumed),
        "robots_live": (store.read("robots_live"), schemas.ROBOTS_RULES),
        "host_state": (store.host_state(), schemas.HOST_STATE),
    }
    for name, (df, schema) in frames.items():
        assert df.rdd.getNumPartitions() == 0, name
        assert df.schema == schema, name
        assert df.count() == 0, name


def _sorted_rows(df, cols=None):
    cols = cols or sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    return sorted(rows, key=repr)  # repr-key: rows may hold None / map cols


def _wave_dirs(run_dir, table):
    tdir = os.path.join(str(run_dir), table)
    if not os.path.isdir(tdir):
        return []
    return sorted(d for d in os.listdir(tdir) if d.startswith("wave="))


def test_compact_files_lossless(spark, fx, tmp_path):
    eng = crawl(spark, fx, tmp_path / "run", SEEDS, retry_max=2, max_waves=16)
    store = eng.store
    before = {
        "pending": _sorted_rows(store.pending_frontier()),
        "fetch_log": _sorted_rows(store.fetch_log()),
        "seen": _sorted_rows(store.seen()),
        "results": _sorted_rows(store.read("results"), ["image_id", "src_url", "wave"]),
        "errors": _sorted_rows(store.read("errors")),
        "metrics": _sorted_rows(store.metrics_summary()),
    }
    done = eng.compact(mode="files")
    assert done  # at least frontier/consumed/seen/results compacted
    # every compacted table folded to a single base dir, wave dirs gone
    for t, through in done.items():
        assert _wave_dirs(tmp_path / "run", t) == []
        assert os.path.isdir(os.path.join(str(tmp_path / "run"), t, f"base={through}"))
    # a brand-new store (fresh manifest read, rollback sweep) sees identical state
    s2 = CrawlStore(spark, str(tmp_path / "run"))
    s2.rollback_uncommitted()
    after = {
        "pending": _sorted_rows(s2.pending_frontier()),
        "fetch_log": _sorted_rows(s2.fetch_log()),
        "seen": _sorted_rows(s2.seen()),
        "results": _sorted_rows(s2.read("results"), ["image_id", "src_url", "wave"]),
        "errors": _sorted_rows(s2.read("errors")),
        "metrics": _sorted_rows(s2.metrics_summary()),
    }
    assert after == before


def test_compact_state_resume_parity(spark, fx, tmp_path):
    """Interrupt → state-compact → resume in a fresh session == control."""
    rd = tmp_path / "run"
    cfg = CrawlConfig(retry_max=2, max_waves=16)
    eng = CrawlEngine(spark, fx, str(rd), cfg)
    eng.seed(SEEDS)
    eng.run(max_waves=2)  # stop mid-crawl with a non-empty pending set
    pending_before = _sorted_rows(eng.store.pending_frontier())
    assert pending_before  # the scenario requires work left to do
    # state mode drops consumed history — capture the pre-horizon fetch log
    # NOW; post-resume it must concatenate with the post-horizon log into
    # exactly the control's attempt multiset (nothing refetched, nothing lost)
    log_before = _sorted_rows(eng.store.fetch_log(), ["url", "retry_count"])
    done = eng.compact(mode="state")
    assert done["frontier"] == done["consumed"]
    pending_after = _sorted_rows(eng.store.pending_frontier())
    assert pending_after == pending_before
    # fresh session (the resume contract) finishes the crawl
    eng2 = CrawlEngine(spark, fx, str(rd), cfg)
    eng2.run()
    log_after = _sorted_rows(eng2.store.fetch_log(), ["url", "retry_count"])
    ctrl = crawl(spark, fx, tmp_path / "ctrl", SEEDS, retry_max=2, max_waves=16)
    log_ctrl = _sorted_rows(ctrl.store.fetch_log(), ["url", "retry_count"])
    assert sorted(log_before + log_after) == log_ctrl
    assert engine_items_set(eng2) == engine_items_set(ctrl)


def test_compact_preserves_cookie_jar(spark, fx, tmp_path):
    """host_state keeps latest-snapshot semantics through compaction."""
    rd = tmp_path / "run"
    cfg = CrawlConfig(retry_max=2, max_waves=4)
    eng = CrawlEngine(spark, fx, str(rd), cfg)
    eng.add_cookies_to_jar("http://site0.test/", {"sid": "abc123"})
    eng.seed(SEEDS)
    eng.run(max_waves=2)
    jar_before = _sorted_rows(eng.store.host_state())
    assert jar_before
    eng.compact(mode="files")
    assert _sorted_rows(eng.store.host_state()) == jar_before
    s2 = CrawlStore(spark, str(rd))
    assert s2.has_host_state()
    assert _sorted_rows(s2.host_state()) == jar_before


def test_compact_crash_leftovers_swept(spark, fx, tmp_path):
    """A compaction that dies before the manifest commit leaves temp/base
    dirs that are invisible to reads and swept on the next open."""
    eng = crawl(spark, fx, tmp_path / "run", SEEDS, retry_max=2, max_waves=8)
    store = eng.store
    before = _sorted_rows(store.pending_frontier())
    seen_before = _sorted_rows(store.seen())
    # simulate the crash: stranded temp write + unpublished base dir
    fdir = os.path.join(str(tmp_path / "run"), "frontier")
    os.makedirs(os.path.join(fdir, ".base_tmp99"))
    os.makedirs(os.path.join(fdir, "base=99"))
    s2 = CrawlStore(spark, str(tmp_path / "run"))
    # unpublished base is ignored even before the sweep
    assert _sorted_rows(s2.pending_frontier()) == before
    s2.rollback_uncommitted()
    assert not os.path.isdir(os.path.join(fdir, ".base_tmp99"))
    assert not os.path.isdir(os.path.join(fdir, "base=99"))
    assert _sorted_rows(s2.seen()) == seen_before


def test_compact_then_new_waves_union(spark, fx, tmp_path):
    """Reads union the base snapshot with wave dirs committed after it."""
    rd = tmp_path / "run"
    cfg = CrawlConfig(retry_max=2, max_waves=16)
    eng = CrawlEngine(spark, fx, str(rd), cfg)
    eng.seed(["http://site1.test/p/0"])
    eng.run(max_waves=2)
    eng.compact(mode="files")
    n_results_mid = eng.store.read("results").count()
    eng.run()  # post-compaction waves append next to the base
    n_results_end = eng.store.read("results").count()
    assert n_results_end > n_results_mid
    # the old horizon is no longer snapshot-readable (expiry semantics)
    with pytest.raises(ValueError):
        eng.store.read("results", upto_wave=0)


def test_auto_compaction_bounds_dirs(spark, fx, tmp_path):
    """compact_every_waves folds the store as the crawl runs; the final
    crawl is identical to an uncompacted control and the store never holds
    more than ~compact_every_waves wave dirs per table."""
    rd = tmp_path / "run"
    cfg = CrawlConfig(retry_max=2, max_waves=16, compact_every_waves=2)
    eng = CrawlEngine(spark, fx, str(rd), cfg)
    eng.seed(SEEDS)
    eng.run()
    ctrl = crawl(spark, fx, tmp_path / "ctrl", SEEDS, retry_max=2, max_waves=16)
    # results/errors/metrics are verbatim under files mode → full parity
    assert _sorted_rows(eng.store.read("results"), ["image_id", "src_url"]) == (
        _sorted_rows(ctrl.store.read("results"), ["image_id", "src_url"])
    )
    assert _sorted_rows(eng.store.fetch_log(), ["url", "retry_count"]) == (
        _sorted_rows(ctrl.store.fetch_log(), ["url", "retry_count"])
    )
    # the fold ran: at most compact_every_waves + 1 wave dirs remain
    assert len(_wave_dirs(rd, "frontier")) <= cfg.compact_every_waves + 1


def test_peer_compaction_refresh(spark, fx, tmp_path):
    """Distributed interplay: a coordinator session compacts while a
    crawling session holds the pre-compaction manifest; the crawler
    refresh()es (the documented recovery, same as an Iceberg reader
    re-pinning after snapshot expiry) and finishes identically to an
    uninterrupted control."""
    rd = tmp_path / "run"
    cfg = CrawlConfig(retry_max=2, max_waves=16)
    eng_a = CrawlEngine(spark, fx, str(rd), cfg)
    eng_a.seed(SEEDS)
    eng_a.run(max_waves=2)
    log_before = _sorted_rows(eng_a.store.fetch_log(), ["url", "retry_count"])
    # coordinator session folds the store under A's feet
    eng_b = CrawlEngine(spark, fx, str(rd), cfg)
    eng_b.compact(mode="state")
    eng_a.refresh()  # re-pin: fresh manifest, caches dropped
    eng_a.run()
    log_after = _sorted_rows(eng_a.store.fetch_log(), ["url", "retry_count"])
    ctrl = crawl(spark, fx, tmp_path / "ctrl", SEEDS, retry_max=2, max_waves=16)
    log_ctrl = _sorted_rows(ctrl.store.fetch_log(), ["url", "retry_count"])
    assert sorted(log_before + log_after) == log_ctrl


def test_recompact_idempotent(spark, fx, tmp_path):
    """compact() with no new waves is a no-op; after new waves it re-folds."""
    eng = crawl(spark, fx, tmp_path / "run", SEEDS, retry_max=2, max_waves=8)
    first = eng.compact(mode="files")
    assert first
    assert eng.compact(mode="files") == {}
    before = _sorted_rows(eng.store.seen())
    # force one more wave by seeding a fresh URL, then re-compact
    eng.seed(["http://site2.test/p/0"])
    eng.run()
    second = eng.compact(mode="files")
    assert second and all(v > first["seen"] for k, v in second.items() if k == "seen")
    assert len(_sorted_rows(eng.store.seen())) >= len(before)


def test_compact_peer_commit_survives(spark, fx, tmp_path):
    """The read-modify-write hazard: a peer session commits a wave between
    this session's last manifest load and its compact() publish. The merge
    in compact()/_publish_manifest must keep the peer's wave in the
    manifest — dropping it would orphan its data dirs and the next
    rollback_uncommitted would DELETE them (permanent loss)."""
    rd = tmp_path / "run"
    cfg = CrawlConfig(retry_max=2, max_waves=16)
    eng_a = CrawlEngine(spark, fx, str(rd), cfg)
    eng_a.seed(["http://site0.test/p/0"])
    eng_a.run(max_waves=2)
    # peer session seeds (commits a wave) AFTER A's last manifest load
    eng_b = CrawlEngine(spark, fx, str(rd), cfg)
    eng_b.seed(["http://site2.test/p/0"])
    peer_wave = eng_b.store.last_wave()
    assert peer_wave not in eng_a.store.committed_waves()  # A is stale
    eng_a.compact(mode="files")  # must merge the peer commit, not drop it
    assert peer_wave in eng_a.store.committed_waves()
    # a fresh session's rollback sweep must NOT delete the peer wave's data
    s2 = CrawlStore(spark, str(rd))
    s2.rollback_uncommitted()
    assert peer_wave in s2.committed_waves()
    pend = s2.pending_frontier()
    assert pend.where(F.col("url") == "http://site2.test/p/0").count() == 1
    # and the merged run finishes normally from here
    eng_c = CrawlEngine(spark, fx, str(rd), cfg)
    eng_c.run()
    urls = {r["url"] for r in eng_c.store.fetch_log().select("url").collect()}
    assert "http://site2.test/p/0" in urls


def test_compact_incremental_tiers_then_full_merge(spark, fx, tmp_path):
    """mode='files' folds only post-horizon waves into a NEW tier
    (O(delta) I/O), tiers accumulate, and a fold that would exceed
    max_tiers merges everything into one base — reads lossless at every
    step."""
    rd = tmp_path / "run"
    cfg = CrawlConfig(retry_max=2, max_waves=16)
    eng = CrawlEngine(spark, fx, str(rd), cfg)
    eng.seed(SEEDS)
    eng.run()
    want_log = _sorted_rows(eng.store.fetch_log(), ["url", "retry_count"])
    want_seen = _sorted_rows(eng.store.seen())
    eng.compact(mode="files", max_tiers=3)
    t1 = eng.store.manifest["tiers"]["seen"]
    assert len(t1) == 1
    # two more incremental folds from fresh seeds → 3 tiers
    for host in ("site2", "site0"):
        eng.seed([f"http://{host}.test/p/1"])
        eng.run()
        eng.compact(mode="files", max_tiers=3)
    tiers = eng.store.manifest["tiers"]["seen"]
    assert len(tiers) == 3 and tiers == sorted(tiers)
    tdir = os.path.join(str(rd), "seen")
    assert sorted(d for d in os.listdir(tdir) if d.startswith("base=")) == sorted(
        f"base={w}" for w in tiers
    )
    # lossless across the tiered layout (fresh store = fresh manifest read)
    s2 = CrawlStore(spark, str(rd))
    s2.rollback_uncommitted()
    assert {r["url_hash"] for r in s2.seen().collect()} == {
        r[0] for r in want_seen
    } | {r["url_hash"] for r in s2.seen().collect()}
    log_now = _sorted_rows(s2.fetch_log(), ["url", "retry_count"])
    assert [r for r in log_now if r in want_log] == want_log  # nothing lost
    # a 4th fold exceeds max_tiers → full merge back to ONE base
    eng.seed(["http://site1.test/p/1"])
    eng.run()
    eng.compact(mode="files", max_tiers=3)
    tiers2 = eng.store.manifest["tiers"]["seen"]
    assert len(tiers2) == 1
    assert sorted(d for d in os.listdir(tdir) if d.startswith("base=")) == [
        f"base={tiers2[0]}"
    ]
    log_final = _sorted_rows(eng.store.fetch_log(), ["url", "retry_count"])
    assert [r for r in log_final if r in log_now] == log_now
