"""CrawlEngine — the batch-iterative superstep loop (SURVEY.md §3.1).

One *wave* replaces steps 1-9 of the reference's per-task trace
(goribot.go:107-248) for an entire frontier batch:

    pending   = frontier ⋉̸ consumed                  (snapshot read)
    wave      = politeness/budget top-k per host → host-salted repartition
    fetched   = wave ⋈ pages ON url_hash             (synthetic HTTP, J5)
    parsed    = gunzip + charset decode + link/img/title extraction (S6-S9)
    cands     = urljoin + depth+1 + referer + hash   (P2-P4, H1)
    admitted  = rules/robots/depth/budget filters + seen anti-join (F1-F8)
    retries   = failed rows, retry_count+1, dedup-exempt (R1-R2)
    results   = image_refs ⋈ images → decode (I1-I2)
    commit    = frontier/consumed/seen/results/errors/metrics + manifest

The driver loop replaces the outer ``for`` + AutoStop polling
(goribot.go:227-244); Iceberg-style manifest commits make every wave a
resumable checkpoint (north rule). Nothing ever ``collect()``s the frontier.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from goribot_spark import schemas
from goribot_spark.canon import url_hash as py_url_hash
from goribot_spark.functions.imaging import with_decoded
from goribot_spark.operators import handlers as H
from goribot_spark.operators.admission import (
    LimitRule,
    apply_max_req,
    apply_robots,
    apply_rule_filters,
    dedup_against_seen,
    resolve_rule,
)
from goribot_spark.operators.discover import build_candidates
from goribot_spark.operators.ordering import bfs_order, dfs_order
from goribot_spark.operators.parse import with_parsed
from goribot_spark.operators.politeness import salt_and_partition, select_wave
from goribot_spark.sources.store import CrawlStore


def _nfiles_for(rows: int, sp: int, rows_per_file: int = 250_000) -> int:
    """Output-file count for a table write: one file per ~rows_per_file
    rows, capped at the wave's partition budget — big writes stay parallel,
    drain-tail writes collapse to one file (no per-core file explosion in
    the re-read tables)."""
    return min(sp, max(1, -(-rows // rows_per_file)))


@dataclass
class CrawlConfig:
    rules: list[LimitRule] = field(default_factory=list)
    # Hook chains — the reference's primary extension API (Use(ext) +
    # OnReq/OnResp/OnItem/OnAdd, goribot.go:101-105, 271-342). Each entry is
    # a DataFrame -> DataFrame transform (see operators/stages.py for stock
    # ones); applied in list order at the documented lifecycle points:
    #   on_req   — to the scheduled wave before fetch; dropped rows are
    #              consumed-but-never-fetched (OnReq nil-return semantics)
    #   on_resp  — to the fetched+parsed frame (before discovery/items);
    #              per-handler Handler.resp_stages run after these
    #   on_add   — to candidate rows BEFORE the built-in admission filters
    #              (rules/robots/dedup run as OnAdd hooks in the reference)
    #   on_item  — to the decoded results frame before the sink write;
    #              per-handler Handler.item_stages run after these
    on_req: list = field(default_factory=list)
    on_resp: list = field(default_factory=list)
    on_add: list = field(default_factory=list)
    on_item: list = field(default_factory=list)
    # Lifecycle callbacks (OnStart/OnFinish, goribot.go:251-268): called by
    # run() with the engine, before the first wave / after the loop exits.
    on_start: object = None
    on_finish: object = None
    whitelist: bool = False  # limiter.go:143-147
    max_depth: int | None = None
    retry_max: int = 0  # Retry(maxTimes) — extensions.go:89-106; 0 = off
    okcodes: tuple[int, ...] = (200,)
    dedup: bool = True  # ReqDeduplicate — extensions.go:288-309
    # Cookie jar (net.go:261-263, TestCookieJar net_test.go:116-137) under
    # the documented CROSS-WAVE approximation (SURVEY §7.3 item 5): cookies
    # set by wave N's responses are attached (as a `jar_cookies` map column)
    # to wave N+1's requests; within-wave Set-Cookie→next-request ordering
    # is not reproduced. Jar cookies do NOT enter the dedup key — the
    # reference attaches them at client-send time, after GetRequestHash.
    cookie_jar: bool = True
    # Fetch leg: "synthetic" joins the wave against the fixtures' pages
    # table (sandbox stand-in for the network, J5); "live" issues real HTTP
    # from the executors via operators/fetch.live_fetch (S4, net.go:269-324)
    # — per-request proxy/UA/headers/cookies honored, Set-Cookie captured
    # into the jar, transport errors routed to retry. Image payloads are
    # then fetched live too (refs → distinct URLs → mapInPandas fetch →
    # decode) instead of joining the images table.
    fetch_mode: str = "synthetic"
    fetch_timeout_sec: float = 5.0
    fetch_threads: int = 8
    dfs: bool = False  # SetDepthFirst — extensions.go:262-269
    robots: bool = False  # RobotsTxt — extensions.go:131-151
    ua: str = "goribot-spark"
    window_sec: float = 1.0
    parallelism_factor: int = 1
    wave_budget: int | None = None
    num_partitions: int | None = None
    hot_host_threshold: int = 10_000
    num_salts: int = 8
    max_waves: int = 64
    # Per-wave shuffle-partition tuning: AQE can only coalesce post-shuffle,
    # so the initial partition count still costs task-scheduling overhead on
    # small waves (measured 2x wall on the bench crawl). Sized from the
    # previous wave's admitted count; bounded by num_partitions.
    auto_shuffle_partitions: bool = True
    target_rows_per_partition: int = 500
    # Fold committed wave dirs into snapshot tiers every N waves
    # (store.compact, mode="files" — lossless, O(delta) per fold). 0 =
    # never. A continuous (poll=True) crawl otherwise accumulates
    # unbounded wave dirs that every resume/refresh re-lists; compaction
    # bounds the store's directory count at ~max_tiers + N per table
    # regardless of crawl length. Measured default decision
    # (BENCH/compact_crawl_bench.json + scripts/compact_bench.py): OFF
    # for batch crawls (a fold costs ~2.5s of fixed job overhead that a
    # short crawl never reads back); N≈25-50 for long/continuous crawls
    # (<0.1s/wave amortized vs resume-reads that degrade linearly —
    # 3.7s/2.0s at 150 unfolded waves vs 0.65s folded).
    compact_every_waves: int = 0
    # Waves at or below this many scheduled rows rank their discovered links
    # on the single-partition fast path (ordering.with_global_rank) — same
    # deterministic seq, minus a range shuffle + persist + counts job that
    # dominate drain-tail wave cost. Frontier-scale waves keep the
    # distributed rank.
    small_wave_threshold: int = 20_000


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        fixtures_dir: str,
        run_dir: str,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        for i, r in enumerate(self.cfg.rules):
            if r.rule_id < 0:
                r.rule_id = i
        self.store = CrawlStore(spark, run_dir)
        self.store.rollback_uncommitted()
        if self.cfg.num_partitions is None:
            self.cfg.num_partitions = int(
                spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        # Pre-partition the synthetic web by the join key ONCE and cache:
        # every wave's fetch join then shuffles only the (body-less) wave
        # side — the page bodies never re-enter shuffle disk. This is the
        # sandbox analog of a bucketed / storage-partitioned fetch join
        # (SCALE.md §1); on a real crawl the fetch is mapInPandas HTTP and
        # no pages table exists at all. Keyed by URL, not url_hash: the
        # frontier key is full REQUEST identity (headers/cookies/body,
        # canon.py), while fetching resolves by URL — two requests differing
        # only in headers are distinct frontier rows that hit the same page,
        # exactly like two HTTP GETs to one URL.
        live = self.cfg.fetch_mode == "live"
        self.pages = (
            None
            if live
            else spark.read.parquet(f"{fixtures_dir}/pages.parquet")
            .repartition(self.cfg.num_partitions, "url")
            .persist()
        )
        # Same treatment for the payload table: cache it hash-partitioned by
        # its join key, so the per-wave refs⋈images join shuffles only the
        # tiny (src_url, image_id) refs side — payload bytes never move, and
        # nothing is re-broadcast per wave (per-wave broadcasts of the
        # payload measurably accumulate driver garbage over long crawls).
        self.images = (
            None
            if live
            else spark.read.parquet(f"{fixtures_dir}/images.parquet")
            .repartition(self.cfg.num_partitions, "image_id")
            .persist()
        )
        if self.cfg.robots and live:
            # Live robots: rules accumulate per wave (fetched over HTTP for
            # hosts first seen in that wave) into the robots_live table;
            # resume reloads the accumulated snapshot.
            self.robots = self.store.read("robots_live")
        elif self.cfg.robots and fixtures_dir is not None:
            self.robots = spark.read.parquet(f"{fixtures_dir}/robots_rules.parquet")
        else:
            self.robots = None
        # Incremental crawl-state caches: pending frontier and seen set as
        # localCheckpoint(eager=False)'ed frames updated with each wave's
        # deltas. Under AQE that is only half lazy: the call itself runs
        # every shuffle-map stage of the plan, and the final stage runs at
        # the first action. Rebuilding them from the store each wave
        # re-lists and re-reads every wave directory AND replans an
        # anti-join over ALL consumed rows — O(waves) per-wave driver cost
        # that the incremental form makes O(1). The tables stay the durable
        # truth: a fresh engine (resume) or a mid-crawl seed() rebuilds the
        # caches from them.
        self._pending: DataFrame | None = None
        self._seen: DataFrame | None = None

    def _seen_frame(self) -> DataFrame:
        if self._seen is None:
            self._seen = self.store.seen()
        return self._seen

    def _dedup(self, df):
        return dedup_against_seen(df, self._seen_frame())

    def _spend_max_req(self, admitted: DataFrame, remaining: dict[int, int]) -> None:
        """Debit each MaxReq rule's lifetime budget by the rows it admitted
        (in place). Collects per-rule counts only when a budget exists."""
        if not remaining:
            return
        for row in (
            resolve_rule(admitted, self.cfg.rules)
            .groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ):
            rid = row["rule_id"]
            if rid in remaining:
                remaining[rid] = max(0, remaining[rid] - row["n"])

    # -- ordering contract (O1/O2, SURVEY §2.6) ---------------------------

    def _order_cols(self):
        return dfs_order() if self.cfg.dfs else bfs_order()

    # -- seeding (goribot.go:85-99) ---------------------------------------

    def seed(self, urls: list[str], handler_id: str = "extract_links_images",
             priority: int = 0, meta: dict | list[dict | None] | None = None) -> int:
        """AddTask analog: depth −1→1, admission chain (dedup applies to
        seeds — extensions_test.go:199-232), append to frontier as wave 0.

        ``meta`` (one dict, or one per url) may carry request-shaping keys
        (``h:<Header>``, ``c:<name>``, ``body``, ``method`` — see canon.py):
        the frontier key then hashes the full request identity, so the same
        URL with an extra header is a distinct request (tools.go:52-75,
        TestReqDeduplicate)."""
        from urllib.parse import urlsplit

        from goribot_spark.canon import request_hash

        metas = meta if isinstance(meta, list) else [meta] * len(urls)
        state = self.store.manifest["driver_state"]
        seq_base = int(state.get("seq_base", 0))
        rows = [
            (
                u,
                request_hash(u, m) if m else py_url_hash(u),
                (urlsplit(u).hostname or "").lower(),
                1,
                priority,
                0,
                seq_base + i,
                0,
                None,
                handler_id,
                m,
            )
            for i, (u, m) in enumerate(zip(urls, metas))
        ]
        df = self.spark.createDataFrame(rows, schemas.FRONTIER)
        return self._seed_commit(df, len(urls), state, seq_base)

    def seed_frame(
        self,
        urls: DataFrame,
        handler_id: str = "extract_links_images",
        priority: int = 0,
        order_col: str = "url",
    ) -> int:
        """Distributed seeding: a ``url``-column DataFrame becomes frontier
        rows with NO driver-side per-row work — canonical hash via the
        Arrow-batched UDF + JVM xxhash64 (identical keys to ``seed``), host
        via parse_url, deterministic seq ranked by ``order_col``. At a
        10^10-URL frontier seed lists are tables, not Python lists; ``seed``
        (list form, with per-row meta) remains for config-scale injection
        — the list path's driver hashing is measurable serial cost at ~10^5
        seeds and gone here.

        ORDERING: seq ranks by ``order_col``. The default ("url",
        lexicographic) exists because a table has no input order; to admit
        the SAME set as ``seed`` under seq-ordering-sensitive admission (a
        MaxReq rule trims by seq rank), pass an explicit input-order column
        as ``order_col`` — both paths then admit identical sets (tested:
        test_seed_frame_max_req_order_parity)."""
        from goribot_spark.canon import with_url_hash
        from goribot_spark.operators.discover import host_of
        from goribot_spark.operators.ordering import with_global_rank

        state = self.store.manifest["driver_state"]
        seq_base = int(state.get("seq_base", 0))
        cols = ["url"] if order_col == "url" else ["url", order_col]
        base = urls.select(*cols).where(F.col("url").isNotNull())
        # Count BEFORE the hash/host columns join the plan: this action is a
        # plain columnar scan (no UDF, no shuffle — cheap even on a 10^8-row
        # seed table) and it both supplies the seq_base advance and decides
        # the rank strategy. Small seed lists take the single-partition fast
        # path (same deterministic seq, minus the range-shuffle sampling job
        # + per-partition counts collect that cost ~3s of fixed overhead on
        # a config-scale seed); frontier-scale re-seeds keep the distributed
        # rank — the same adaptive flip run_wave applies to drain-tail waves.
        n_urls = base.count()
        base = with_url_hash(base, "url", "url_hash").withColumn(
            "host", host_of(F.col("url"))
        )
        seed_caches: list = []
        ranked = with_global_rank(
            base, [F.col(order_col).asc()], out_col="seq", base=seq_base,
            cache_registry=seed_caches,
            single_partition=n_urls <= self.cfg.small_wave_threshold,
        )
        df = ranked.select(
            "url",
            "url_hash",
            "host",
            F.lit(1).cast("int").alias("depth"),
            F.lit(priority).cast("int").alias("priority"),
            F.lit(0).cast("int").alias("discovery_epoch"),
            "seq",
            F.lit(0).cast("int").alias("retry_count"),
            F.lit(None).cast("string").alias("referer"),
            F.lit(handler_id).alias("handler_id"),
            F.lit(None).cast(schemas.FRONTIER["meta"].dataType).alias("meta"),
        )
        n = self._seed_commit(df, n_urls, state, seq_base)
        # The rank's internal persist (both strategies cache their shuffle
        # input) is only read through _seed_commit's own persisted frame;
        # everything is written by now, so release it — a 10^8-row mass
        # re-seed must not leave its whole frontier pinned in storage memory.
        for c in seed_caches:
            c.unpersist()
        return n

    def _ensure_live_robots(self, frame: DataFrame, wave: int) -> None:
        """F2's live leg: fetch + parse robots.txt over HTTP for hosts in
        ``frame`` (host, url) not yet in the accumulated robots_live table
        (reference RobotsTxt extension fetches per-host robots lazily,
        extensions.go:131-151). One mapInPandas fetch over the handful of
        first-seen hosts per call: once per wave over the candidate and
        image hosts together, and once at seeding (which commits its own
        wave). Durable outcomes (parsed rules; 4xx allow-all) are APPENDED
        under the wave's snapshot — at most one increment per wave.
        5xx/transport outcomes are transient disallow-all rows (RFC 9309
        "unreachable"): applied in-memory for the rest of this wave, never
        persisted, and evicted at the next wave so the host's robots is
        re-fetched."""
        from goribot_spark.operators.fetch import live_fetch_robots

        if "_transient_wave" in self.robots.columns:
            self.robots = self.robots.where(
                F.col("_transient_wave").isNull()
                | (F.col("_transient_wave") >= wave)
            )
        need = (
            frame.select("host", "url")
            .groupBy("host")
            .agg(F.min("url").alias("url"))
            .join(self.robots.select("host"), "host", "left_anti")
        )
        # Both branch decisions below read row counts observed inside the
        # checkpoint job itself — no probe job after it.
        counts = Observation()
        rules = (
            live_fetch_robots(
                need, self.cfg.fetch_timeout_sec, self.cfg.fetch_threads, self.cfg.ua
            )
            .select(
                "host",
                "ua",
                "path_prefix",
                (F.col("allow") == "1").alias("allow"),
                (F.col("transient") == "1").alias("_t"),
            )
            .observe(
                counts,
                F.count(F.lit(1)).alias("all"),
                F.count(F.when(~F.col("_t"), 1)).alias("durable"),
            )
            # eager: the fetch is side-effecting — run it exactly once
            .localCheckpoint(eager=True)
        )
        n = counts.get
        if n["all"] == 0:
            return
        durable = rules.where(~F.col("_t")).drop("_t")
        if n["durable"]:
            self.store.append("robots_live", wave, durable.coalesce(1))
        transient = (
            rules.where(F.col("_t"))
            .drop("_t")
            .withColumn("_transient_wave", F.lit(wave).cast("int"))
        )
        self.robots = self.robots.unionByName(
            durable, allowMissingColumns=True
        ).unionByName(transient, allowMissingColumns=True)

    def _seed_commit(
        self, df: DataFrame, n_urls: int, state: dict, seq_base: int
    ) -> int:
        """Shared admission + commit tail of both seeding paths."""
        wave = self.store.last_wave() + 1
        df = apply_rule_filters(df, self.cfg.rules, self.cfg.whitelist, self.cfg.max_depth)
        if self.robots is not None and self.cfg.fetch_mode == "live":
            self._ensure_live_robots(df, wave)
        df = apply_robots(df, self.robots, self.cfg.ua) if self.robots is not None else df
        if self.cfg.dedup:
            df = self._dedup(df)
        remaining = {int(k): v for k, v in state.get("max_req_remaining", {}).items()} or {
            r.rule_id: r.max_req for r in self.cfg.rules if r.max_req is not None
        }
        df = apply_max_req(df, remaining, ["priority", "discovery_epoch", "seq"])
        df = df.drop("rule_id").persist()
        n = df.count()
        # Mass re-seeding (replaying a 10^8-row frontier through seed_frame)
        # is a documented 10^10-scale path — size the write like a wave
        # commit instead of funneling it through one task (r4 verdict #4).
        nf = _nfiles_for(n, self.cfg.num_partitions)
        self.store.write(
            "frontier", wave, df.select(*schemas.FRONTIER.fieldNames()).coalesce(nf)
        )
        if self.cfg.dedup:
            self.store.write("seen", wave, df.select("url_hash").coalesce(nf))
        self._spend_max_req(df, remaining)
        state.update(
            {
                "seq_base": seq_base + n_urls,
                "max_req_remaining": remaining,
                "rule_tokens": state.get("rule_tokens", {}),
            }
        )
        self.store.commit_wave(wave, {"seeded": n}, state)
        df.unpersist()
        # New frontier/seen rows outside the wave loop → drop the
        # incremental caches; the next wave rebuilds from the tables.
        self._pending = None
        self._seen = None
        return n

    def seed_requests(self, reqs: list, handler_id: str = "extract_links_images",
                      priority: int = 0) -> int:
        """Seed from ``(url, meta)`` pairs built by goribot_spark.requests
        (the Get/Post constructor surface, net.go:31-85)."""
        return self.seed(
            [u for u, _ in reqs],
            handler_id=handler_id,
            priority=priority,
            meta=[m for _, m in reqs],
        )

    def add_cookies_to_jar(self, url_or_host: str, cookies: dict[str, str]) -> None:
        """AddCookieToJar analog (extensions.go:272-285): pre-seed the
        per-host cookie jar so the FIRST requests to the host already carry
        the cookies (login tokens etc.), before any Set-Cookie response
        exists. Merges into the current host_state snapshot with the same
        override semantics as a wave's Set-Cookie merge (new value wins per
        name) and commits it as a snapshot — resumable, and visible to
        other sessions sharing the run_dir."""
        from urllib.parse import urlsplit

        host = (urlsplit(url_or_host).hostname or url_or_host).lower()
        latest = self.spark.createDataFrame(
            [(host, k, v) for k, v in cookies.items()], "host string, ck string, cv string"
        )
        wave = self.store.last_wave() + 1
        self.store.write("host_state", wave, self._merge_cookies(latest))
        self.store.commit_wave(
            wave, {"jar_preseed": len(cookies)}, self.store.manifest["driver_state"]
        )

    def _merge_cookies(self, latest: DataFrame) -> DataFrame:
        """The committed jar with ``latest`` (host, ck, cv) merged over it —
        a new value wins per (host, name) — as one single-file snapshot.

        repartition(1), NOT coalesce(1): coalesce collapses every upstream
        stage up to the nearest shuffle into one task, so the map-building
        agg over all hosts-with-cookies would run single-threaded;
        repartition keeps it parallel and only the one-file write is a
        single (tiny) task. sortWithinPartitions: repartition(1) is a
        round-robin shuffle with nondeterministic arrival order; the sort
        restores the byte-identical single-file snapshot the resume
        contract claims."""
        prev = (
            self.store.host_state()
            .select("host", F.explode("cookies").alias("ck", "cv"))
            .join(latest.select("host", "ck"), on=["host", "ck"], how="left_anti")
        )
        return (
            prev.unionByName(latest)
            .groupBy("host")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("ck", "cv")))
                ).alias("cookies")
            )
            .repartition(1)
            .sortWithinPartitions("host")
        )

    # -- one superstep -----------------------------------------------------

    def run_wave(self) -> dict:
        t0 = time.time()
        timings: dict[str, float] = {}
        _last = [t0]

        def mark(phase: str) -> None:
            now = time.time()
            timings[phase] = round(now - _last[0], 2)
            _last[0] = now

        cfg = self.cfg
        live = cfg.fetch_mode == "live"
        state = self.store.manifest["driver_state"]
        wave = self.store.last_wave() + 1
        order_cols = self._order_cols()

        # Per-wave partition sizing: EVERY stage of this wave (politeness
        # shuffle, salt repartition, parse, decode, writes) runs at `sp`
        # partitions, sized from the previous wave's admitted count and
        # capped at num_partitions. A fixed count would make small waves
        # schedule num_partitions empty UDF tasks per stage — measured to
        # make local[32] *slower* than local[8] on the drain tail, since
        # task scheduling is single-threaded on the driver.
        sp = cfg.num_partitions
        if cfg.auto_shuffle_partitions:
            est = max(int(state.get("last_wave_size", 64)), 64)
            sp = min(
                max(4, -(-est // cfg.target_rows_per_partition)), cfg.num_partitions
            )
            self.spark.conf.set("spark.sql.shuffle.partitions", str(sp))

        pending_base = (
            self._pending
            if self._pending is not None
            else self.store.pending_frontier()
        )
        # Defensive: cleared now, reassigned only after a successful commit,
        # so an aborted wave falls back to the (uncommitted-rolled-back)
        # table truth instead of a half-updated cache.
        self._pending = None
        pending = resolve_rule(pending_base, cfg.rules)
        rule_tokens = {int(k): v for k, v in state.get("rule_tokens", {}).items()}
        wave_df, new_tokens = select_wave(
            pending,
            cfg.rules,
            rule_tokens,
            order_cols,
            cfg.window_sec,
            cfg.parallelism_factor,
            cfg.wave_budget,
            wave,
        )
        # localCheckpoint (not persist): besides caching, it TRUNCATES the
        # logical plan to an RDD scan. A wave touches each intermediate with
        # ~10 actions; with full lineage each action re-runs Catalyst over
        # the whole deep wave plan (which also grows with the frontier's
        # wave-dir count) — measured as a multi-second per-wave floor on the
        # drain tail. Cluster note: local checkpoints don't survive executor
        # loss; a real deployment reliability-checkpoints via the per-wave
        # table writes (which ARE the recovery points, store.commit_wave).
        # The row count is observed inside the checkpoint job.
        wave_obs = Observation()
        wave_df = (
            salt_and_partition(wave_df, sp, cfg.hot_host_threshold, cfg.num_salts)
            .observe(wave_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        scheduled = wave_obs.get["n"]
        mark("select_wave")
        if scheduled == 0:
            self._pending = pending_base  # nothing consumed; keep the cache
            return {"wave": wave, "scheduled": 0, "done": True}

        # Cookie jar attach (cross-wave, net.go:261-263): the previous
        # waves' merged per-host cookies ride along as `jar_cookies` so the
        # fetch (and OnReq/OnResp hooks) see the session state. Equi-join on
        # host; the state side is hosts-with-cookies only, so Spark's
        # auto-broadcast covers it at sandbox scale and AQE picks the
        # strategy at cluster scale.
        use_jar = cfg.cookie_jar and (live or "set_cookies" in self.pages.columns)
        fetch_base = wave_df
        if use_jar and self.store.has_host_state():
            # Explicit broadcast: the jar is per-host state (hosts-with-
            # cookies × small maps) — config-scale next to the wave, but big
            # enough past ~200k hosts to clear the 10MB auto-broadcast bar,
            # and a plain join then re-shuffles the ENTIRE wave by host on
            # every wave (measured: the single largest scaling regression
            # after the jar landed). Broadcast keeps the wave's salt
            # partitioning intact; a cluster with a truly huge jar would
            # bucket it by host next to the frontier instead (SCALE.md §1).
            jar = self.store.host_state().withColumnRenamed("cookies", "jar_cookies")
            fetch_base = wave_df.join(F.broadcast(jar), on="host", how="left")
        elif use_jar:
            # No cookies set anywhere yet: same schema, zero plan cost.
            fetch_base = wave_df.withColumn(
                "jar_cookies",
                F.lit(None).cast(schemas.HOST_STATE["cookies"].dataType),
            )

        # OnReq chain (goribot.go:199, 274-282): rewrite or drop scheduled
        # requests just before fetch. Applied to a derived frame so the full
        # wave still lands in `consumed` — a row dropped here is consumed-
        # but-never-fetched, the reference's nil-return discard (it never
        # re-enters a later wave).
        fetch_src = H.apply_hook_stages(fetch_base, cfg.on_req)

        if live:
            # Live HTTP fetch (S4): mapInPandas over the host-salted wave —
            # real sockets in the executors, proxy/UA/header/cookie columns
            # honored, Set-Cookie captured (operators/fetch.py).
            from goribot_spark.operators.fetch import live_fetch

            # Eager checkpoint: the fetch stage is SIDE-EFFECTING (real HTTP
            # exchanges) and several downstream actions read `fetched` —
            # without pinning, each action would re-execute the stage and
            # re-issue every request (observed: retries double-counted).
            # Exactly-once per wave is also the reference's semantics: one
            # Do() per scheduled task (goribot.go:199).
            fetched = live_fetch(
                fetch_src, cfg.fetch_timeout_sec, cfg.fetch_threads, cfg.ua
            ).localCheckpoint(eager=True)
        else:
            # Synthetic fetch (J5): status resolution incl. flaky-page retries.
            page_cols = [
                F.col("url"),
                F.col("status").alias("_pstatus"),
                F.col("fail_times"),
                F.col("content_type"),
                F.col("body"),
            ]
            if use_jar:
                page_cols.append(F.col("set_cookies"))
            pages = self.pages.select(*page_cols)
            fetched = fetch_src.join(pages, on="url", how="left").withColumn(
                "status",
                F.when(F.col("_pstatus").isNull(), F.lit(None).cast("int"))
                .when(F.col("retry_count") < F.col("fail_times"), F.lit(500))
                .otherwise(F.col("_pstatus")),
            )
        ok = F.col("status").isin(list(cfg.okcodes))
        # Slim checkpointed status frame: retry/error/metrics paths reuse it
        # without re-running the fetch join (bodies stay out of the cache).
        # eager=False is only half lazy under AQE: the call runs the plan's
        # shuffle-map stages (the synthetic leg's fetch join; the live leg
        # has none), and the final stage runs in the materialize aggregates
        # below.
        fetch_status = fetched.select(
            *schemas.FRONTIER.fieldNames(), "status"
        ).localCheckpoint(eager=False)
        # OnResp chain + per-handler resp stages (goribot.go:212, 321-329;
        # Handler pipeline 213-218) run on the decoded+parsed frame before
        # discovery/items read it — hook rewrites of links/image_refs/meta
        # affect everything downstream, exactly like ctx mutation would.
        parsed = H.apply_hook_stages(
            with_parsed(fetched.where(ok)), cfg.on_resp, "resp_stages"
        ).localCheckpoint(eager=False)

        # R1/R2 retry routing + terminal errors.
        is_failed = ~ok | F.col("status").isNull()
        is_terminal = is_failed & (F.col("retry_count") >= F.lit(cfg.retry_max))
        failed = fetch_status.where(is_failed)
        retryable = failed.where(F.col("retry_count") < F.lit(cfg.retry_max))
        terminal = fetch_status.where(is_terminal)
        seq_base = int(state.get("seq_base", 0))
        retry_rows = retryable.select(
            "url",
            "url_hash",
            "host",
            "depth",
            "priority",
            F.lit(wave).cast("int").alias("discovery_epoch"),
            F.col("seq"),  # keep original seq → stable ordering across retries
            (F.col("retry_count") + 1).cast("int").alias("retry_count"),
            "referer",
            "handler_id",
            "meta",
        )
        parse_errors = parsed.where(F.col("parse_error").isNotNull())
        errors = terminal.select(
            "url",
            "url_hash",
            "depth",
            "retry_count",
            F.when(F.col("status").isNull(), F.lit("fetch_error"))
            .otherwise(F.lit("bad_status"))
            .alias("error_kind"),
            F.col("status").cast("string").alias("error_msg"),
            F.lit(wave).cast("int").alias("wave"),
        ).unionByName(
            parse_errors.select(
                "url",
                "url_hash",
                "depth",
                "retry_count",
                F.lit("handler_panic").alias("error_kind"),
                F.col("parse_error").alias("error_msg"),
                F.lit(wave).cast("int").alias("wave"),
            )
        )

        # Discovery (links → candidates) for link-emitting handlers only.
        emit_links = parsed.where(
            F.col("parse_error").isNull()
            & F.col("handler_id").isin(H.link_emitting_ids())
        )
        wave_caches: list = []
        cands, n_cands = build_candidates(
            emit_links,
            wave,
            seq_base,
            wave_caches,
            small_wave=scheduled <= cfg.small_wave_threshold,
        )
        mark("fetch_parse_rank")
        # Items: image refs → payload (I1-I2). On the live leg the refs
        # resolve against the page URL once, here: the checkpoint feeds the
        # robots lookup below, the image fetch and the results join, so
        # resolve_url_udf crosses into Python once per ref row.
        emit_items = parsed.where(
            F.col("parse_error").isNull()
            & F.col("handler_id").isin(H.item_emitting_ids())
        )
        if live:
            from goribot_spark.operators.discover import host_of, resolve_url_udf

            refs = (
                emit_items.select(
                    # relative image refs resolve against the post-redirect
                    # URL, same base as link discovery (goribot.go:163-166)
                    F.coalesce(F.col("final_url"), F.col("url")).alias("src_url"),
                    "handler_id",
                    F.explode(
                        F.arrays_zip(
                            F.col("image_refs").alias("ref"),
                            F.col("image_alts").alias("alt"),
                        )
                    ).alias("ri"),
                )
                .select(
                    "src_url",
                    "handler_id",
                    resolve_url_udf(F.col("src_url"), F.col("ri.ref")).alias("image_id"),
                    F.col("ri.alt").alias("caption"),
                )
                .localCheckpoint(eager=False)
            )

        # Custom OnAdd hooks (goribot.go:285-296) run before the built-in
        # admission chain — in the reference, rules/robots/dedup are
        # themselves OnAdd hooks appended by Use(), so user hooks registered
        # first see candidates first.
        cands = H.apply_hook_stages(cands, cfg.on_add)
        cands = apply_rule_filters(cands, cfg.rules, cfg.whitelist, cfg.max_depth)
        if self.robots is not None:
            if live:
                # One lookup per wave: image payloads are HTTP requests like
                # any other, and images often live on other hosts than the
                # page, so their hosts' robots.txt is fetched here too.
                img_hosts = refs.select(
                    host_of(F.col("image_id")).alias("host"),
                    F.col("image_id").alias("url"),
                )
                self._ensure_live_robots(
                    cands.select("host", "url").unionByName(img_hosts), wave
                )
            cands = apply_robots(cands, self.robots, cfg.ua)
        if cfg.dedup:
            cands = self._dedup(cands)
        remaining = {int(k): v for k, v in state.get("max_req_remaining", {}).items()}
        cands = apply_max_req(cands, remaining, ["priority", "discovery_epoch", "seq"])

        if live:
            # Live payload fetch: distinct image URLs fetch once over HTTP
            # (mapInPandas — bytes are produced executor-side, never joined
            # from a table), captions come from the img alt text captured by
            # the parser. A host that disallows a path must not be fetched
            # for its images either.
            from goribot_spark.operators.fetch import live_fetch

            img_urls = refs.select(F.col("image_id").alias("url")).distinct()
            if self.robots is not None:
                img_urls = apply_robots(
                    img_urls.withColumn("host", host_of(F.col("url"))),
                    self.robots,
                    cfg.ua,
                ).drop("host")
            img_fetch = live_fetch(
                img_urls, cfg.fetch_timeout_sec, cfg.fetch_threads, cfg.ua
            ).select(F.col("url").alias("image_id"), F.col("body").alias("bytes"))

        # Materialize the wave's frames first, at full stage parallelism,
        # THEN write from cache with a small file count: compute parallelism
        # and output file count are decoupled, so higher core counts never
        # multiply the small files that every later wave's frontier/seen
        # reads re-list. (Iceberg would get the same effect from write
        # targets + compaction.) The admitted checkpoint, the live image
        # fetch and the two probe aggregates are independent jobs, so they
        # run side by side instead of one after another on the wave's serial
        # chain. Each also yields the counts the writes below branch on:
        # admitted_n is observed inside the admitted checkpoint job, and
        # most waves set no cookies and have no errors, so they skip the jar
        # merge and the errors write entirely.
        admitted_obs = Observation()
        parsed_probes = [
            F.count(F.when(F.col("parse_error").isNotNull(), 1)).alias("errors")
        ]
        if use_jar:
            parsed_probes.append(
                F.count(F.when(F.col("set_cookies").isNotNull(), 1)).alias("cookies")
            )
        with ThreadPoolExecutor(max_workers=4) as pool:
            f_adm = pool.submit(
                cands.observe(admitted_obs, F.count(F.lit(1)).alias("n")).localCheckpoint,
                eager=True,
            )
            # Eager checkpoint: same exactly-once pin as the page-wave fetch
            # above — the image GETs are side-effecting, and relying on
            # `results` being consumed by a single write action would let
            # any future second action (metrics, an on_item hook) silently
            # re-issue every image request.
            f_img = pool.submit(img_fetch.localCheckpoint, eager=True) if live else None
            f_fs = pool.submit(
                lambda: fetch_status.agg(F.count(F.when(is_terminal, 1))).first()[0]
            )
            f_pa = pool.submit(lambda: parsed.agg(*parsed_probes).first())
            admitted, terminal_n, parsed_n = (
                f_adm.result(), f_fs.result(), f_pa.result()
            )
        admitted_n = admitted_obs.get["n"]
        wave_has_cookies = use_jar and parsed_n["cookies"] > 0
        errors_n = terminal_n + parsed_n["errors"]
        mark("materialize")

        if live:
            joined = refs.join(f_img.result(), "image_id")
        else:
            refs = emit_items.select(
                F.col("url").alias("src_url"),
                "handler_id",
                F.explode("image_refs").alias("image_id"),
            )
            # The images table is the sandbox's stand-in for the network
            # (the live leg above fetches bytes inside mapInPandas, no join
            # at all); its cached url-key partitioning means this join
            # exchanges only the refs side — payload bytes never hit shuffle
            # disk, which would otherwise saturate single-node I/O and cap
            # scaling. Decode runs in the join's reduce stage at the cache's
            # partition count.
            joined = refs.join(
                self.images.select("image_id", "bytes", "caption"), "image_id"
            )
        results = joined.transform(with_decoded).select(
            "image_id",
            "bytes",
            "w",
            "h",
            "fmt",
            "caption",
            "phash",
            "decode_error",
            "src_url",
            "handler_id",
            F.lit(wave).cast("int").alias("wave"),
        )
        # OnItem chain + per-handler item stages (goribot.go:332-342): item
        # transforms/filters before the sink write; handler_id rides along
        # for the per-handler split and is dropped at the final select.
        results = H.apply_hook_stages(results, cfg.on_item, "item_stages").select(
            *schemas.RESULTS.fieldNames()
        )
        # results is intentionally NOT cached/checkpointed: it is written
        # exactly once below (decode runs inside the write stage at full
        # parallelism) and never re-read within the loop — holding GBs of
        # payload rows in the block manager only added GC pressure.

        # Per-partition lineage metrics (north rule).
        metrics = (
            fetch_status.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                F.count(F.lit(1)).alias("urls_scheduled"),
                F.sum(ok.cast("long")).alias("urls_fetched"),
                F.countDistinct("host").alias("distinct_hosts"),
                F.sum(is_failed.cast("long")).alias("errors"),
            )
            .select(
                F.lit(wave).cast("int").alias("wave"),
                F.col("pid").cast("int").alias("partition_id"),
                "urls_scheduled",
                "urls_fetched",
                F.lit(0).cast("long").alias("images_decoded"),
                "errors",
                "distinct_hosts",
                F.lit(0.0).alias("wall_sec"),
            )
        )

        # File counts sized from the (now known) row counts: enough tasks to
        # keep big writes parallel, 1 file on the drain tail — the re-read
        # tables never accumulate per-core file explosions either way.
        def _nfiles(rows: int) -> int:
            return _nfiles_for(rows, sp)

        host_state_write = None
        if use_jar and wave_has_cookies:
            # Merge this wave's Set-Cookie responses into the jar
            # (last-writer-wins by seq within the wave, new over old across
            # waves — http.CookieJar overwrite semantics) and re-snapshot
            # the full state. The state is (hosts-with-cookies × cookies) —
            # config-scale next to the frontier; entries sorted for
            # deterministic bytes (resume byte-identity contract).
            from pyspark.sql import Window

            upd = parsed.where(F.col("set_cookies").isNotNull()).select(
                "host", "seq", F.explode("set_cookies").alias("ck", "cv")
            )
            wlast = Window.partitionBy("host", "ck").orderBy(F.col("seq").desc())
            latest = (
                upd.withColumn("_rn", F.row_number().over(wlast))
                .where(F.col("_rn") == 1)
                .select("host", "ck", "cv")
            )
            host_state_write = self._merge_cookies(latest)

        # Row count captured INSIDE the write action (Observation API): the
        # previous footer-metadata count(*) over the freshly-written files
        # was a separate job serialized after the longest write of the wave
        # — pure per-wave driver floor. observe() rides the write job free.
        results_obs = Observation()
        writes = {
            # results: uncoalesced — decode executes inside this write stage
            # at sp-partition parallelism; results is append-only output,
            # never re-read by the wave loop, so its file count is harmless.
            "results": results.observe(results_obs, F.count(F.lit(1)).alias("n")),
            # per-partition lineage metrics write concurrently with results;
            # the totals row (needs the observed count) is APPENDED after.
            "metrics": metrics.coalesce(1),
            "consumed": wave_df.select(
                "url_hash", "retry_count", "seq", F.lit(wave).cast("int").alias("wave")
            ).coalesce(_nfiles(scheduled)),
            "frontier": admitted.select(*schemas.FRONTIER.fieldNames())
            .unionByName(retry_rows.select(*schemas.FRONTIER.fieldNames()))
            .coalesce(_nfiles(admitted_n)),
        }
        if errors_n:
            # repartition(1), NOT coalesce(1): there is no shuffle between
            # the fetch_status/parsed scans and this write, so coalesce(1)
            # made the full wave-wide error filter a single task (a serial
            # full-frontier scan per wave — measured in the 2-vs-8-core
            # phase profile); repartition keeps the scan at stage
            # parallelism and shuffles only the handful of error rows. The
            # sort pins row order inside the one file (round-robin shuffle
            # arrival is nondeterministic) → deterministic bytes on re-run.
            writes["errors"] = errors.repartition(1).sortWithinPartitions(
                "url_hash", "retry_count", "error_kind"
            )
        else:
            # No error rows, no errors dir (read() returns an empty ERRORS
            # frame); one left by an aborted attempt at this wave must not
            # surface once the wave commits.
            self.store.discard("errors", wave)
        if cfg.dedup:
            writes["seen"] = admitted.select("url_hash").coalesce(_nfiles(admitted_n))
        if host_state_write is not None:
            writes["host_state"] = host_state_write
        mark("plan_writes")
        with ThreadPoolExecutor(max_workers=len(writes) + 1) as pool:
            futures = {
                t: pool.submit(self.store.write, t, wave, df)
                for t, df in writes.items()
            }
            futures["results"].result()
            mark("write_results")
            # Count observed inside the write job — no second job, no
            # re-listing of the files just written.
            images_n = int(results_obs.get["n"])
            wall = time.time() - t0
            # Totals row as JVM-side literals (spark.range(1).select(lit…)),
            # NOT createDataFrame: a python-local row reaches the writer as
            # a pickled-RDD scan, and coalesce(1) over it stalls ~4.5s per
            # wave (fresh python worker on the write path — measured; it was
            # the single largest term of the per-wave driver floor).
            totals = self.spark.range(1).select(
                F.lit(wave).cast("int").alias("wave"),
                F.lit(-1).cast("int").alias("partition_id"),
                F.lit(scheduled).cast("long").alias("urls_scheduled"),
                F.lit(0).cast("long").alias("urls_fetched"),
                F.lit(images_n).cast("long").alias("images_decoded"),
                F.lit(0).cast("long").alias("errors"),
                F.lit(0).cast("long").alias("distinct_hosts"),
                F.lit(float(wall)).alias("wall_sec"),
            )
            # The per-partition rows were written concurrently with results
            # (overwrite); the totals row appends after — ordering enforced
            # by waiting on the metrics future first.
            futures["metrics"].result()
            self.store.append("metrics", wave, totals.coalesce(1))
            mark("metrics_write")
            for t, fut in futures.items():
                fut.result()
        mark("writes")
        wall = time.time() - t0

        self._spend_max_req(admitted, remaining)
        state.update(
            {
                "seq_base": seq_base + n_cands,
                "max_req_remaining": remaining,
                "rule_tokens": new_tokens,
                "last_wave_size": admitted_n,
            }
        )
        stats = {
            "scheduled": scheduled,
            "admitted": admitted_n,
            "images": images_n,
            "wall_sec": wall,
            "timings": timings,
        }
        self.store.commit_wave(wave, stats, state)
        # Roll the incremental caches forward with this wave's deltas. The
        # eager=False checkpoints run their shuffle-map stages (the anti-join
        # and union inputs) here under AQE and their final stage at the next
        # wave's first action; the plan chain stays one wave deep.
        fields = schemas.FRONTIER.fieldNames()
        wave_keys = wave_df.select("url_hash", "retry_count", "seq")
        self._pending = (
            pending_base.select(*fields)
            .join(wave_keys, on=["url_hash", "retry_count", "seq"], how="left_anti")
            .unionByName(admitted.select(*fields))
            .unionByName(retry_rows.select(*fields))
            .localCheckpoint(eager=False)
        )
        if cfg.dedup:
            self._seen = (
                self._seen_frame()
                .unionByName(admitted.select("url_hash"))
                .localCheckpoint(eager=False)
            )
        for df in wave_caches:
            df.unpersist()
        # Checkpointed wave frames (wave_df, fetch_status, parsed, admitted,
        # results) release their blocks via the ContextCleaner once the
        # driver references drop; session.py shortens periodicGC for that.
        return {"wave": wave, "done": False, **stats}

    def compact(
        self, mode: str = "files", files_per_table: int = 8, max_tiers: int = 8
    ) -> dict:
        """Fold the run's per-wave table directories into base snapshot
        tiers (store.compact — the Iceberg compaction analog; incremental
        per call, full merge every ``max_tiers`` folds). Safe at any wave
        boundary; the incremental pending/seen caches are dropped because
        their lazy plans may still reference the pre-compaction files (the
        next wave rebuilds them from the compacted tables)."""
        out = self.store.compact(
            mode=mode, files_per_table=files_per_table, max_tiers=max_tiers
        )
        self._pending = None
        self._seen = None
        if self.cfg.robots and self.cfg.fetch_mode == "live":
            self.robots = self.store.read("robots_live")
        return out

    # -- the driver loop (goribot.go:227-248) ------------------------------

    def refresh(self) -> None:
        """Pick up state committed by OTHER sessions on this run_dir:
        re-read the manifest and drop the incremental pending/seen caches so
        the next wave rebuilds them from the shared tables (the distributed
        consumer contract, manager_test.go:13-54)."""
        self.store.refresh()
        self._pending = None
        self._seen = None
        # Live mode accumulates fetched robots rules per host; another
        # session may have fetched+committed more hosts — reload the
        # robots_live snapshot so the next wave's left_anti sees them and
        # doesn't re-fetch robots.txt for those hosts.
        if self.cfg.robots and self.cfg.fetch_mode == "live":
            self.robots = self.store.read("robots_live")

    def run(
        self,
        max_waves: int | None = None,
        poll: bool = False,
        idle_waves: int = 2,
        poll_interval_sec: float = 0.0,
        on_idle=None,
    ) -> list[dict]:
        """Driver loop. Default (``poll=False``) is the AutoStop behavior:
        run waves until the pending frontier drains (goribot.go:227-244).

        ``poll=True`` is the AutoStop=false analog (SetAutoStop,
        goribot.go:240-244 — the reference keeps waiting for new tasks
        instead of exiting): an empty wave is an *idle poll*, not the end —
        the engine refreshes the shared store (seeds appended by another
        session become visible), optionally sleeps ``poll_interval_sec``,
        and re-checks; it exits after ``idle_waves`` consecutive empty
        polls. ``on_idle(engine, n_idle)`` fires on each idle poll (test
        hook / external seed pump).

        OnStart fires before the first wave and OnFinish after the loop
        exits (goribot.go:251-268), each called with the engine."""
        out = []
        if self.cfg.on_start is not None:
            self.cfg.on_start(self)
        limit = max_waves if max_waves is not None else self.cfg.max_waves
        idle = 0
        for _ in range(limit):
            r = self.run_wave()
            out.append(r)
            if not r.get("done"):
                idle = 0
                if (
                    self.cfg.compact_every_waves
                    and r["wave"] > 0
                    and r["wave"] % self.cfg.compact_every_waves == 0
                ):
                    # lossless fold at a wave boundary — keeps a long
                    # (continuous) crawl's store at O(compact_every_waves)
                    # directories per table instead of O(total waves)
                    self.compact(mode="files")
                continue
            if not poll:
                break
            idle += 1
            if on_idle is not None:
                on_idle(self, idle)
            if idle >= idle_waves:
                break
            if poll_interval_sec:
                time.sleep(poll_interval_sec)
            self.refresh()
        if self.cfg.on_finish is not None:
            self.cfg.on_finish(self)
        return out
