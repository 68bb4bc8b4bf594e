"""CrawlStore — snapshot-committed parquet tables for the crawl state.

Plays the role of Iceberg in the sandbox (no Iceberg jars available): each
table is a directory of per-wave parquet partitions, and a run ``manifest``
JSON records which waves are committed. A wave's writes become visible only
when the manifest is atomically replaced (write-temp + rename), so a crash
mid-wave leaves the previous snapshot intact and the run is resumable —
the checkpoint/lineage contract of the north rule. On a real cluster the
same layout maps 1:1 onto Iceberg appends + snapshot pinning (SURVEY.md §1.7,
replacing the reference's Redis lists, manager.go:14-16).

Frontier consumption is append-only: ``frontier`` accumulates discovered
rows, ``consumed`` accumulates (url_hash, retry_count) pairs that were
scheduled; the pending set is the anti-join of the two. Iceberg would express
the same with positional deletes + compaction; append-only keeps the sandbox
implementation honest about never rewriting O(frontier) state per wave.

``compact()`` is the Iceberg-compaction analog: per-wave directories fold
into one ``base=<wave>`` snapshot per table so a long crawl's resume cost
stays O(1) in wave count instead of re-listing thousands of wave dirs
(``mode="files"``, lossless), or the frontier/consumed log pair collapses to
the pending set (``mode="state"`` — the positional-delete-compaction analog,
which drops the pre-compaction fetch history the way Iceberg snapshot expiry
does). The base write is published by the same atomic manifest rename as a
wave commit, so a crash mid-compaction leaves the old snapshot intact.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goribot_spark import schemas

TABLES = (
    "frontier",
    "consumed",
    "seen",
    "results",
    "errors",
    "metrics",
    "host_state",
    "robots_live",
)

_SCHEMAS = {
    "frontier": schemas.FRONTIER,
    "consumed": "url_hash long, retry_count int, seq long, wave int",
    "seen": schemas.SEEN,
    "results": schemas.RESULTS,
    "errors": schemas.ERRORS,
    "metrics": schemas.METRICS,
    "robots_live": schemas.ROBOTS_RULES,
}


class CrawlStore:
    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self._manifest_path = os.path.join(run_dir, "manifest.json")
        self.manifest = self._load_manifest()

    # -- manifest / snapshot isolation ------------------------------------

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"waves": [], "driver_state": {}}

    def refresh(self) -> None:
        """Re-read the manifest from disk — picks up waves committed by
        OTHER sessions sharing this run_dir (the distributed-mode contract,
        manager.go:14-16: any worker may publish seeds/waves; a polling
        engine sees them on its next idle check)."""
        self.manifest = self._load_manifest()

    def committed_waves(self) -> list[int]:
        return [w["wave"] for w in self.manifest["waves"]]

    def last_wave(self) -> int:
        ws = self.committed_waves()
        return max(ws) if ws else -1

    def commit_wave(self, wave: int, stats: dict, driver_state: dict) -> None:
        """Atomically publish wave ``wave``: temp-write manifest then rename."""
        self.manifest["waves"].append({"wave": wave, **stats})
        self.manifest["driver_state"] = driver_state
        self._publish_manifest()

    def _publish_manifest(self) -> None:
        """Atomic manifest replace — with a concurrent-committer merge.

        The manifest is read-modify-write: between this session's last
        load and this publish, a PEER session sharing the run_dir may have
        committed a wave or seeds (the distributed contract,
        manager.go:14-16). Writing our in-memory copy verbatim would drop
        that wave from the manifest and the next rollback_uncommitted
        would delete its data dirs — permanent loss (Iceberg solves this
        with optimistic-retry commits against the catalog; this is the
        sandbox equivalent). So before the replace, re-read the on-disk
        manifest and fold it in: union the wave list by wave number (our
        entry wins a number collision — colliding wave numbers are a
        seed-race both sides' data dirs survive), take the per-table max
        of the compaction horizons, and take whichever driver_state has
        advanced seq_base further (seq ranges are allocated at seed time,
        so the larger base supersedes the smaller).
        """
        self._merge_from_disk()
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def _merge_from_disk(self) -> None:
        disk = self._load_manifest()
        ours = {w["wave"] for w in self.manifest["waves"]}
        peer = [w for w in disk.get("waves", []) if w["wave"] not in ours]
        if peer:
            self.manifest["waves"] = sorted(
                self.manifest["waves"] + peer, key=lambda w: w["wave"]
            )
        for t, through in disk.get("bases", {}).items():
            mine = self.manifest.setdefault("bases", {})
            if int(through) > int(mine.get(t, -1)):
                mine[t] = int(through)
                # adopt the peer's tier layout wholesale for this table —
                # its fold superseded whatever layout we believed in
                if t in disk.get("tiers", {}):
                    self.manifest.setdefault("tiers", {})[t] = disk["tiers"][t]
        if int(disk.get("driver_state", {}).get("seq_base", 0)) > int(
            self.manifest.get("driver_state", {}).get("seq_base", 0)
        ):
            self.manifest["driver_state"] = disk["driver_state"]

    def _base_through(self, table: str) -> int:
        """Wave through which ``table`` has been compacted (-1 = never)."""
        return int(self.manifest.get("bases", {}).get(table, -1))

    def _tiers(self, table: str) -> list[int]:
        """Committed compaction tiers for ``table``, oldest→newest. Each
        tier ``base=<w>`` holds the fold of waves in (previous tier, w] —
        the LSM-style incremental layout; a manifest from before tiering
        (single ``bases`` entry) reads as one tier."""
        ts = self.manifest.get("tiers", {}).get(table)
        if ts is not None:
            return [int(t) for t in ts]
        through = self._base_through(table)
        return [through] if through >= 0 else []

    def _base_dir(self, table: str, through: int) -> str:
        return os.path.join(self.run_dir, table, f"base={through}")

    def rollback_uncommitted(self) -> None:
        """Drop wave directories newer than the last committed snapshot,
        plus compaction leftovers a crash may have stranded: temp base
        writes and base dirs the manifest never published."""
        last = self.last_wave()
        for t in TABLES:
            tdir = os.path.join(self.run_dir, t)
            if not os.path.isdir(tdir):
                continue
            committed_base = self._base_through(t)
            tiers = set(self._tiers(t))
            for d in os.listdir(tdir):
                if d.startswith("wave=") and not (
                    committed_base < int(d.split("=")[1]) <= last
                ):
                    # newer than the snapshot (died mid-wave) or already
                    # folded into the base (compaction cleanup died)
                    shutil.rmtree(os.path.join(tdir, d))
                elif d.startswith(".base_tmp"):
                    shutil.rmtree(os.path.join(tdir, d))
                elif d.startswith("base=") and int(d.split("=")[1]) not in tiers:
                    shutil.rmtree(os.path.join(tdir, d))
    # -- IO ----------------------------------------------------------------

    def _wave_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.run_dir, table, f"wave={wave}")

    def write(self, table: str, wave: int, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._wave_dir(table, wave))

    def append(self, table: str, wave: int, df: DataFrame) -> None:
        """Additive write within a wave: metrics gets its totals row after
        the per-partition rows, and robots_live gets one increment per wave
        (the wave's single robots lookup, or seeding's) — ``write``'s
        overwrite would clobber an earlier increment."""
        df.write.mode("append").parquet(self._wave_dir(table, wave))

    def discard(self, table: str, wave: int) -> None:
        """Remove the wave's partition of ``table`` if one exists — for a
        wave that skips writing the table."""
        shutil.rmtree(self._wave_dir(table, wave), ignore_errors=True)

    def read(self, table: str, upto_wave: int | None = None) -> DataFrame:
        """Union of the compacted base snapshot (if any) and the committed
        wave partitions above it. Snapshots below the compaction horizon are
        no longer reconstructible (Iceberg snapshot-expiry semantics), so
        ``upto_wave`` below the base's through-wave is rejected."""
        upto = self.last_wave() if upto_wave is None else upto_wave
        through = self._base_through(table)
        if upto < through:
            raise ValueError(
                f"{table}: wave {upto} predates the compaction horizon {through}"
            )
        dirs = [
            self._base_dir(table, t)
            for t in self._tiers(table)
            if os.path.isdir(self._base_dir(table, t))
        ]
        dirs += [
            self._wave_dir(table, w)
            for w in self.committed_waves()
            if through < w <= upto and os.path.isdir(self._wave_dir(table, w))
        ]
        if not dirs:
            return self._empty(_SCHEMAS[table])
        return self.spark.read.parquet(*dirs)

    def _empty(self, schema) -> DataFrame:
        """Zero-partition frame with ``schema``. ``createDataFrame([], …)``
        is a Python RDD with ``defaultParallelism`` partitions, so every
        scan of it starts that many Python tasks (0.35 s for a ``count()``
        against 0.07 s here)."""
        return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), schema)

    def pending_frontier(self) -> DataFrame:
        """Discovered-but-not-yet-scheduled rows: frontier ⋉̸ consumed.

        Key is (url_hash, retry_count, seq): seq uniquifies duplicate
        enqueues when dedup is off, and a retry re-enqueue of an already
        consumed URL stays pending because its retry_count differs
        (dedup-exemption contract, reference extensions.go:293-295).
        """
        frontier = self.read("frontier")
        consumed = self.read("consumed")
        return frontier.join(
            consumed.select("url_hash", "retry_count", "seq"),
            on=["url_hash", "retry_count", "seq"],
            how="left_anti",
        )

    def fetch_log(self) -> DataFrame:
        """(url, url_hash, depth, retry_count, wave) of every scheduled fetch
        — the engine-side analog of the simulator's fetch trace."""
        frontier = self.read("frontier")
        consumed = self.read("consumed")
        return consumed.join(
            frontier.select("url", "url_hash", "retry_count", "seq", "depth"),
            on=["url_hash", "retry_count", "seq"],
            how="inner",
        )

    def seen(self) -> DataFrame:
        return self.read("seen")

    def has_host_state(self) -> bool:
        """True iff any committed wave wrote a host_state snapshot — an O(1)
        filesystem probe so crawls where no page ever set a cookie skip the
        jar join entirely (no per-wave plan cost for an empty state)."""
        if any(
            os.path.isdir(self._base_dir("host_state", t))
            for t in self._tiers("host_state")
        ):
            return True
        return any(
            os.path.isdir(self._wave_dir("host_state", w))
            for w in self.committed_waves()
        )

    def host_state(self) -> DataFrame:
        """Per-host session state (cookie jar analog, net.go:261-263):
        (host, cookies map). STATE table, not a log — the latest committed
        wave's snapshot is the whole truth (each wave writes the fully
        merged jar), so only that one directory is read."""
        through = self._base_through("host_state")
        for w in sorted(self.committed_waves(), reverse=True):
            if w <= through:
                break  # anything at/below the horizon lives in a base tier
            d = self._wave_dir("host_state", w)
            if os.path.isdir(d):
                return self.spark.read.parquet(d)
        # newest tier holding a snapshot wins (older tiers are superseded
        # history a later full merge sweeps)
        for t in sorted(self._tiers("host_state"), reverse=True):
            if os.path.isdir(self._base_dir("host_state", t)):
                return self.spark.read.parquet(self._base_dir("host_state", t))
        return self._empty(schemas.HOST_STATE)

    def wave_path(self, table: str, wave: int) -> str:
        """Public path accessor for a wave partition (for footer-metadata
        row counts etc.) — keeps callers off the private layout."""
        return self._wave_dir(table, wave)

    # -- compaction (Iceberg rewrite_data_files / snapshot-expiry analog) ---

    def _read_wave_range(self, table: str, lo: int, hi: int) -> DataFrame | None:
        """Union of the committed wave dirs with lo < wave <= hi, bases
        excluded — the incremental-fold input. None if no dirs exist."""
        dirs = [
            self._wave_dir(table, w)
            for w in self.committed_waves()
            if lo < w <= hi and os.path.isdir(self._wave_dir(table, w))
        ]
        return self.spark.read.parquet(*dirs) if dirs else None

    def compact(
        self,
        mode: str = "files",
        files_per_table: int = 8,
        max_tiers: int = 8,
    ) -> dict:
        """Fold committed wave directories into ``base=<wave>`` snapshot
        tiers. Reads stay correct at every point: each new base is written
        to a temp dir, renamed into place, and only the atomic manifest
        replace publishes it — a crash anywhere before that leaves the old
        snapshot authoritative (stranded temp/base dirs are swept by
        ``rollback_uncommitted`` on the next open).

        ``mode="files"`` is lossless AND incremental: only the wave dirs
        ABOVE the current horizon fold into a new tier (O(delta) I/O per
        fold, like Iceberg's rewrite_data_files binpacking new small files
        — not an O(total-rows) rewrite of accumulated history every call,
        which would cost O(W²/N) over a long continuous crawl). Tiers
        accumulate LSM-style until a fold would exceed ``max_tiers``, at
        which point everything merges into one base — so resume-time reads
        list O(max_tiers + compact_every_waves) dirs per table and the
        cumulative fold I/O is O(W²/(N·max_tiers)) in full merges plus
        O(W) in incremental folds.

        ``mode="state"`` is always a FULL fold that additionally collapses
        the frontier/consumed log pair into the pending set and drops
        consumed history (the positional-delete compaction + snapshot
        expiry analog): ``pending_frontier()`` and all forward semantics
        are unchanged, but ``fetch_log()`` no longer covers waves at or
        below the horizon.

        ``files_per_table`` caps output files per fold (coalesce) — sized
        for the sandbox; a cluster compaction would target Iceberg's file
        size instead. Returns {table: through_wave} of what was compacted.

        Multi-session note: compaction is a coordinator action, but it is
        safe against concurrent COMMITTERS — it first merges the on-disk
        manifest (peer waves fold in or stay above the horizon) and its
        publish goes through the same merging ``_publish_manifest`` as a
        wave commit, so a peer's wave can never be dropped from the
        manifest. A peer session still HOLDING the pre-compaction manifest
        will try to read wave dirs the post-commit cleanup deletes — the
        same hazard as an Iceberg reader pinned to an expired snapshot;
        such sessions recover with ``refresh()`` (a fresh manifest read
        sees the bases — test_compact_files_lossless's fresh-store
        assertions, test_compact_peer_commit_survives).
        """
        if mode not in ("files", "state"):
            raise ValueError(f"unknown compaction mode {mode!r}")
        # fold in peer-committed waves FIRST so `through` covers them and
        # nothing a peer published gets orphaned below the horizon
        self._merge_from_disk()
        through = self.last_wave()
        if through < 0:
            return {}
        bases = dict(self.manifest.get("bases", {}))
        tiers = {t: list(self._tiers(t)) for t in TABLES}
        done: dict[str, int] = {}
        renames: list[tuple[str, str]] = []

        for t in TABLES:
            horizon = int(bases.get(t, -1))
            if horizon == through:
                continue  # already compacted through the newest wave
            tdir = os.path.join(self.run_dir, t)
            if not os.path.isdir(tdir):
                continue
            if not any(d.startswith(("wave=", "base=")) for d in os.listdir(tdir)):
                continue
            full = mode == "state" or len(tiers[t]) + 1 > max_tiers
            if t == "host_state":
                # state table: the newest snapshot is the whole truth; an
                # incremental fold writes it only if a post-horizon wave
                # refreshed it (else the existing tiers already hold it)
                if full or self._read_wave_range(t, horizon, through) is not None:
                    df = self.host_state()
                else:
                    df = None
            elif t == "consumed" and mode == "state":
                df = None  # collapses into the pending-only frontier base
            elif t == "frontier" and mode == "state":
                df = self.pending_frontier()
            elif t == "seen" and mode == "state":
                df = self.read(t).distinct()
            else:
                df = self.read(t) if full else self._read_wave_range(t, horizon, through)
            if df is None and mode == "files":
                # no rows above the horizon — advance it without a new tier
                bases[t] = through
                continue
            tmp = os.path.join(tdir, f".base_tmp{through}")
            if df is not None:
                df.coalesce(files_per_table).write.mode("overwrite").parquet(tmp)
                renames.append((tmp, self._base_dir(t, through)))
                tiers[t] = [through] if full else tiers[t] + [through]
            else:  # state-mode collapse with no surviving rows
                tiers[t] = [through]
            bases[t] = through
            done[t] = through
        if not done:
            return {}
        for tmp, final in renames:
            if os.path.exists(final):  # re-compaction at the same horizon
                shutil.rmtree(final)
            os.rename(tmp, final)
        # the commit point: until this rename lands, every new path above is
        # unpublished garbage that rollback_uncommitted would sweep
        self.manifest["bases"] = bases
        self.manifest["tiers"] = {
            t: ts for t, ts in tiers.items() if ts
        }
        self._publish_manifest()
        # post-commit cleanup — crash-safe: read()/host_state() ignore
        # anything at or below the horizon, and the next
        # rollback_uncommitted sweeps whatever this loop doesn't reach
        for t in done:
            tdir = os.path.join(self.run_dir, t)
            keep = {f"base={w}" for w in tiers[t]}
            for d in os.listdir(tdir):
                stale_wave = d.startswith("wave=") and int(d.split("=")[1]) <= through
                stale_base = d.startswith("base=") and d not in keep
                if stale_wave or stale_base:
                    shutil.rmtree(os.path.join(tdir, d))
        return done

    def seed_seq_base(self) -> int:
        return int(self.manifest["driver_state"].get("seq_base", 0))

    def metrics_summary(self) -> DataFrame:
        m = self.read("metrics")
        return m.groupBy("wave").agg(
            F.sum("urls_scheduled").alias("urls_scheduled"),
            F.sum("urls_fetched").alias("urls_fetched"),
            F.sum("images_decoded").alias("images_decoded"),
            F.sum("errors").alias("errors"),
            F.max("wall_sec").alias("wall_sec"),
        )
