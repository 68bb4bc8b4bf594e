"""Admission pipeline — the OnAdd chain (reference goribot.go:285-296, F1-F8).

Candidate links pass, in reference order: rule allow/deny + whitelist + depth
+ lifetime budget (Limiter knock, limiter.go:122-147), robots.txt
(extensions.go:131-151), then request-dedup (extensions.go:288-309) as a
left_anti join against the global ``seen`` table — the scalable replacement
for the in-memory MD5 set. All rule/robots lookups are broadcast joins
(config-scale right sides); only the exact seen anti-join shuffles, on
``url_hash``.
"""

from __future__ import annotations

import fnmatch
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class LimitRule:
    """Mirror of the reference LimitRule (limiter.go:22-38), budget-domain."""

    host_glob: str
    allow: bool = True
    delay_sec: float | None = None
    rate_per_sec: float | None = None
    parallelism: int | None = None
    max_req: int | None = None
    max_depth: int | None = None
    rule_id: int = -1
    # RandomDelay (limiter.go:83-86): an EXTRA uniform(0, random_delay_sec)
    # sleep per request on top of delay_sec. Batch translation: deterministic
    # per-(rule, wave, slot) jitter draws shrink that wave's admission cap —
    # see politeness.rule_wave_cap. Deliberately LAST so the longstanding
    # positional meaning of the earlier fields is unchanged.
    random_delay_sec: float | None = None

    def regex(self) -> str:
        # Reference matches glob OR regexp on lowercased host (limiter.go:40-48).
        return fnmatch.translate(self.host_glob.lower())


def resolve_rule(df: DataFrame, rules: list[LimitRule]) -> DataFrame:
    """Attach ``rule_id`` by first-match-wins precedence (limiter.go:75, 122).

    A pure F.when cascade over precompiled regexes — constant-folded by
    Catalyst, no join, no shuffle.
    """
    if not rules:
        return df.withColumn("rule_id", F.lit(None).cast("int"))
    expr = F.lit(None).cast("int")
    for r in reversed(rules):
        expr = F.when(F.lower(F.col("host")).rlike(r.regex()), F.lit(r.rule_id)).otherwise(expr)
    return df.withColumn("rule_id", expr)


def apply_rule_filters(
    df: DataFrame,
    rules: list[LimitRule],
    whitelist: bool,
    global_max_depth: int | None = None,
) -> DataFrame:
    """allow/deny (F3), whitelist (limiter.go:143-147), MaxDepth (F4)."""
    df = resolve_rule(df, rules)
    if whitelist:
        df = df.where(F.col("rule_id").isNotNull())
    deny_ids = [r.rule_id for r in rules if not r.allow]
    if deny_ids:
        df = df.where(~F.col("rule_id").isin(deny_ids) | F.col("rule_id").isNull())
    depth_expr = F.lit(None).cast("int")
    for r in reversed(rules):
        if r.max_depth is not None:
            depth_expr = F.when(F.col("rule_id") == r.rule_id, F.lit(r.max_depth)).otherwise(
                depth_expr
            )
    df = df.withColumn("_rule_max_depth", depth_expr)
    df = df.where(F.col("_rule_max_depth").isNull() | (F.col("depth") <= F.col("_rule_max_depth")))
    df = df.drop("_rule_max_depth")
    if global_max_depth is not None:
        df = df.where(F.col("depth") <= F.lit(global_max_depth))
    return df


def apply_max_req(
    df: DataFrame, remaining: dict[int, int], order_cols: list[str]
) -> DataFrame:
    """Lifetime per-rule admission budget (F5 / T5, limiter.go:133-139).

    ``remaining`` is driver state (config-scale: one int per rule) persisted
    in the run manifest; admission rank within each rule partition is a
    window row_number in deterministic frontier order.
    """
    if not remaining:
        return df
    w = Window.partitionBy("rule_id").orderBy(*order_cols)
    rem_expr = F.lit(None).cast("long")
    for rid, n in remaining.items():
        rem_expr = F.when(F.col("rule_id") == rid, F.lit(n)).otherwise(rem_expr)
    return (
        df.withColumn("_adm_rank", F.row_number().over(w))
        .withColumn("_remaining", rem_expr)
        .where(F.col("_remaining").isNull() | (F.col("_adm_rank") <= F.col("_remaining")))
        .drop("_adm_rank", "_remaining")
    )


def apply_robots(df: DataFrame, robots: DataFrame | None, ua: str) -> DataFrame:
    """robots.txt longest-prefix-match filter (F2, extensions.go:131-151).

    Broadcast-joins candidates against (host, ua, path_prefix, allow) rules;
    per candidate the longest applicable prefix decides; per-UA rules beat
    '*' rules at equal prefix length (standard robots precedence; the
    reference delegates to temoto/robotstxt which does the same). No rule →
    allowed.
    """
    if robots is None:
        return df
    # Rules collapse to ONE struct-array row per host (config-scale), so the
    # broadcast join never multiplies candidate rows and the whole decision
    # is row-local higher-order-function work — zero shuffle of candidates
    # (the previous groupBy-by-seq re-aggregation shuffled the full wave).
    rules_per_host = robots.groupBy("host").agg(
        F.collect_list(F.struct("path_prefix", "ua", "allow")).alias("_robot_rules")
    )
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    j = df.withColumn("_path", path).join(
        F.broadcast(rules_per_host), on="host", how="left"
    )
    applicable = F.filter(
        F.col("_robot_rules"),
        lambda r: ((r["ua"] == F.lit("*")) | (r["ua"] == F.lit(ua)))
        & F.col("_path").startswith(r["path_prefix"]),
    )
    # sort desc over struct(prefix_len, ua_specific, allow): longest prefix
    # wins, then specific-UA over '*', then allow over disallow. Null rules
    # array (host without rules) propagates to null best → allowed.
    decs = F.transform(
        applicable,
        lambda r: F.struct(
            F.length(r["path_prefix"]).alias("plen"),
            (r["ua"] != F.lit("*")).cast("int").alias("spec"),
            r["allow"].alias("allow"),
        ),
    )
    best = F.get(F.sort_array(decs, asc=False), 0)
    return (
        j.withColumn("_dec", best)
        .where(F.col("_dec").isNull() | F.col("_dec.allow"))
        .select(*df.columns)
    )


def dedup_against_seen(cand: DataFrame, seen: DataFrame, spark=None) -> DataFrame:
    """F6/F7: global seen-set anti-join + intra-wave first-wins self-dedup.

    Retry rows never reach this path (re-enqueued directly with retry_count+1
    — the dedup exemption of extensions.go:293-295); hashes of admitted rows
    are appended to ``seen`` by the caller, making the table the shared
    atomic set that Redis SAdd was (manager.go:182-193). ``spark`` is
    accepted for call-site compatibility and unused.
    """
    w = Window.partitionBy("url_hash").orderBy("seq")
    cand = cand.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    return cand.join(seen.select("url_hash"), on="url_hash", how="left_anti")


_GLOB_CHECK = re.compile(r"[*?\[]")
