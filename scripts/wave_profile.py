"""Per-wave driver-floor profile: run the default bench crawl and print each
wave's phase timings from the manifest (select_wave / fetch_parse_rank /
materialize / plan_writes / write_results / metrics_write / writes) plus the
unattributed residual — the feedback loop for attacking the per-wave driver
floor. Usage:
    SPARK_GRAFT_BENCH_DEPTH=3 python scripts/wave_profile.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    from goribot_spark.session import get_spark

    spark = get_spark(app_name="goribot-wave-profile")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    crawl = bench.bench_crawl(spark)
    wall = time.time() - t0
    run_dir = os.environ.get("SPARK_GRAFT_BENCH_RUN_DIR", "/tmp/goribot_bench_run")
    with open(os.path.join(run_dir, "manifest.json")) as f:
        manifest = json.load(f)
    print(f"\n{'wave':>4} {'sched':>7} {'adm':>7} {'wall':>6}  phases")
    phase_tot: dict[str, float] = {}
    for w in manifest["waves"]:
        t = w.get("timings", {})
        total = w.get("wall_sec", 0)
        attributed = sum(t.values())
        t = dict(t, other=round(total - attributed, 2))
        for k, v in t.items():
            phase_tot[k] = phase_tot.get(k, 0) + v
        print(
            f"{w['wave']:>4} {w.get('scheduled', w.get('seeded', 0)):>7} "
            f"{w.get('admitted', 0) or 0:>7} {total:>6.2f}  "
            + " ".join(f"{k}={v}" for k, v in t.items())
        )
    print("\nphase totals:", json.dumps({k: round(v, 2) for k, v in phase_tot.items()}))
    print("crawl:", json.dumps(crawl), f"harness_wall={wall:.1f}")


if __name__ == "__main__":
    main()
