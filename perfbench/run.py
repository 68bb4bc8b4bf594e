"""Crawl benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds (or reuses) the seeded fixture and
its expected outputs under ``.perfbench/``, starts a local Spark session,
sets the engine up, crawls until the frontier drains, checks the crawl
against the reference simulator and the fixture, and prints diagnostics
followed by one JSON object on the last line. ``--trace 1`` turns on
Spark's event log, calls each layer on its own after the crawl and prints
the per-layer metrics instead of the end-to-end ones. The exit code is 0
only when the outputs are correct. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

def units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def note(kind: str, payload) -> None:
    print(f"# {kind} {json.dumps(payload, sort_keys=True)}", flush=True)


def start_spark(work: str, trace: bool):
    from goribot_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "run", "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    # the engine sizes its master and shuffle partitions from this knob
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the whole process tree
    (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from host import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(descendants()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def history(work: str) -> list[dict]:
    try:
        with open(os.path.join(work, "history.jsonl")) as f:
            return [json.loads(line) for line in f]
    except FileNotFoundError:
        return []


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="minimum crawl time to measure; whole crawls repeat until reached")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    trace = bool(args.trace)

    os.chdir(ROOT)
    sys.path.insert(1, ROOT)
    import goribot_spark  # noqa: F401  (fails fast outside a full checkout)

    import host
    import layers as tr
    import workloads as wl
    from fixture_server import FixtureServer

    work = os.path.join(ROOT, ".perfbench")
    run_root = os.path.join(work, "run")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    past = history(work)

    # load generator: host probe, fixture, expected outputs and the fixture
    # server; none of it counts as set-up
    t_gen = time.perf_counter()
    host_before = host.probe()
    fx = wl.prepare(work, w, args.seed)
    server = FixtureServer(fx) if w.live else None
    gen_s = time.perf_counter() - t_gen

    tracer = tr.Tracer()
    rss = host.PeakRss()
    with server or nullcontext():
        spark = start_spark(work, trace)
        session_s = time.perf_counter() - T_START - gen_s
        crawls, problems = [], []
        measured = 0.0
        while not crawls or measured < args.seconds:
            c = wl.run_crawl(spark, w, fx, os.path.join(run_root, f"crawl{len(crawls)}"),
                             tracer, rss, server)
            problems += wl.check(c, w, fx, server)
            crawls.append(c)
            measured += c.crawl_s
        rss.sample()
        c = crawls[-1]
        per_layer = {}
        if trace:
            per_layer.update(tr.fetch_metrics(spark, tracer, c, fx))
            per_layer.update(tr.layer_metrics(spark, tracer, c, fx, server))
            rss.sample()
        errors = sum(wl.error_rows(x) for x in crawls)
        stop_spark(spark)
    host_after = host.probe()

    med = statistics.median
    attempted = sum(r["scheduled"] for x in crawls for r in x.waves)
    failed = attempted if problems else errors
    e2e = {
        "setup_s": session_s + crawls[0].setup_s,
        "crawl_s": med(x.crawl_s for x in crawls),
        "urls_per_s": med(sum(r["scheduled"] for r in x.waves) / x.crawl_s for x in crawls),
        "images_per_s": med(sum(r["images"] for r in x.waves) / x.crawl_s for x in crawls),
        "wave_s.p50": med(wl.wave_p50(x) for x in crawls),
        "resume_s": med(x.resume_s for x in crawls),
        "cpu_s": med(x.cpu_s for x in crawls),
        "worker_rss_peak_mb": rss.worker_kb / 1024,
    }
    key = wl.fixture_key(w)
    hist = [h for h in past if h.get("key") == key and not h["trace"]]
    note("host", {
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "position": len(past) + 1, "workload": w.name, "seed": args.seed,
        "trace": args.trace, "steal_frac": round(med(x.steal_frac for x in crawls), 5),
        "probe_before": host_before, "probe_after": host_after,
        "cpus": len(os.sched_getaffinity(0)),
    })
    note("counts", {
        "crawls": len(crawls), "waves": [len(x.waves) for x in crawls],
        "scheduled": [r["scheduled"] for r in c.waves],
        "wave_s": [round(r["span_s"], 3) for r in c.waves],
        "engine_setup_s": [round(x.setup_s, 3) for x in crawls],
        "session_s": round(session_s, 3), "load_gen_s": round(gen_s, 3),
        "run_wall_s": round(time.perf_counter() - T_START, 3),
        "fail_frac": f"{failed}/{attempted}", "problems": problems,
    })
    if trace:
        jobs, tasks = tr.read_event_log(os.path.join(run_root, "eventlog"))
        crawl_span = next(s for s in tracer.spans if s.name == "crawl")
        metrics = {
            **tr.engine_metrics(c.waves),
            **tr.spark_metrics(c.waves, crawl_span, jobs, tasks),
            "jvm.rss_peak_mb": rss.jvm_kb / 1024,
            **per_layer,
        }
        for row in tr.wave_table(c.waves, jobs, tasks):
            note("phase", row)
        base = [h["crawl_s"] for h in hist]
        note("tracing_overhead", {
            "traced_crawl_s": round(e2e["crawl_s"], 3),
            "untraced_crawl_s_median": round(med(base), 3) if base else None,
            "overhead_s": round(e2e["crawl_s"] - med(base), 3) if base else None,
            "untraced_runs": len(base),
        })
        if not tr.row_cost_resolved(c.waves):
            note("unresolved", {
                "engine.row_cost_ms": f"warm waves span under {tr.FIT_MIN_RANGE} URLs; "
                                      "the value is the slope through them, and the "
                                      "floor is their median",
            })
        note("dropped", {
            "query.<name>_s": "corpus_queries is not a workload of this benchmark "
                              "(see perfbench/README.md)",
        })
        tracer.dump(os.path.join(run_root, "spans.jsonl"))
    else:
        metrics = e2e
    with open(os.path.join(work, "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": w.name, "key": key, "seed": args.seed,
                            "trace": args.trace, "crawl_s": e2e["crawl_s"],
                            "correct": not problems}) + "\n")
    for d in os.listdir(run_root):
        if d.startswith("crawl"):
            shutil.rmtree(os.path.join(run_root, d), ignore_errors=True)
    unit = units()
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
