"""Per-query job/stage profile via the Spark event log.

Runs one catalog query end-to-end (the bench's consuming action) on a
fresh session with event logging enabled, then reports where the wall
clock went: each job's duration + description, each heavy stage, and —
critically — the DRIVER GAPS between jobs (plan building, driver-side
collects, py4j latency), which per-stage views never show.

Usage:
    python tools/profile_query.py [--sf /root/testdata/sf0.1] query ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

os.environ.setdefault("SPARK_GRAFT_TRACE", "0")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="spark_ev_")

    from pyspark.sql import SparkSession, functions as F

    from spark_dns_spark.session import RUNTIME_CONF, local_cpus, release_all_caches

    cpus = local_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile_query")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    for name in args.queries:
        fn = qs[name]
        # warm pass (index build + JIT), untimed — mirrors bench.py
        fn(spark, args.sf).select(F.count(F.lit(1))).collect()
        release_all_caches(spark)
        best = None
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.monotonic()
            m0 = time.time() * 1000
            df = fn(spark, args.sf)
            t_build = time.monotonic() - t0
            df.select(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(
                    F.xxhash64(*[F.col(c) for c in df.columns])
                ).alias("h"),
            ).collect()
            dt = time.monotonic() - t0
            m1 = time.time() * 1000
            release_all_caches(spark)
            if best is None or dt < best[0]:
                best = (dt, t_build, m0, m1)
        dt, t_build, m0, m1 = best
        print(f"\n=== {name}: total {dt:.3f}s (plan build {t_build:.3f}s)")
        _report_window(spark, evdir, m0, m1)
    return 0


def _report_window(spark, evdir, m0, m1) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    # the single in-progress event file
    evs = []
    paths = []
    for p in Path(evdir).rglob("*"):
        if p.is_file() and not p.name.startswith(".") and "appstatus" not in p.name:
            paths.append(p)
    for p in paths:
        with open(p) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                evs.append(e)
    jobs = {}
    stages = {}
    for e in evs:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            t = e["Submission Time"]
            if not (m0 <= t <= m1):
                continue
            jobs[e["Job ID"]] = {
                "t0": t,
                "desc": (e.get("Properties") or {}).get(
                    "spark.job.description", ""
                ),
                "n_stages": len(e.get("Stage Infos", [])),
            }
        elif ev == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            t = si.get("Submission Time")
            if t is None or not (m0 <= t <= m1):
                continue
            stages[si["Stage ID"]] = {
                "t0": t,
                "t1": si.get("Completion Time", t),
                "name": si.get("Stage Name", "")[:60],
                "n_tasks": si.get("Number of Tasks"),
            }
    order = sorted(jobs.items(), key=lambda kv: kv[1]["t0"])
    prev_end = m0
    gap_total = 0.0
    job_total = 0.0
    for jid, j in order:
        t1 = j.get("t1", j["t0"])
        gap = (j["t0"] - prev_end) / 1000
        dur = (t1 - j["t0"]) / 1000
        gap_total += max(gap, 0)
        job_total += dur
        print(
            f"  gap {gap:6.3f}s | job {jid:4d} {dur:7.3f}s "
            f"stages={j['n_stages']}"
        )
        prev_end = max(prev_end, t1)
    tail = (m1 - prev_end) / 1000
    print(
        f"  jobs {len(order)}  job_time {job_total:.3f}s  "
        f"driver_gaps {gap_total + max(tail, 0):.3f}s"
    )
    heavy = sorted(
        stages.values(), key=lambda s: s["t1"] - s["t0"], reverse=True
    )[:8]
    for s in heavy:
        print(
            f"    stage {(s['t1'] - s['t0']) / 1000:7.3f}s "
            f"tasks={s['n_tasks']:4d}  {s['name']}"
        )


if __name__ == "__main__":
    raise SystemExit(main())
