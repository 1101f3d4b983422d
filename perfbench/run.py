"""Connector benchmark: one workload per run.

    python3 perfbench/run.py --workload axfr_snapshot --seed 1 --seconds 10 --trace 0

Runs from any working directory against the package in the checkout
that holds this file.  Everything it writes goes under
``perfbench/.work/run-<pid>/``, wiped at start and removed at exit.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics (from a traced second window) with ``--trace 1``.
Lines before it starting with ``#`` name each figure of the workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROVISION_REPS = 3
DRIVER_MEM = "2g"


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _fail(msg: str) -> int:
    print(f"run.py: {msg}", file=sys.stderr)
    return 2


def _submit_conf(work: Path, evdir: Path | None) -> None:
    """Where the session keeps its files, passed to the JVM at launch so
    that the package's own ``get_session`` builds the session."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if evdir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(evdir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits on stdin EOF)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "spark_dns_spark" / "sources" / "zonestore.py").is_file():
        return _fail(f"package spark_dns_spark not found under {ROOT}")
    sys.path[:0] = [str(ROOT)]
    from perfbench.workloads import WORKLOADS

    if args.seconds <= 0:
        return _fail("--seconds must be positive")
    if args.workload == "all":
        return _run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all")

    for stale in (BENCH / ".work").glob("run-*"):
        if stale.name[4:].isdigit() and not _alive(int(stale.name[4:])):  # a killed run's
            shutil.rmtree(stale, ignore_errors=True)
    work = BENCH / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "trace", "events"):
        (work / sub).mkdir(parents=True)
    # Python workers must import the package and the traced sources
    # whatever the working directory is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_TRACE"] = "0"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    _submit_conf(work, work / "events" if args.trace else None)
    try:
        return _run(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_all(args, names: list[str]) -> int:
    """Each workload in its own process, one after another; the result
    line sums the counts and prefixes each metric with its workload."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=False)
        lines = proc.stdout.splitlines()
        print("\n".join(line for line in lines if line.startswith("#")), flush=True)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr)
            return _fail(f"workload {name} exited with code {proc.returncode}")
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def _run(args, workload_cls, work: Path) -> int:
    from spark_dns_spark.session import get_session
    from spark_dns_spark.sources import register_all

    units = _units()
    trace = bool(args.trace)
    t = time.perf_counter()
    spark = get_session("perfbench")
    start_s = time.perf_counter() - t
    wl = None
    try:
        register_all(spark)
        wl = workload_cls(spark, str(work), args.seed)
        prov, digests = [], set()
        for rep in range(PROVISION_REPS):
            t = time.perf_counter()
            digests.add(wl.provision(rep))
            prov.append(time.perf_counter() - t)
        wl.check(len(digests) == 1, f"same seed gave {len(digests)} different input digests")
        # the first operations start Spark's Python workers and check
        # the results the timed operations are compared against
        t = time.perf_counter()
        wl.warm()
        worker_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(prov) + worker_s
        print(f"# setup parts: session {start_s:.3f} s, provision "
              f"{statistics.median(prov):.3f} s (median of {len(prov)}), "
              f"first ops {worker_s:.3f} s")

        if not trace:
            e2e = wl.measure(args.seconds)
            metrics = {"setup_s": setup_s, "latency_s": e2e["latency_s"],
                       "throughput_per_s": e2e["throughput_per_s"]}
        else:
            metrics = _traced(spark, wl, args.seconds, work)
            metrics.update({
                "session.start_s": start_s,
                "session.python_worker_warm_s": worker_s,
                "session.provision_s": statistics.median(prov),
            })
        for k, (v, unit) in wl.info.items():
            print(f"# {wl.name} {k} = {v:.6g} {unit}")
    finally:
        if wl is not None:
            wl.close()
        _stop(spark)

    if trace:
        from perfbench.sparklog import stage_metrics

        window = metrics.pop("_window")
        metrics.update(stage_metrics(str(work / "events"), *window, wl.write_tag))

    failed = len(wl.failures)
    attempted = max(wl.attempted, 1)
    print(f"# {wl.name} ops_failed_frac = {failed / attempted:.6g} "
          f"({failed} of {attempted})")
    want = set(units[trace])
    for k in sorted(want - metrics.keys()):
        print(f"# {k} missing: not produced by this run")
    extra = sorted(metrics.keys() - want)
    if extra:
        return _fail(f"metrics without a unit in BENCHMARK.json: {extra}")
    for k, v in sorted(metrics.items()):
        print(f"# {k} = {v:.6g} {units[trace][k]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[trace][k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _units() -> dict[bool, dict[str, str]]:
    """Metric name -> unit from BENCHMARK.json, keyed by ``trace``:
    the end-to-end metrics untraced, the per-layer metrics traced."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {trace: {m["name"]: m["unit"] for m in spec[key]}
            for trace, key in ((False, "end_to_end"), (True, "per_layer"))}


def _traced(spark, wl, seconds: float, work: Path) -> dict:
    """Untraced half window, then the traced half: per-layer metrics
    from the spans, the streaming progress and (after the session stops)
    the event log; the overhead is the traced window's operation time
    over the untraced one's."""
    from perfbench import spans
    from perfbench.sparklog import progress_metrics
    from spark_dns_spark.sources import register_all

    half = seconds / 2
    base = wl.measure(half)
    trace_dir = str(work / "trace")
    spark.dataSource.register(spans.TracedDnsDataSource)
    spark.dataSource.register(spans.TracedDnsUpdateDataSource)
    rec = spans.recorder(trace_dir)
    wl.trace_dir = trace_dir
    m0 = time.time()
    traced = wl.measure(half)
    m1 = time.time()
    wl.trace_dir = None
    rec.flush()
    register_all(spark)

    from bench import _calibrate  # the repo's fixed host-speed probe

    calib_s = _calibrate(spark)["sec"]
    out = spans.summarize(spans.load_spans(trace_dir), m0, m1)
    out.update(wl.layer_info())
    out.update(progress_metrics(wl.stream_progress()))
    out["host.calib_s"] = calib_s
    out["trace.overhead_frac"] = (
        traced["primary_s"] / base["primary_s"] - 1 if base["primary_s"] else 0.0)
    out["_window"] = (m0, m1)
    return out


if __name__ == "__main__":
    sys.exit(main())
