"""Hostile-driver repro harness for the correctness gate (VERDICT r10 #1).

The external driver's correctness artifact came back empty (``{}``) in
rounds 9 and 10 while our own ``tools/check_oracle.py`` run of the same
window stays green.  This tool reproduces the *hostile* conditions an
unknown external harness might impose, so the failure (if reproducible)
is caught and localized BEFORE the driver runs:

- **vanilla SparkSession** — ``SparkSession.builder.master(local[N])``
  with NO tuning: default 1g driver heap, 200 shuffle partitions until
  the catalog's own ``tune()`` kicks in, UI on;
- **subprocess isolation** — the window runs in a child process with a
  hard wall-clock timeout (parent SIGKILLs on breach) and an address-
  space rlimit on the Python side;
- **JSON written only at the end** — like a harness that buffers all
  results in memory; a crash loses everything EXCEPT the fsync'd
  ``.gate_trace.jsonl`` breadcrumbs from ``__spark_entry__`` (traced ON
  in the child precisely to exercise that trail).

The parent always writes its artifact (``--json``), recording rc /
timeout / the child's buffered results if they survived / the trace
tail showing the last query the child touched.

Usage: python tools/gate_repro.py [--json GATE_REPRO.json] [--n 50]
         [--timeout 900] [--mem-gb 24] [--sf /root/testdata/sf0.01]
         [--concurrent-bench]   # bench.py alongside, the r11 driver shape

Measured (r11): RLIMIT_AS=12GB kills the vanilla local[32] JVM — its
virtual reservations exceed that even at -Xmx1g, and every collect then
fails with ``ConnectionRefusedError`` (the breadcrumbs catch it as
per-query ``fn_error`` lines).  24GB is the lowest tested bound that
lets the JVM start; it still catches a runaway Python side.  ``--mem-gb
0`` disables the rlimit.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TRACE = REPO / ".gate_trace.jsonl"


class _NativeImportBlocker:
    """Meta-path finder that FAILS any import which would load a fresh
    native extension (``.so``/``.pyd``) — the r12 driver's observed
    kill mode was exactly this: a mid-query ``import pyarrow.dataset``
    mmap'ing ``_dataset.so`` under memory pressure ("failed to map
    segment").  Installed (``--import-hostile``) AFTER the session and
    catalog are built, it proves no query pulls in a new native library
    after warm-up — deterministic where the sandbox was flaky."""

    def find_spec(self, name, path=None, target=None):
        import importlib.machinery as m
        import sys as _s

        if name in _s.modules:
            return None
        try:
            spec = m.PathFinder.find_spec(name, path)
        except Exception:
            return None
        if spec and spec.origin and spec.origin.endswith((".so", ".pyd")):
            raise ImportError(
                f"import-hostile mode: query tried to load a NEW native "
                f"extension mid-run: {name} ({spec.origin}) — preload it "
                f"at module import time (VERDICT r12 item 5)"
            )
        return None  # pure-Python / builtin: let the normal finders run


# ---------------------------------------------------------------- child
def child_main(sf_dir: str, n: int, out_path: str,
               import_hostile: bool = False) -> int:
    """Run the first-``n`` catalog window on a vanilla session; buffer
    every result; write JSON once at the very end (hostile pattern)."""
    os.environ["SPARK_GRAFT_TRACE"] = "1"  # exercise the breadcrumbs
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod  # noqa: E402 (repo-root import)
    from spark_dns_spark.session import local_cpus
    from tools.check_oracle import (  # reuse the exact comparator
        TABLES,
        _pandas_rows,
        run_oracle_resilient,
        table_hash,
    )

    cpus = local_cpus()
    # deliberately untuned — what an external harness would build
    spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()

    import duckdb

    con = duckdb.connect()
    # Driver-shaped oracle allocator, NOT configure_duck's coexistence
    # cap: the r13 driver ran its oracles with no spill dir at a ~300MB
    # budget and killed five texts this harness called green (50/50
    # repro vs 45/50 driver — VERDICT r13 items 2-3).  Mirror the
    # starve gate (tests/test_oracle_memory.py): 256MB, spill
    # FORBIDDEN, full threads — so this artifact red-flags any oracle
    # the driver would kill.
    con.execute("SET threads=32")
    con.execute("SET memory_limit='256MB'")
    con.execute("SET temp_directory=''")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    window = list(qs)[:n]

    if import_hostile:
        # Preload what session build legitimately needs (all already in
        # sys.modules via the catalog import — q_kmeans pulls
        # pyarrow.parquet at module import; toPandas pulls pyarrow),
        # then slam the door on NEW native extensions for the run.
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow.parquet  # noqa: F401

        sys.meta_path.insert(0, _NativeImportBlocker())
        print("child: import-hostile mode ON (new native .so imports fail)")

    results: dict[str, dict] = {}  # buffered — only flushed at the end
    for name in window:
        # checked: 'oracle' = cross-engine hash ran; 'rows-only' = no
        # oracle exists, the row collect alone is the check (ADVICE
        # r11: the sentinel used to overload err and read as a
        # verified hash match in the artifact).
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "checked": "oracle", "err": None}
        try:
            sdf = qs[name](spark, sf_dir)
            scols, srows = _pandas_rows(sdf.toPandas())
            if name in oracles:
                dcols, drows = _pandas_rows(
                    run_oracle_resilient(con, oracles[name]))
                rec["rows_match"] = len(srows) == len(drows)
                rec["schema_match"] = sorted(scols) == sorted(dcols)
                rec["hash_match"] = (
                    rec["rows_match"] and rec["schema_match"]
                    and table_hash(srows, scols) == table_hash(drows, dcols))
            else:
                rec.update(rows_match=True, schema_match=True,
                           hash_match=True, checked="rows-only")
            rec["spark_rows"] = len(srows)
        except Exception as e:  # buffer the failure, keep going
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
        results[name] = rec

    Path(out_path).write_text(json.dumps(results, indent=1) + "\n")
    n_green = sum(1 for r in results.values() if r["hash_match"])
    print(f"child: {n_green}/{len(window)} green")
    return 0 if n_green == len(window) else 1


# --------------------------------------------------------------- parent
def parent_main(args) -> int:
    trace_offset = TRACE.stat().st_size if TRACE.exists() else 0
    child_out = REPO / ".gate_repro_child.json"
    child_out.unlink(missing_ok=True)

    import resource  # imported pre-fork; preexec_fn must not import

    def limit_child():  # applied in the child between fork and exec
        if args.mem_gb <= 0:
            return
        try:
            lim = args.mem_gb * (1 << 30)
            resource.setrlimit(resource.RLIMIT_AS, (lim, lim))
        except Exception:
            pass

    # --concurrent-bench reproduces the trace-proven r11 driver
    # pattern (VERDICT r11 item 6): the driver launched its bench
    # child ~7 s BEFORE its correctness child and ran both on the same
    # box, and the correctness child is the one that died.  The bench
    # child is a plain `python bench.py` (sf/cpus via env, its own
    # JVM), no rlimit — matching the real bench process.
    bench_proc = None
    bench_t0 = 0.0
    if getattr(args, "concurrent_bench", False):
        bench_env = dict(os.environ)
        bench_env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        bench_t0 = time.time()
        bench_proc = subprocess.Popen(
            [sys.executable, str(REPO / "bench.py")], cwd=str(REPO),
            env=bench_env, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True)
        time.sleep(7)  # the measured driver stagger

    cmd = [sys.executable, __file__, "--child", "--sf", args.sf,
           "--n", str(args.n), "--child-out", str(child_out)]
    if getattr(args, "import_hostile", False):
        cmd.append("--import-hostile")
    t0 = time.time()
    timed_out = False
    proc = subprocess.Popen(
        cmd, cwd=str(REPO), preexec_fn=limit_child,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=args.timeout)
    except subprocess.TimeoutExpired:
        timed_out = True
        proc.kill()
        out, _ = proc.communicate()
    wall = round(time.time() - t0, 1)

    # harvest whatever survived
    child_results = None
    if child_out.exists():
        try:
            child_results = json.loads(child_out.read_text())
        except Exception:
            pass
        child_out.unlink(missing_ok=True)
    trace_tail: list[dict] = []
    if TRACE.exists():
        with open(TRACE, "rb") as f:
            f.seek(trace_offset)
            new = f.read().decode(errors="replace").strip()
        lines = new.splitlines()
        trace_tail = [json.loads(x) for x in lines[-8:] if x.strip()]
        n_trace = len(lines)
    else:
        n_trace = 0

    bench_rec = None
    if bench_proc is not None:
        bench_timed_out = False
        try:  # the window finished; give the bench its own tail budget
            bench_out, _ = bench_proc.communicate(timeout=args.timeout)
        except subprocess.TimeoutExpired:
            bench_timed_out = True
            bench_proc.kill()
            bench_out, _ = bench_proc.communicate()
        bench_rec = {
            "rc": bench_proc.returncode,
            "timed_out": bench_timed_out,
            "wall_s": round(time.time() - bench_t0, 1),
            # bench.py's contract: ONE JSON summary line on stdout
            "summary": (bench_out or "").strip().splitlines()[-1][:400]
            if (bench_out or "").strip() else None,
        }

    n_green = (sum(1 for r in child_results.values() if r.get("hash_match"))
               if child_results else 0)
    report = {
        "rc": proc.returncode,
        "timed_out": timed_out,
        "wall_s": wall,
        "timeout_s": args.timeout,
        "mem_gb_rlimit": args.mem_gb,
        "import_hostile": bool(getattr(args, "import_hostile", False)),
        "sf": args.sf,
        "window_n": args.n,
        "concurrent_bench": bench_rec,
        "child_wrote_json": child_results is not None,
        "n_green": n_green,
        "failed": ([k for k, r in child_results.items()
                    if not r.get("hash_match")] if child_results else None),
        "trace_lines": n_trace,
        "trace_tail": trace_tail,
        "child_stdout_tail": (out or "")[-1500:],
    }
    if args.json:
        Path(args.json).write_text(json.dumps(report, indent=2) + "\n")
        print(f"wrote {args.json}")
    verdict = ("GREEN" if (not timed_out and child_results is not None
                           and n_green == args.n) else "NOT-GREEN")
    print(f"gate_repro: {verdict} rc={proc.returncode} timed_out={timed_out} "
          f"wall={wall}s green={n_green}/{args.n} "
          f"json_survived={child_results is not None}")
    if trace_tail:
        print("last breadcrumbs:",
              " | ".join(f"{t.get('phase')}:{t.get('name', '')}"
                         for t in trace_tail[-4:]))
    return 0 if verdict == "GREEN" else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--child-out", default="")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    # default resolved AFTER parse: importing the catalog pulls in
    # pyspark, which the lightweight parent (fork + rlimit only)
    # should not pay for --help or bad-args paths (review r14)
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument("--timeout", type=int, default=900)
    ap.add_argument("--mem-gb", type=int, default=24)
    ap.add_argument("--concurrent-bench", action="store_true",
                    help="run `python bench.py` alongside the window "
                         "(the r11 driver's trace-proven scheduling)")
    ap.add_argument("--import-hostile", action="store_true",
                    help="after session+catalog build, fail any import "
                         "that would load a NEW native .so (the r12 "
                         "driver sandbox's observed kill mode)")
    ap.add_argument("--json", default="")
    a = ap.parse_args()
    if a.n is None:
        from spark_dns_spark.plans.catalog import DRIVER_WINDOW_N

        a.n = DRIVER_WINDOW_N
    if a.child:
        sys.exit(child_main(a.sf, a.n, a.child_out,
                            import_hostile=a.import_hostile))
    sys.exit(parent_main(a))
