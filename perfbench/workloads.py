"""The three connector workloads.

Each workload provisions its inputs from the seed, runs its operations
for a given number of seconds and returns its end-to-end figures, then
checks every result against the generator's truth outside the timed
region.  Every operation and every check is counted in ``attempted``;
a failed operation or a mismatch is counted in ``failed`` and printed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import zlib
from collections import Counter
from contextlib import contextmanager, nullcontext

from pyspark.sql import functions as F

from perfbench import gen
from perfbench import spans
from perfbench.responder import Responder
from spark_dns_spark.sources.dns_sink import send_updates
from spark_dns_spark.sources.zonestore import ZoneStore

STABLE_COLS = ("action", "fqdn", "ip", "organization", "zone")

ORG = "Bench Org"
#: untimed rounds before timing: the first operation starts the Python
#: workers, and with one round the timed operations still speed up by 10-30 %
WARM_ROUNDS = 2


#: timed rounds every measurement runs, however slow the host: a median
#: of one sample made single slow operations decide a run's figures
MIN_ROUNDS = 2


def _rounds(seconds: float):
    """Yield at least ``MIN_ROUNDS`` rounds, then more while the next one,
    at the mean round time so far, would end no more than half a round
    past ``seconds``."""
    start = time.perf_counter()
    n = 0
    while True:
        yield
        n += 1
        elapsed = time.perf_counter() - start
        if n >= MIN_ROUNDS and elapsed + 0.5 * elapsed / n > seconds:
            return


class Workload:
    name = ""
    #: job-description prefix of sink passes (event-log stage split)
    write_tag: str | None = None

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.trace_dir: str | None = None  # set for the traced window
        self.attempted = 0
        self.failures: list[str] = []
        self.ops = 0
        #: the workload's own figures, printed before the result: name -> (value, unit)
        self.info: dict[str, tuple[float, str]] = {}

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"# FAILED {self.name}: {msg}", file=sys.stderr)

    def check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(msg)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def op_id(self, kind: str) -> str:
        self.ops += 1
        desc = f"bench:{self.name}:{kind}:{self.ops}"
        self.spark.sparkContext.setJobDescription(desc)
        if self.trace_dir:
            spans.recorder(self.trace_dir).op = desc
        return desc

    @contextmanager
    def timed(self, kind: str):
        """One timed operation: yields its description (the job
        description and span operation id) and a dict whose ``s`` is the
        wall time once the block ends; traced, the operation is a span."""
        desc = self.op_id(kind)
        out = {"desc": desc}
        rec = spans.recorder(self.trace_dir) if self.trace_dir else None
        with rec.span(f"bench.{kind}") if rec else nullcontext():
            t0 = time.perf_counter()
            yield out
            out["s"] = time.perf_counter() - t0

    def src_opts(self, desc: str) -> dict:
        """Options that route a traced data source's spans; none when untraced."""
        if not self.trace_dir:
            return {}
        return {spans.OPT_DIR: self.trace_dir, spans.OPT_OP: desc}

    def close(self) -> None:
        pass

    def stream_progress(self) -> list:
        """``recentProgress`` of the live stream phase the ``stream.*``
        trigger metrics are taken from; empty when no stream runs."""
        return []

    def layer_info(self) -> dict:
        """Workload-side per-layer figures; every workload reports every
        key, zero where its layer does not run."""
        return {"stream.generator_late_s": 0.0, "stream.lag_p90_s": 0.0,
                "stream.catchup_batches": 0, "stream.catchup_rows_per_batch": 0.0,
                "changelog.dedup.rows_in": 0, "changelog.dedup.rows_out": 0}


def _fingerprint(rows) -> tuple[int, int]:
    """(count, sum of crc32 over "|"-joined stable columns): the same
    multiset fingerprint ``_consume`` computes inside Spark."""
    rows = list(rows)
    return len(rows), sum(zlib.crc32("|".join(r).encode()) for r in rows)


def _consume(df) -> tuple[int, int, object, object]:
    """Read every row: count, the crc32 fingerprint of the stable
    columns, and the timestamp column (one transfer time per read)."""
    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.crc32(F.concat_ws("|", *STABLE_COLS))),
        F.min("timestamp"),
        F.max("timestamp"),
    ).collect()[0]
    return int(r[0]), int(r[1] or 0), r[2], r[3]


class AxfrSnapshot(Workload):
    """Zones sharing one head serial, skewed live sizes; alternating
    full AXFR reads (``zones`` named) and a batch IXFR from
    ``head - TAIL`` (zones listed from the store).  In a traced window,
    one short :class:`StreamProbe` query over a copy of the store
    follows the timed reads so that the per-trigger layers are traced;
    it is checked but not timed."""

    name = "axfr_snapshot"
    ZONES, HEAD, MEDIAN_LIVE, TAIL = 4, 20_000, 4_000, 50
    STREAM_CAP, STREAM_MSGS = 25, 4

    def provision(self, rep: int) -> str:
        self.root = self.fresh_dir(f"store-{rep}")
        self.models = gen.zone_store(self.seed, self.ZONES, self.HEAD,
                                     self.MEDIAN_LIVE, "axfr.bench")
        gen.write_store(self.root, self.models)
        self.zones_csv = ",".join(m.zone for m in self.models)
        cut = self.HEAD - self.TAIL
        self.expect = {
            "axfr": _fingerprint(("AXFR", f, ip, ORG, m.zone)
                                 for m in self.models for f, ip in m.live),
            "ixfr": _fingerprint((a, f, ip, ORG, m.zone) for m in self.models
                                 for s, a, f, ip in m.journal if s > cut),
        }
        stream_root = os.path.join(self.work, f"stream-store-{rep}")
        shutil.rmtree(stream_root, ignore_errors=True)
        shutil.copytree(self.root, stream_root)
        self.probe = StreamProbe(self, stream_root, self.models, self.HEAD,
                                 self.TAIL, self.STREAM_CAP)
        return gen.store_digest(self.root)

    def _reader(self, desc: str, **opts):
        r = (self.spark.read.format("dns").option("store", self.root)
             .option("organization", ORG))
        for k, v in {**self.src_opts(desc), **opts}.items():
            r = r.option(k, v)
        return r.load()

    def _axfr(self, desc: str = ""):
        return self._reader(desc, xfr="axfr", zones=self.zones_csv)

    def _ixfr(self, desc: str = ""):
        return self._reader(desc, serial=str(self.HEAD - self.TAIL))

    def _timed(self, kind: str, make_df) -> tuple[float, tuple]:
        with self.timed(kind) as op:
            res = _consume(make_df(op["desc"]))
        return op["s"], res

    def warm(self) -> None:
        """Untimed, checked reads: they start the Python workers and run
        until read times settle."""
        times = []
        for _ in range(WARM_ROUNDS):
            for kind, make in (("axfr", self._axfr), ("ixfr", self._ixfr)):
                self.attempted += 1
                dt, res = self._timed(f"warm-{kind}", make)
                self._check_read(kind, res)
                times.append(dt)
        _samples("warm-up read s", times)

    def _check_read(self, kind: str, res) -> bool:
        want = self.expect[kind]
        if res[:2] != want or res[2] != res[3]:
            self.fail(f"{kind} read gave count/fingerprint {res[:2]}, generator "
                      f"says {want}; transfer times {res[2]}..{res[3]}")
            return False
        return True

    def measure(self, seconds: float) -> dict:
        axfr, ixfr = [], []
        for _ in _rounds(seconds):
            for kind, make, times in (("axfr", self._axfr, axfr),
                                      ("ixfr", self._ixfr, ixfr)):
                self.attempted += 1
                try:
                    dt, res = self._timed(kind, make)
                except Exception as exc:  # noqa: BLE001 — counted, run continues
                    self.fail(f"{kind} read raised {type(exc).__name__}: {exc}")
                    continue
                if self._check_read(kind, res):
                    times.append(dt)
        _samples("axfr read s", axfr)
        _samples("ixfr read s", ixfr)
        n_rows = self.expect["axfr"][0]
        rate = _median([n_rows / t for t in axfr])
        self.info.update({
            "axfr_rows_per_s": (rate, "rows/s"),
            "ixfr_tail_read_s": (_median(ixfr), "s"),
            "axfr_reads": (len(axfr), "count"),
            "ixfr_reads": (len(ixfr), "count"),
        })
        if self.trace_dir:
            catchup = self.probe.run(self.STREAM_MSGS)
            self.info.update({
                "stream_catchup_changes_per_s": (catchup, "changes/s"),
                "stream_lag_p50_s": (_median(self.probe.lags), "s"),
            })
        return {"throughput_per_s": rate, "latency_s": _median(ixfr),
                "primary_s": _median(axfr)}

    def stream_progress(self) -> list:
        return self.probe.progress["live"]

    def layer_info(self) -> dict:
        return {**super().layer_info(), **self.probe.layer_info()}


class StreamProbe:
    """One ``readStream.format("dns")`` query without ``zones`` over a
    store per :meth:`run`.  The query starts ``backlog`` serials behind
    the head with ``max-changes-per-batch`` and drains that backlog
    (catch-up), then follows an open-loop update generator (live).

    Shares (and advances) the caller's zone models: the generator draws
    its deletes and re-adds from their live sets."""

    RATE, PER_MSG = 4.0, 16            # live: messages per second, changes each
    IDLE_S = 1.0                       # between catch-up and live: polls that find nothing
    DRAIN_TIMEOUT = 60.0

    def __init__(self, wl: Workload, root: str, models: list, head: int,
                 backlog: int, cap: int):
        self.wl, self.root, self.models, self.cap = wl, root, models, cap
        self.start_serial = head - backlog
        # per zone: every change past the catch-up start, in serial order
        self.tail = {m.zone: [(a, f, ip) for s, a, f, ip in m.journal
                              if s > self.start_serial] for m in models}
        self.n_msgs = 0
        self.progress: dict[str, list] = {"catchup": [], "live": []}  # of the last query
        self.catchup_batches: list[int] = []
        self.late: list[float] = []
        self.lags: list[float] = []

    def _start(self, batches: list, cond):
        """Start the measured query; each micro-batch's rows and
        completion time are appended to ``batches``."""
        def on_batch(df, batch_id):
            rows = [tuple(r) for r in df.select("zone", "action", "fqdn", "ip").collect()]
            with cond:
                batches.append((batch_id, time.time(), rows))
                cond.notify_all()

        desc = self.wl.op_id("query")
        ckpt = self.wl.fresh_dir(f"ckpt-{self.wl.ops}")
        r = (self.wl.spark.readStream.format("dns").option("store", self.root)
             .option("progress-dir", os.path.join(ckpt, "dns-progress"))
             .option("serial", str(self.start_serial))
             .option("max-changes-per-batch", str(self.cap)))
        for k, v in self.wl.src_opts(desc).items():
            r = r.option(k, v)
        return (r.load().writeStream.foreachBatch(on_batch)
                .option("checkpointLocation", os.path.join(ckpt, "spark"))
                .start())

    def _drain(self, q, batches, cond, want: int) -> bool:
        deadline = time.time() + self.DRAIN_TIMEOUT
        with cond:
            while sum(len(b[2]) for b in batches) < want:
                if q.exception() is not None or time.time() > deadline:
                    return False
                cond.wait(0.05)
        return True

    @staticmethod
    def _by_zone(batches) -> dict[str, list]:
        out: dict[str, list] = {}
        for _, _, rows in sorted(batches):
            for zone, a, f, ip in rows:
                out.setdefault(zone, []).append((a, f, ip))
        return out

    def run(self, n_msgs: int) -> float:
        """Catch-up rate (changes over the summed trigger time of the
        catch-up batches after the first); the live phase's per-message
        lags are left in ``self.lags``."""
        wl = self.wl
        msgs = gen.update_messages(self.models, n_msgs + 1, self.PER_MSG,
                                   wl.seed + 1 + self.n_msgs)
        self.n_msgs += len(msgs)
        batches: list = []
        cond = threading.Condition()
        backlog = sum(len(v) for v in self.tail.values())
        n_catchup = 0
        q = self._start(batches, cond)
        try:
            ok = self._drain(q, batches, cond, backlog)
            n_catchup = len(batches)
            time.sleep(self.IDLE_S)
            # live: one sync message (the query polls again), then the
            # scheduled messages, applied on time however the query keeps up
            store = ZoneStore(self.root)
            due, applied = [], []
            t_start = time.time()
            for k, (zone, changes) in enumerate(msgs):
                due.append(t_start if k == 0 else t_sched + (k - 1) / self.RATE)
                delay = due[k] - time.time()
                if delay > 0:
                    time.sleep(delay)
                applied.append(time.time())
                store.apply_update(zone, changes)
                self.tail[zone].extend(changes)
                if k == 0:
                    ok = ok and self._drain(q, batches, cond, backlog + len(changes))
                    t_sched = time.time()
            ok = ok and self._drain(q, batches, cond, backlog + self.PER_MSG * len(msgs))
        finally:
            prog = [json.loads(p.json) for p in q.recentProgress]
            self.progress = {
                "catchup": [p for p in prog if p["batchId"] < n_catchup],
                "live": [p for p in prog if p["batchId"] >= n_catchup]}
            exc = q.exception()
            q.stop()
        if exc is not None:
            wl.fail(f"stream query failed: {exc}")
        # the query's first batch also pays its start-up (initial
        # offsets, first plan), so the rate is taken over the batches after it
        steady = sorted(self.progress["catchup"], key=lambda p: p["batchId"])[1:]
        trigger_ms = [p["durationMs"].get("triggerExecution", 0) for p in steady]
        _samples("catch-up trigger ms", trigger_ms)
        rows = sum(p["numInputRows"] for p in steady)
        rate = rows / (sum(trigger_ms) / 1000) if ok and sum(trigger_ms) else 0.0
        wl.attempted += len(msgs) - 1
        wl.check(ok and self._by_zone(batches) == self.tail,
                 "stream delivery differs from the applied journal "
                 "(lost, duplicated or reordered changes)")
        self.catchup_batches = [len(b[2]) for b in sorted(batches)[:n_catchup] if b[2]]
        self.late = [a - d for a, d in zip(applied[1:], due[1:])]
        self.lags = []
        if not ok:
            return rate
        # per zone: (changes delivered so far, completion time) per batch
        seen: Counter = Counter()
        ends: dict[str, list] = {z: [] for z in self.tail}
        for _, t, rows in sorted(batches):
            for zone, *_ in rows:
                seen[zone] += 1
            for z in ends:
                ends[z].append((seen[z], t))
        pos: Counter = Counter({z: len(v) for z, v in self.tail.items()})
        for zone, changes in msgs:
            pos[zone] -= len(changes)
        for k, (zone, changes) in enumerate(msgs):
            pos[zone] += len(changes)
            t_done = next(t for n, t in ends[zone] if n >= pos[zone])
            if k:
                self.lags.append(t_done - due[k])
        _samples("stream lag s", self.lags)
        return rate

    def layer_info(self) -> dict:
        return {"stream.generator_late_s": _median(self.late),
                "stream.lag_p90_s": _quantile(self.lags, 0.9),
                "stream.catchup_batches": len(self.catchup_batches),
                "stream.catchup_rows_per_batch": _median(self.catchup_batches)}


class IxfrStream(Workload):
    """8 zones with 10k-entry journals, one :class:`StreamProbe` query
    per measurement with a live phase over 60 % of the run."""

    name = "ixfr_stream"
    ZONES, HEAD, MEDIAN_LIVE = 8, 10_000, 2_400
    BACKLOG, CAP = 500, 125            # catch-up: changes per zone, per-batch cap
    LIVE_SHARE = 0.6                   # share of the run given to the live phase

    def provision(self, rep: int) -> str:
        self.root = self.fresh_dir(f"store-{rep}")
        self.models = gen.zone_store(self.seed, self.ZONES, self.HEAD,
                                     self.MEDIAN_LIVE, "stream.bench")
        gen.write_store(self.root, self.models)
        self.last_change = {m.zone: m.journal[-1][1:] for m in self.models}
        self.probe = StreamProbe(self, self.root, self.models, self.HEAD,
                                 self.BACKLOG, self.CAP)
        return gen.store_digest(self.root)

    def warm(self) -> None:
        """A batch IXFR of each zone's last serial: starts the Python
        workers the stream's reads run in."""
        desc = self.op_id("first-ixfr")
        rows = (self.spark.read.format("dns").option("store", self.root)
                .option("serial", str(self.HEAD - 1)).options(**self.src_opts(desc))
                .load().select("zone", "action", "fqdn", "ip").collect())
        got = {z: (a, f, ip) for z, a, f, ip in rows}
        self.check(len(rows) == self.ZONES and got == self.last_change,
                   f"IXFR of the last serial gave {len(rows)} rows, want one per zone")

    def measure(self, seconds: float) -> dict:
        rate = self.probe.run(max(4, int(seconds * self.LIVE_SHARE * self.probe.RATE)))
        lags = self.probe.lags
        self.info.update({
            "stream_lag_p50_s": (_median(lags), "s"),
            "stream_lag_p90_s": (_quantile(lags, 0.9), "s"),
            "stream_lag_samples": (len(lags), "count"),
            "stream_catchup_changes_per_s": (rate, "changes/s"),
            "stream_generator_late_s": (_median(self.probe.late), "s"),
        })
        return {"latency_s": _median(lags), "throughput_per_s": rate,
                "primary_s": _median(lags)}

    def stream_progress(self) -> list:
        return self.probe.progress["live"]

    def layer_info(self) -> dict:
        return {**super().layer_info(), **self.probe.layer_info()}


def _quantile(vals: list[float], q: float) -> float:
    """Nearest-rank quantile; 0.0 when nothing was measured."""
    s = sorted(vals)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def _samples(what: str, vals: list[float]) -> None:
    print(f"# samples {what}: " + " ".join(f"{v:.3f}" for v in vals), file=sys.stderr)


class DdnsUpdate(Workload):
    """A seeded update feed over 8 zones, written with ``send_updates``
    in alternating passes to the file store and to a loopback RFC 2136
    responder; every pass must leave the latest-wins state."""

    name = "ddns_update"
    write_tag = "bench:ddns_update:pass"
    ZONES, ROWS, KEYS_PER_ZONE = 8, 6_000, 600

    def provision(self, rep: int) -> str:
        base = self.fresh_dir(f"feed-{rep}")
        self.zones = [f"z{i:02d}.ddns.bench." for i in range(self.ZONES)]
        self.feed = os.path.join(base, "feed.parquet")
        self.initial = gen.update_feed(self.seed, self.zones, self.ROWS,
                                       self.KEYS_PER_ZONE, self.feed)
        self.pristine = os.path.join(base, "pristine")
        store = ZoneStore(self.pristine)
        for z in self.zones:
            store.create_zone(z, records=sorted(self.initial[z]), serial=1)
        self.store = os.path.join(base, "store")
        self.expect = gen.latest_wins_state(self.feed, self.initial)
        h = hashlib.sha256()
        with open(self.feed, "rb") as f:
            h.update(f.read())
        h.update(gen.store_digest(self.pristine).encode())
        return h.hexdigest()

    def _pass(self, transport: str) -> float:
        if transport == "store":
            shutil.rmtree(self.store, ignore_errors=True)
            shutil.copytree(self.pristine, self.store)
            opts = {"transport": "store"}
            target = self.store
        else:
            self.responder.reset(self.initial)
            opts = {"transport": "wire", "port": self.responder.port, "timeout": 60}
            target = "127.0.0.1"
        with self.timed(f"pass-{transport}") as op:
            opts.update(self.src_opts(op["desc"]))
            send_updates(self.spark.read.parquet(self.feed), target, **opts)
        return op["s"]

    def _state(self, transport: str) -> dict[str, set]:
        if transport == "wire":
            return self.responder.snapshot()
        store = ZoneStore(self.store)
        return {z: {(f, ip) for _, f, ip in store.axfr(z).rows} for z in self.zones}

    def _verified_pass(self, transport: str) -> float | None:
        self.attempted += 1
        try:
            dt = self._pass(transport)
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            self.fail(f"{transport} pass raised {type(exc).__name__}: {exc}")
            return None
        self.op_id(f"check-{transport}")
        got = self._state(transport)
        bad = [z for z in self.zones if got.get(z) != self.expect[z]]
        self.check(not bad, f"{transport} pass left {len(bad)} zones off the latest-wins state")
        return dt

    def warm(self) -> None:
        """Untimed, checked passes per transport: they start the Python
        workers and run until pass times settle."""
        self.responder = Responder(self.initial)
        times = []
        for _ in range(WARM_ROUNDS):
            times += [self._verified_pass("store"), self._verified_pass("wire")]
        _samples("warm-up pass s", [t for t in times if t is not None])

    def measure(self, seconds: float) -> dict:
        times = {"store": [], "wire": []}
        for _ in _rounds(seconds):
            for transport in ("store", "wire"):
                dt = self._verified_pass(transport)
                if dt is not None:
                    times[transport].append(dt)
        _samples("store pass s", times["store"])
        _samples("wire pass s", times["wire"])
        store_rate = _median([self.ROWS / t for t in times["store"]])
        self.info.update({
            "sink_store_changes_per_s": (store_rate, "rows/s"),
            "sink_wire_changes_per_s": (
                _median([self.ROWS / t for t in times["wire"]]), "rows/s"),
            "store_passes": (len(times["store"]), "count"),
            "wire_passes": (len(times["wire"]), "count"),
            # what the responder received in the last wire pass
            "wire_messages_per_pass": (self.responder.messages, "count"),
            "wire_bytes_per_pass": (self.responder.bytes, "B"),
        })
        return {"throughput_per_s": store_rate,
                "latency_s": _median(times["wire"]),
                "primary_s": _median(times["store"] + times["wire"])}

    def layer_info(self) -> dict:
        from spark_dns_spark.operators.changelog import dedup_updates_for_send

        out = super().layer_info()
        df = self.spark.read.parquet(self.feed)
        out["changelog.dedup.rows_in"] = self.ROWS
        out["changelog.dedup.rows_out"] = dedup_updates_for_send(
            df, tiebreak=["event_id"]).count()
        return out

    def close(self) -> None:
        if getattr(self, "responder", None) is not None:
            self.responder.close()


WORKLOADS = {w.name: w for w in (AxfrSnapshot, IxfrStream, DdnsUpdate)}
