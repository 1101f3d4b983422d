"""Span capture for the traced run.

Spans are recorded at the boundaries of the package's public calls,
from the benchmark's side: the ``ZoneStore`` and ``FileStoreTransport``
methods, the RFC 2136 encoder and sender, and the ``dns`` /
``dns_update`` reader and writer entry points.  The reader and writer
run inside Spark's Python workers, so the benchmark registers its own
subclasses of the two data sources (traced run only); they install the
wrappers in whichever process they land in and append that process's
spans to ``<trace_dir>/spans-<pid>.jsonl`` at the end of each call.

A span is one JSON object: name, start (epoch s), duration, id, parent
id, the operation id of the workload step that caused it, and counts.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from spark_dns_spark.sources import dns_sink, dns_source, transport, update_wire, zonestore

#: option keys carried by the traced data sources; the package ignores them
OPT_DIR, OPT_OP = "bench-trace-dir", "bench-op"


class Recorder:
    """In-memory spans of one process, written out on :meth:`flush`."""

    def __init__(self, trace_dir: str):
        self.trace_dir = trace_dir
        self.spans: list[dict] = []
        self.op = ""
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, **counts):
        with self._lock:
            self._next += 1
            sid = f"{os.getpid()}-{self._next}"
        stack = self._stack()
        rec = {"name": name, "id": sid, "parent": stack[-1]["id"] if stack else None,
               "op": self.op, "t0": time.time(), **counts}
        start = time.perf_counter()
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["dur"] = time.perf_counter() - start
            with self._lock:
                self.spans.append(rec)

    def flush(self) -> None:
        with self._lock:
            out, self.spans = self.spans, []
        if out:
            path = os.path.join(self.trace_dir, f"spans-{os.getpid()}.jsonl")
            with open(path, "a") as f:
                f.writelines(json.dumps(s) + "\n" for s in out)


_RECORDER: Recorder | None = None  # one per process: workers have no other owner


def recorder(trace_dir: str) -> Recorder:
    """The process's recorder, installing the call wrappers on first use."""
    global _RECORDER
    if _RECORDER is None:
        _RECORDER = Recorder(trace_dir)
        _install(_RECORDER)
    return _RECORDER


def _wrap(owner, attr: str, name: str, counts=None) -> None:
    orig = getattr(owner, attr)

    def traced(*args, **kwargs):
        with _RECORDER.span(name) as rec:
            out = orig(*args, **kwargs)
            if counts is not None:
                rec.update(counts(args, out))
            return out

    traced.__wrapped__ = orig
    setattr(owner, attr, traced)


class _CountingJson:
    """Stands in for the ``json`` module inside ``zonestore``: every
    zone-file parse becomes a span with its byte count and, for zone
    files, the journal length it had to load."""

    def __getattr__(self, attr):
        return getattr(json, attr)

    @staticmethod
    def load(f):
        with _RECORDER.span("zonestore.json_load") as rec:
            data = f.read()
            obj = json.loads(data)
            rec["bytes"] = len(data)
            if isinstance(obj, dict) and "history" in obj:
                rec["journal"] = len(obj["history"])
            return obj


def _install(r: Recorder) -> None:
    zs = zonestore.ZoneStore
    for call in ("zones", "serial", "axfr", "snapshot_at", "check_connect"):
        _wrap(zs, call, f"zonestore.{call}")
    _wrap(zs, "ixfr", "zonestore.ixfr",
          lambda args, out: {"rows": len(out.rows)})
    _wrap(zs, "apply_update", "zonestore.apply_update",
          lambda args, out: {"changes": len(args[2])})
    zonestore.json = _CountingJson()
    _wrap(transport.FileStoreTransport, "transfer", "transport.transfer",
          lambda args, out: {"rows": len(out.rows)})
    _wrap(update_wire, "encode_update_message", "update_wire.encode",
          lambda args, out: {"bytes": len(out)})
    _wrap(update_wire, "send_update", "update_wire.send",
          lambda args, out: {"changes": len(args[4])})


# -- traced data sources ------------------------------------------------

def _setup(options) -> Recorder:
    r = recorder(options[OPT_DIR])
    r.op = options.get(OPT_OP, "")
    return r


def _traced_rows(r: Recorder, rows, name: str, **counts):
    """Consume ``rows`` inside one span, counting them; flush at the end."""
    try:
        with r.span(name, **counts) as rec:
            n = 0
            for row in rows:
                n += 1
                yield row
            rec["rows"] = n
    finally:
        r.flush()


class TracedBatchReader(dns_source.DnsBatchReader):
    def __init__(self, options: dict):
        super().__init__(options)
        self._raw = dict(options)

    def partitions(self):
        r = _setup(self._raw)
        try:
            with r.span("dns_source.partitions") as rec:
                parts = super().partitions()
                rec["parts"] = len(parts)
            return parts
        finally:
            r.flush()

    def read(self, partition):
        r = _setup(self._raw)
        yield from _traced_rows(r, super().read(partition), "dns_source.read",
                                zone=partition.zone)


class TracedStreamReader(dns_source.DnsStreamReader):
    def __init__(self, options: dict):
        super().__init__(options)
        self._raw = dict(options)
        self._last: dict | None = None

    def _call(self, name: str, fn, *args, **counts):
        r = _setup(self._raw)
        try:
            with r.span(name, **counts) as rec:
                out = fn(*args)
                if name == "dns_source.latest_offset":
                    rec["empty"] = out == self._last
                    self._last = out
                return out
        finally:
            r.flush()

    def latestOffset(self):
        return self._call("dns_source.latest_offset", super().latestOffset)

    def partitions(self, start, end):
        return self._call("dns_source.partitions", super().partitions, start, end)

    def commit(self, end):
        return self._call("dns_source.commit", super().commit, end)

    def read(self, partition):
        r = _setup(self._raw)
        yield from _traced_rows(r, super().read(partition), "dns_source.read",
                                zone=partition.zone)


class TracedDnsDataSource(dns_source.DnsDataSource):
    def reader(self, schema):
        self._check_schema(schema)
        opts = self._resolved_options()
        _setup(opts).flush()
        return TracedBatchReader(opts)

    def streamReader(self, schema):
        self._check_schema(schema)
        opts = self._resolved_options()
        _setup(opts).flush()
        return TracedStreamReader(opts)


class TracedUpdateWriter(dns_sink.DnsUpdateWriter):
    def __init__(self, options: dict):
        super().__init__(options)
        self._raw = dict(options)

    def write(self, iterator):
        r = _setup(self._raw)
        try:
            with r.span("dns_sink.write") as rec:
                counter = {"n": 0}

                def rows():
                    for row in iterator:
                        counter["n"] += 1
                        yield row

                msg = super().write(rows())
                rec["rows"] = counter["n"]
                rec["changes"] = msg.n_changes
            return msg
        finally:
            r.flush()

    def commit(self, messages):
        r = _setup(self._raw)
        try:
            with r.span("dns_sink.commit",
                        changes=sum(m.n_changes for m in messages if m is not None)):
                return super().commit(messages)
        finally:
            r.flush()


class TracedDnsUpdateDataSource(dns_sink.DnsUpdateDataSource):
    def writer(self, schema, overwrite):
        opts = self._resolved_options()
        _setup(opts).flush()
        return TracedUpdateWriter(opts)


def load_spans(trace_dir: str) -> list[dict]:
    out = []
    for fn in sorted(os.listdir(trace_dir)):
        if fn.startswith("spans-"):
            with open(os.path.join(trace_dir, fn)) as f:
                out.extend(json.loads(line) for line in f if line.strip())
    return out


def summarize(spans: list[dict], t0: float, t1: float) -> dict:
    """Per-layer metrics from the spans that started in [t0, t1],
    leaving out the benchmark's own result checks."""
    spans = [s for s in spans if t0 <= s["t0"] <= t1 and ":check-" not in s["op"]]
    by_id = {s["id"]: s for s in spans}
    named: dict[str, list[dict]] = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def busy(name):
        return sum(s["dur"] for s in named.get(name, []))

    def calls(name):
        return len(named.get(name, []))

    def total(name, key):
        return sum(s.get(key, 0) for s in named.get(name, []))

    def child_time(parent_name, child_names):
        out = 0.0
        for s in spans:
            p = by_id.get(s["parent"])
            if s["name"] in child_names and p is not None and p["name"] == parent_name:
                out += s["dur"]
        return out

    def under(s, name):
        while s is not None:
            if s["name"] == name:
                return True
            s = by_id.get(s["parent"])
        return False

    transfers = calls("transport.transfer")
    read_parses = sum(1 for s in named.get("zonestore.json_load", [])
                      if under(s, "dns_source.read"))
    journal = 0
    for s in named.get("zonestore.json_load", []):
        p = by_id.get(s["parent"])
        if p is not None and p["name"] == "zonestore.ixfr":
            journal += s.get("journal", 0)
    offsets = named.get("dns_source.latest_offset", [])

    def wall_share(op_names, child):
        """Longest ``child`` span of each operation (the partition that
        sets its wall time) summed over the operations, over their
        summed wall time: the share not spent in fixed per-job costs."""
        ops = [s for n in op_names for s in named.get(n, [])]
        longest: dict[str, float] = {}
        for s in named.get(child, []):
            longest[s["op"]] = max(longest.get(s["op"], 0.0), s["dur"])
        wall = sum(o["dur"] for o in ops)
        return sum(longest.get(o["op"], 0.0) for o in ops) / wall if wall else 0.0

    out = {
        "zonestore.zones.calls": calls("zonestore.zones"),
        "zonestore.zones.busy_s": busy("zonestore.zones"),
        "zonestore.serial.calls": calls("zonestore.serial"),
        "zonestore.serial.busy_s": busy("zonestore.serial"),
        "zonestore.axfr.busy_s": busy("zonestore.axfr"),
        "zonestore.json_bytes_parsed": total("zonestore.json_load", "bytes"),
        "zonestore.parses_per_transfer": read_parses / transfers if transfers else 0.0,
        "zonestore.ixfr.busy_s": busy("zonestore.ixfr"),
        "zonestore.ixfr.rows_per_journal_entry":
            total("zonestore.ixfr", "rows") / journal if journal else 0.0,
        "zonestore.apply_update.calls": calls("zonestore.apply_update"),
        "zonestore.apply_update.busy_s": busy("zonestore.apply_update"),
        "transport.transfer.calls": transfers,
        "transport.transfer.busy_s": busy("transport.transfer"),
        "dns_source.partitions.busy_s": busy("dns_source.partitions"),
        "dns_source.read.self_s": busy("dns_source.read")
            - child_time("dns_source.read", {"transport.transfer"}),
        "dns_source.read.rows": total("dns_source.read", "rows"),
        "dns_source.read.wall_share": wall_share(["bench.axfr"], "dns_source.read"),
        "dns_source.latest_offset.calls": len(offsets),
        "dns_source.latest_offset.busy_s": busy("dns_source.latest_offset"),
        "dns_source.commit.busy_s": busy("dns_source.commit"),
        "dns_source.empty_trigger_frac":
            sum(1 for s in offsets if s.get("empty")) / len(offsets) if offsets else 0.0,
        "dns_sink.write.calls": calls("dns_sink.write"),
        "dns_sink.write.self_s": busy("dns_sink.write") - child_time(
            "dns_sink.write", {"zonestore.apply_update", "update_wire.send",
                               "zonestore.check_connect"}),
        "dns_sink.write.rows_in": total("dns_sink.write", "rows"),
        "dns_sink.write.wall_share": wall_share(
            ["bench.pass-store", "bench.pass-wire"], "dns_sink.write"),
        "dns_sink.changes_applied": total("dns_sink.commit", "changes"),
        "update_wire.encode.busy_s": busy("update_wire.encode"),
        "update_wire.messages": calls("update_wire.encode"),
        "update_wire.bytes": total("update_wire.encode", "bytes"),
        "update_wire.round_trip_s": busy("update_wire.send") - busy("update_wire.encode"),
    }
    return out
