"""Streaming source tests — replicate the reference's streaming matrix
(DnsSourceRelationProviderTest.java:138-147, 203-226): Trigger.Once
style runs, resume from checkpoint, and the exactly-once assertion
(groupBy(action,fqdn,ip,organization,zone).count() all == 1 across a
run → update → resume sequence).
"""

from __future__ import annotations

import ast

import pytest

from pyspark.sql import functions as F

from spark_dns_spark.sources import register_all
from spark_dns_spark.sources.dns_source import ProgressLog
from spark_dns_spark.sources.zonestore import ZoneStore
from tests.dnswire import LoopbackDnsServer


@pytest.fixture()
def store(tmp_path):
    s = ZoneStore(str(tmp_path / "zones"))
    s.create_zone(
        "example.acme.",
        records=[
            ("workstation1.example.acme.", "192.168.1.1"),
            ("workstation2.example.acme.", "192.168.1.2"),
            ("server1.example.acme.", "192.168.1.10"),
        ],
        serial=1,
        history=[
            (1, "IXFR_ADD", "workstation1.example.acme.", "192.168.1.1"),
            (1, "IXFR_ADD", "workstation2.example.acme.", "192.168.1.2"),
            (1, "IXFR_ADD", "server1.example.acme.", "192.168.1.10"),
        ],
    )
    return s


def _run_once(spark, zstore, out_dir, ckpt, **opts):
    """One availableNow run; ``opts`` add or override source options."""
    register_all(spark)
    reader = (
        spark.readStream.format("dns")
        .option("store", zstore.root)
        .option("zones", "example.acme.")
    )
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query did not finish"
    return q


def test_stream_read_then_resume_exactly_once(spark, store, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # run 1: full history from serial 0
    _run_once(spark, store, out, ckpt)
    df1 = spark.read.parquet(out)
    assert df1.count() == 3
    assert set(df1.columns) == {"action", "fqdn", "ip", "organization",
                                "timestamp", "zone"}

    # mutate the zone between runs (the reference updates Bind between runs)
    store.apply_update(
        "example.acme.",
        [("IXFR_ADD", "new1.example.acme.", "192.168.1.50"),
         ("IXFR_DELETE", "workstation1.example.acme.", "192.168.1.1")],
    )

    # run 2: resume from checkpoint — must read ONLY the delta
    _run_once(spark, store, out, ckpt)
    df2 = spark.read.parquet(out)
    assert df2.count() == 5

    # exactly-once: no duplicated record across both runs
    # (DnsSourceRelationProviderTest.java:214-225)
    counts = (
        df2.groupBy("action", "fqdn", "ip", "organization", "zone")
        .count()
        .select("count")
        .distinct()
        .collect()
    )
    assert [r["count"] for r in counts] == [1]

    # run 3: nothing changed — empty micro-batch, no new rows
    # (README.md:198-199: empty batches expected when IXFR has no delta)
    _run_once(spark, store, out, ckpt)
    assert spark.read.parquet(out).count() == 5


def test_stream_sees_only_delta_not_snapshot(spark, store, tmp_path):
    """After checkpointed serial 1, an update must stream as IXFR rows,
    not a re-snapshot."""
    out, ckpt = str(tmp_path / "o2"), str(tmp_path / "c2")
    _run_once(spark, store, out, ckpt)
    store.apply_update(
        "example.acme.", [("IXFR_ADD", "d1.example.acme.", "10.1.1.1")]
    )
    _run_once(spark, store, out, ckpt)
    new_rows = (
        spark.read.parquet(out).filter(F.col("fqdn") == "d1.example.acme.").collect()
    )
    assert len(new_rows) == 1 and new_rows[0].action == "IXFR_ADD"


def test_stream_over_wire_offsets_from_tcp_soa_poll(spark, store, tmp_path):
    """transport=wire: end offsets come from the SOA poll over TCP, the
    first trigger snapshots the zone, the next reads only the delta."""
    srv = LoopbackDnsServer.for_store(store)
    progress = str(tmp_path / "progress")
    wire = {"store": "127.0.0.1", "transport": "wire", "port": srv.port,
            "progress-dir": progress}
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def end_offsets():
        q = _run_once(spark, store, out, ckpt, **wire)
        # the progress event carries the source's offset dict as text
        return ast.literal_eval(q.lastProgress["sources"][0]["endOffset"])

    try:
        assert end_offsets() == {"example.acme.": 1}
        assert spark.read.parquet(out).count() == 3
        store.apply_update(
            "example.acme.", [("IXFR_ADD", "d1.example.acme.", "10.1.1.1")]
        )
        assert end_offsets() == {"example.acme.": 2}
    finally:
        srv.close()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4
    assert [r.fqdn for r in rows if r.action == "IXFR_ADD"] == ["d1.example.acme."]
    assert {"qname": "example.acme.", "qtype": "SOA"} in srv.requests
    assert {"qname": "example.acme.", "qtype": "IXFR", "serial": 1} in srv.requests
    # the first batch's commit reached the progress log
    assert ProgressLog(progress, 10).latest() == {"example.acme.": 1}


def test_progress_log_commit_and_retention(tmp_path):
    # O2/O3 parity: newest max-kept-commits files kept, ids increase
    log = ProgressLog(str(tmp_path / "progress"), max_kept=3)
    assert log.latest() is None
    for i in range(5):
        log.commit({"example.acme.": i + 1})
    assert log.latest() == {"example.acme.": 5}
    assert log._ids() == [2, 3, 4]  # 0 and 1 retired


def test_progress_written_on_commit(spark, store, tmp_path):
    """Spark calls source.commit(batch N) when batch N+1 starts — the
    very offsets-mark-start-of-read subtlety the reference built its
    own progress files for (ProgressSerDe.java:18-21).  So the progress
    log holds batch N's serials after a second batch runs."""
    import time

    out, ckpt = str(tmp_path / "o3"), str(tmp_path / "c3")
    progress_dir = str(tmp_path / "prog")
    register_all(spark)
    stream = (
        spark.readStream.format("dns")
        .option("store", store.root)
        .option("zones", "example.acme.")
        .option("progress-dir", progress_dir)
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    def _out_count() -> int:
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0  # nothing written yet

    try:
        deadline = time.monotonic() + 60
        while _out_count() < 3 and time.monotonic() < deadline:
            time.sleep(1)
        store.apply_update(
            "example.acme.", [("IXFR_ADD", "c1.example.acme.", "10.2.2.2")]
        )
        log = ProgressLog(progress_dir, 10)
        while log.latest() is None and time.monotonic() < deadline:
            time.sleep(1)
    finally:
        q.stop()
    assert ProgressLog(progress_dir, 10).latest() == {"example.acme.": 1}


def test_stream_zone_added_midstream(spark, store, tmp_path):
    """A zone appearing in the store after the stream starts is read
    from serial 0 (T2: new zones enter; removed zones warn+skip)."""
    out, ckpt = str(tmp_path / "o4"), str(tmp_path / "c4")
    # empty zones option ⇒ all served zones, re-listed per batch
    _run_once(spark, store, out, ckpt, zones="")
    assert spark.read.parquet(out).count() == 3

    store.create_zone(
        "late.zone.",
        records=[("a.late.zone.", "7.7.7.7")],
        serial=1,
        history=[(1, "IXFR_ADD", "a.late.zone.", "7.7.7.7")],
    )
    _run_once(spark, store, out, ckpt, zones="")
    got = spark.read.parquet(out)
    assert got.count() == 4
    assert got.filter(F.col("zone") == "late.zone.").count() == 1


def test_stream_backlog_drains_across_capped_batches(spark, store, tmp_path):
    """Admission control (max-changes-per-batch, the kafka
    maxOffsetsPerTrigger analog): a 4-serial IXFR backlog must drain in
    serial-bounded micro-batches (cap=1 ⇒ one serial per batch, visible
    as one progress commit per serial), with exactly-once preserved
    across the split batches."""
    import os

    # backlog: serials 2..5, one add each, accumulated BEFORE any read
    for i in range(2, 6):
        store.apply_update(
            "example.acme.",
            [("IXFR_ADD", f"h{i}.example.acme.", f"10.0.0.{i}")],
        )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # drain: depending on whether availableNow loops micro-batches for
    # python sources, one run may advance one serial or all; loop runs
    # until the full backlog (3 initial + 4 adds) is out, bounded.
    for _ in range(8):
        _run_once(spark, store, out, ckpt, **{"max-changes-per-batch": 1})
        if spark.read.parquet(out).count() >= 7:
            break
    df = spark.read.parquet(out)
    assert df.count() == 7

    # exactly-once across the split batches (reference's own assertion)
    dup = (
        df.groupBy("action", "fqdn", "ip", "organization", "zone")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0

    # the batches were serial-bounded: every committed progress step
    # advances by at most the cap (commit for a run's FINAL batch only
    # fires when a next batch starts, so the log may lag the admission
    # clock — the clock file itself must have reached the head serial)
    import json

    pdir = os.path.join(store.root, ".progress")
    ids = sorted(int(f) for f in os.listdir(pdir) if f.isdigit())
    serials = []
    for i in ids:
        with open(os.path.join(pdir, str(i))) as f:
            serials.append(json.load(f)["example.acme."])
    steps = [b - a for a, b in zip([0] + serials, serials)]
    assert serials and all(0 < s <= 1 for s in steps), (serials, steps)
    with open(os.path.join(pdir, "admission.json")) as f:
        assert json.load(f)["example.acme."] == 5


def test_admission_clock_crash_recovery(spark, store, tmp_path):
    """Documented crash semantics of the self-persisted admission clock:
    if a prior run ADMITTED serials that were never processed (crash
    between latestOffset and the batch), the next run seeds from the
    admission file and admits admitted+cap — a one-off larger batch,
    never a stall and never a skipped serial."""
    import json
    import os

    from spark_dns_spark.sources.dns_source import DnsStreamReader

    for i in range(2, 6):  # head serial = 5
        store.apply_update(
            "example.acme.",
            [("IXFR_ADD", f"h{i}.example.acme.", f"10.0.0.{i}")],
        )
    opts = {
        "store": store.root,
        "zones": "example.acme.",
        "max-changes-per-batch": "2",
    }
    # simulate a crashed predecessor that admitted up to serial 3
    pdir = os.path.join(store.root, ".progress")
    os.makedirs(pdir)
    with open(os.path.join(pdir, "admission.json"), "w") as f:
        json.dump({"example.acme.": 3}, f)

    r = DnsStreamReader(opts)
    off1 = r.latestOffset()
    # seeds from the admission file (3), not from scratch: 3+2=5
    assert off1 == {"example.acme.": 5}
    # a FRESH reader (no admission file) seeds from initialOffset
    os.unlink(os.path.join(pdir, "admission.json"))
    r2 = DnsStreamReader(opts)
    assert r2.latestOffset() == {"example.acme.": 2}
    # and the clock never runs past the head serial
    r3 = DnsStreamReader(opts)
    for _ in range(5):
        out = r3.latestOffset()
    assert out == {"example.acme.": 5}
