"""Connector read tests — replicate the reference's integration matrix
(src/test/.../read/DnsSourceRelationProviderTest.java:86-241) against
the in-process zone store instead of a Bind9 container (SURVEY.md §5).
"""

from __future__ import annotations

import pytest

from spark_dns_spark.sources import register_all
from spark_dns_spark.sources.zonestore import ZoneStore
from tests.dnswire import LoopbackDnsServer


@pytest.fixture()
def store(tmp_path):
    """Two zones mirroring the Bind9 fixtures: example.acme (3 records),
    another.zone (5 records) — db.example.acme:1-12, db.another.zone:1-14."""
    s = ZoneStore(str(tmp_path / "zones"))
    s.create_zone(
        "example.acme.",
        records=[
            ("workstation1.example.acme.", "192.168.1.1"),
            ("workstation2.example.acme.", "192.168.1.2"),
            ("server1.example.acme.", "192.168.1.10"),
        ],
        serial=1,
    )
    s.create_zone(
        "another.zone.",
        records=[(f"host{i}.another.zone.", f"10.0.0.{i}") for i in range(1, 6)],
        serial=1,
    )
    return s


def _read(spark, zstore, **opts):
    register_all(spark)
    reader = spark.read.format("dns").option("store", zstore.root)
    for k, v in opts.items():
        reader = reader.option(k.replace("_", "-"), str(v))
    return reader.load()


@pytest.fixture()
def wire(store):
    """Options pointing a read at a loopback DNS server that serves
    ``store`` over TCP (``transport=wire``), and that server."""
    srv = LoopbackDnsServer.for_store(store)
    yield {"store": "127.0.0.1", "transport": "wire", "port": srv.port}, srv
    srv.close()


def _rows(df):
    return sorted((r.action, r.fqdn, r.ip, r.zone) for r in df.collect())


def test_batch_axfr_read(spark, store):
    df = _read(spark, store, zones="example.acme.,another.zone.", xfr="axfr",
               organization="Acme Inc.")
    assert df.columns == ["action", "fqdn", "ip", "organization", "timestamp", "zone"]
    rows = df.collect()
    assert len(rows) == 8
    assert {r.action for r in rows} == {"AXFR"}
    assert {r.organization for r in rows} == {"Acme Inc."}
    by_zone = {r.zone for r in rows}
    assert by_zone == {"example.acme.", "another.zone."}
    # per-zone constant timestamp (DnsZoneRDD.java:94)
    assert len({r.timestamp for r in rows}) == 1


def test_wire_batch_axfr_read_matches_store(spark, store, wire):
    opts, srv = wire
    axfr = {"zones": "example.acme.,another.zone.", "xfr": "axfr"}
    got = _rows(_read(spark, store, **opts, **axfr))
    assert len(got) == 8 and {r[0] for r in got} == {"AXFR"}
    assert got == _rows(_read(spark, store, **axfr))
    # both zones went over TCP as IXFR(0) (Xfr.java:37-50 parity)
    assert sorted((r["qname"], r["qtype"], r["serial"]) for r in srv.requests) == [
        ("another.zone.", "IXFR", 0), ("example.acme.", "IXFR", 0),
    ]


def test_zones_default_to_all_served(spark, store):
    assert _read(spark, store, xfr="axfr").count() == 8


def test_ixfr_serial0_is_full_snapshot(spark, store):
    df = _read(spark, store, zones="example.acme.", xfr="ixfr", serial=0)
    assert df.count() == 3  # Xfr.java:42-49: serial 0 ⇒ AXFR interpretation


def test_ixfr_delta_only(spark, store):
    store.apply_update(
        "example.acme.",
        [("IXFR_ADD", "new1.example.acme.", "192.168.1.50"),
         ("IXFR_DELETE", "workstation1.example.acme.", "192.168.1.1")],
    )
    df = _read(spark, store, zones="example.acme.", xfr="ixfr", serial=1)
    rows = {(r.action, r.fqdn, r.ip) for r in df.collect()}
    assert rows == {
        ("IXFR_ADD", "new1.example.acme.", "192.168.1.50"),
        ("IXFR_DELETE", "workstation1.example.acme.", "192.168.1.1"),
    }


def test_wire_ixfr_serial_read_matches_store(spark, store, wire):
    opts, _ = wire
    store.apply_update(
        "example.acme.",
        [("IXFR_ADD", "new1.example.acme.", "192.168.1.50"),
         ("IXFR_DELETE", "workstation1.example.acme.", "192.168.1.1")],
    )
    ixfr = {"zones": "example.acme.", "xfr": "ixfr", "serial": 1}
    got = _rows(_read(spark, store, **opts, **ixfr))
    assert got == [
        ("IXFR_ADD", "new1.example.acme.", "192.168.1.50", "example.acme."),
        ("IXFR_DELETE", "workstation1.example.acme.", "192.168.1.1", "example.acme."),
    ]
    assert got == _rows(_read(spark, store, **ixfr))


def test_ixfr_ancient_serial_falls_back_to_axfr(spark, store):
    """Requested-IXFR-answered-AXFR: we interpret by the answer (SURVEY.md
    §7.3), so a serial below retained history yields the snapshot, not
    the reference's silent zero rows."""
    store.apply_update("example.acme.", [("IXFR_ADD", "x.example.acme.", "1.1.1.1")])
    s2 = ZoneStore(store.root)
    # serial=1 has history (serial 2 entries); drop history to force fallback
    d = s2._load("example.acme.")
    d["history"] = []
    s2._write_atomic("example.acme.", d)
    df = _read(spark, store, zones="example.acme.", xfr="ixfr", serial=1)
    assert {r.action for r in df.collect()} == {"AXFR"}
    assert df.count() == 4


def test_unreachable_zone_fails(spark, store):
    df = _read(spark, store, zones="nonexistent.zone.", xfr="axfr")
    with pytest.raises(Exception, match="zone not served"):
        df.collect()


def test_unreachable_zone_ignore_failures_empty(spark, store):
    # T7: suppress ⇒ empty partition (DnsZoneRDD.java:82-92)
    df = _read(spark, store, zones="nonexistent.zone.", xfr="axfr",
               ignore_failures="true")
    assert df.count() == 0


def test_wire_notauth_fail_and_suppress(spark, store, wire):
    # a server that is not authoritative for a zone answers NOTAUTH:
    # same raise / suppress matrix as the store's unknown zone
    opts, _ = wire
    with pytest.raises(Exception, match="not authoritative"):
        _read(spark, store, **opts, zones="nonexistent.zone.", xfr="axfr").collect()
    df = _read(spark, store, **opts, zones="example.acme.,nonexistent.zone.",
               xfr="axfr", ignore_failures="true")
    assert df.count() == 3  # unknown zone empty, healthy zone intact


def test_ignore_failures_logs_suppressed_zone(store, caplog):
    """T7 suppression is never silent: the batch read and the stream's
    offset poll each log a warning naming the zone and the exception."""
    from spark_dns_spark.sources.dns_source import (
        DnsStreamReader, DnsZonePartition, _transfer_rows,
    )
    from spark_dns_spark.sources.options import DnsSourceOptions

    opts = {"store": store.root, "zones": "nonexistent.zone.", "ignore-failures": "true"}
    part = DnsZonePartition("nonexistent.zone.", 0, None, True, 0)
    with caplog.at_level("WARNING", logger="spark_dns_spark.sources.dns_source"):
        assert list(_transfer_rows(DnsSourceOptions.parse(opts), part)) == []
        assert DnsStreamReader(opts).latestOffset() == {}
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 2
    assert all("nonexistent.zone." in m and "ZoneNotFoundError" in m for m in msgs)


def test_sql_view_using_dns(spark, store):
    # S2 SQL variant (DnsSourceRelationProviderTest SQL tests).  Note:
    # Spark 4.1 forwards OPTIONS to Python data sources for
    # `CREATE TEMPORARY VIEW ... USING` but not `CREATE TABLE ... USING`,
    # so the SQL surface is the temp-view form.
    register_all(spark)
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW dns_tbl USING dns
            OPTIONS (store '{store.root}', zones 'example.acme.', xfr 'axfr')"""
    )
    assert spark.sql("SELECT fqdn, ip FROM dns_tbl").count() == 3
    assert spark.sql(
        "SELECT count(*) AS n FROM dns_tbl WHERE zone = 'example.acme.'"
    ).collect()[0].n == 3


def test_user_schema_is_rejected(spark, store):
    # DnsSourceRelationProvider.java:51-53 silently ignores user schemas;
    # the Python DataSource API honors them, so ours rejects loudly —
    # a documented deviation (silent-ignore is impossible here).
    register_all(spark)
    with pytest.raises(Exception, match="fixed schema"):
        (
            spark.read.format("dns")
            .schema("a string, b string")
            .option("store", store.root)
            .option("zones", "example.acme.")
            .option("xfr", "axfr")
            .load()
            .collect()
        )


def test_zone_filter_pushdown_prunes_partitions(spark, store):
    # beyond-reference: EqualTo('zone') prunes before any transfer; a
    # poisoned other-zone (simulated RTT past the timeout) proves it
    # never ran
    store.set_transfer_delay("another.zone.", 30.0)
    df = _read(spark, store, zones="example.acme.,another.zone.",
               xfr="axfr")
    with pytest.raises(Exception, match="timed out"):
        df.count()  # the poison bites when another.zone. is scanned
    good = df.filter(df.zone == "example.acme.")
    assert good.count() == 3


def test_option_validation_errors(spark, store):
    from spark_dns_spark.sources.options import DnsSourceOptions, OptionError

    with pytest.raises(OptionError):
        DnsSourceOptions.parse({})
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "port": "0"})
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "port": "131071"})
    assert DnsSourceOptions.parse({"store": "/x", "port": "131070"}).port == 131070
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "xfr": "bogus"})
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "serial": "-1"})
    # case-insensitive xfr + zone CSV dedup (P5)
    o = DnsSourceOptions.parse({"store": "/x", "xfr": "AXFR",
                                "zones": "a., b. ,a.,c."})
    assert o.xfr == "axfr" and o.zones == ["a.", "b.", "c."]
    # ignore-failures effective default false (quirk, SURVEY §2.8)
    assert DnsSourceOptions.parse({"store": "/x"}).ignore_failures is False
    # admission control: default unlimited, negative rejected
    assert DnsSourceOptions.parse({"store": "/x"}).max_changes_per_batch == 0
    assert DnsSourceOptions.parse(
        {"store": "/x", "max-changes-per-batch": "7"}
    ).max_changes_per_batch == 7
    with pytest.raises(OptionError):
        DnsSourceOptions.parse({"store": "/x", "max-changes-per-batch": "-1"})


def test_non_a_records_filtered_at_transfer(store):
    """P1 — the zone file carries SOA/NS records; the transfer filters
    them so only A-records become rows (xfr/Xfr.java:76-81)."""
    import json as _json

    d = _json.load(open(store._path("example.acme.")))
    assert {r[0] for r in d["non_a_records"]} == {"SOA", "NS"}
    res = store.axfr("example.acme.")
    assert len(res.rows) == 3  # A-records only
    assert all(not f.startswith("ns1.") for _, f, _ in res.rows)


def test_bad_port_fail_and_suppress_matrix(spark, store):
    """Reference bad-port matrix (DnsSourceRelationProviderTest.java:
    86-147): wrong port refuses; ignore-failures suppresses to empty."""
    store.set_server(port=53)
    assert _read(spark, store, xfr="axfr", port="53").count() == 8
    df = _read(spark, store, xfr="axfr", port="5353")
    with pytest.raises(Exception, match="connection refused"):
        df.collect()
    assert _read(spark, store, xfr="axfr", port="5353",
                 ignore_failures="true").count() == 0


def test_timeout_fail_and_suppress_matrix(spark, store):
    """Timeout matrix: simulated RTT beyond `timeout` fails the
    transfer; larger timeout or ignore-failures recovers."""
    store.set_transfer_delay("example.acme.", 30.0)
    df = _read(spark, store, zones="example.acme.", xfr="axfr")
    with pytest.raises(Exception, match="timed out"):
        df.collect()  # default timeout 10s < 30s RTT
    assert _read(spark, store, zones="example.acme.", xfr="axfr",
                 timeout="60").count() == 3
    assert _read(spark, store, zones="example.acme.,another.zone.",
                 xfr="axfr", ignore_failures="true").count() == 5


def test_persistent_table_via_conf_fallback(spark, store):
    """Reference SQL tests use persistent CREATE TABLE ... USING dns
    (DnsSourceRelationProviderTest.java:228-241).  On Spark 4's Python
    Data Source API the catalog stores the schema but forwards EMPTY
    options to the reader — so (a) without any fallback the read fails
    with a clear, documented error (pinned here), and (b) with
    ``spark.dns.*`` session conf set the table actually WORKS
    (VERDICT-r7 item 3), making the SQL surface usable end-to-end."""
    from pyspark.errors import AnalysisException

    register_all(spark)
    spark.sql("DROP TABLE IF EXISTS dns_persistent_probe")
    spark.sql(
        "CREATE TABLE dns_persistent_probe USING dns "
        f"OPTIONS (store '{store.root}', zones 'example.acme.')"
    )
    try:
        # schema DID survive the catalog round-trip
        cols = [f.name for f in spark.table("dns_persistent_probe").schema]
        assert cols == ["action", "fqdn", "ip", "organization",
                        "timestamp", "zone"]
        # (a) options did NOT survive: pinned clear error, now pointing
        # at the conf fallback
        with pytest.raises(AnalysisException, match="missing required option: store"):
            spark.sql("SELECT * FROM dns_persistent_probe").collect()
        # (b) session-conf fallback makes the catalog table usable:
        # set spark.dns.*, re-register so the snapshot is baked into
        # the datasource class (readers are constructed in a worker
        # process with no session — see register_all's docstring)
        spark.conf.set("spark.dns.store", store.root)
        spark.conf.set("spark.dns.zones", "example.acme.")
        spark.conf.set("spark.dns.xfr", "axfr")
        register_all(spark)
        rows = spark.sql(
            "SELECT fqdn, ip FROM dns_persistent_probe ORDER BY fqdn"
        ).collect()
        assert len(rows) == 3
        assert all(r["fqdn"].endswith("example.acme.") for r in rows)
        # explicit datasource options still WIN over session conf
        direct = (
            spark.read.format("dns")
            .option("store", store.root)
            .option("zones", "another.zone.")
            .option("xfr", "axfr")
            .load()
        )
        assert direct.select("zone").distinct().collect()[0][0] == "another.zone."
    finally:
        for k in ("spark.dns.store", "spark.dns.zones", "spark.dns.xfr"):
            spark.conf.unset(k)
        register_all(spark)  # re-register with a clean (empty) snapshot
        spark.sql("DROP TABLE IF EXISTS dns_persistent_probe")
