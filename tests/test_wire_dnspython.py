"""``transport=wire`` over real sockets: :class:`WireTransport` against
:class:`tests.dnswire.LoopbackDnsServer` on 127.0.0.1 — no DNS library
and no network needed.

The server splits answers across messages (RFC 5936 §2) and keeps each
connection open after answering, so every passing transfer proves the
client folded the messages and stopped at the terminating SOA rather
than at connection close.  The fault tests pin how a broken server
surfaces: as ``OSError`` (suppressable by ``ignore-failures``), or as
:class:`ZoneNotFoundError` for NOTAUTH.  Spark-level ``transport=wire``
reads live in test_dns_source.py and test_dns_streaming.py.
"""

from __future__ import annotations

import time

import pytest

from spark_dns_spark.sources.transport import WireTransport
from spark_dns_spark.sources.zonestore import (
    AXFR,
    IXFR_ADD,
    IXFR_DELETE,
    ZoneNotFoundError,
)
from tests.dnswire import LoopbackDnsServer, soa_rr

ZONE = "ex4.example."


@pytest.fixture()
def serve():
    servers = []

    def start(*args, **kw):
        srv = LoopbackDnsServer(*args, **kw)
        servers.append(srv)
        return srv

    yield start
    for srv in servers:
        srv.close()


def _axfr_script(zone, serial):
    return [
        soa_rr(zone, 5),
        ("NS", zone, f"ns1.{zone}", 0),
        ("A", f"a.{zone}", "10.0.0.1", 0),
        ("A", f"b.{zone}", "10.0.0.2", 0),
        soa_rr(zone, 5),
    ]


def _transport(srv, timeout=5.0):
    return WireTransport("127.0.0.1", port=srv.port, timeout=timeout)


def test_wire_axfr_over_loopback_tcp(serve):
    srv = serve(_axfr_script, split=3)
    res = _transport(srv).transfer(ZONE, 0, None, axfr=True)
    # request went over the wire as IXFR-with-serial-0 (dnsjava parity)
    assert srv.requests[0] == {"qname": ZONE, "qtype": "IXFR", "serial": 0}
    assert res.kind == AXFR and res.serial == 5
    # NS filtered (P1); rows folded across the 3 framed messages
    assert res.rows == [
        (AXFR, f"a.{ZONE}", "10.0.0.1"),
        (AXFR, f"b.{ZONE}", "10.0.0.2"),
    ]


def test_wire_ixfr_deltas_over_loopback_tcp(serve):
    def script(zone, serial):
        assert serial == 3  # client's serial arrived in authority SOA
        return [
            soa_rr(zone, 5),
            soa_rr(zone, 3), ("A", f"old.{zone}", "10.0.0.9", 0),
            soa_rr(zone, 4), ("A", f"new.{zone}", "10.0.0.10", 0),
            soa_rr(zone, 4), soa_rr(zone, 5), ("A", f"fin.{zone}", "10.0.0.11", 0),
            soa_rr(zone, 5),
        ]

    # one record per message: SOA(5) closes a delimiter pair mid-stream
    # before the real terminator arrives
    srv = serve(script, split=9)
    res = _transport(srv).transfer(ZONE, 3, 5, axfr=False)
    assert srv.requests[0] == {"qname": ZONE, "qtype": "IXFR", "serial": 3}
    assert res.kind == "IXFR" and res.serial == 5
    assert res.rows == [
        (IXFR_DELETE, f"old.{ZONE}", "10.0.0.9"),
        (IXFR_ADD, f"new.{ZONE}", "10.0.0.10"),
        (IXFR_ADD, f"fin.{ZONE}", "10.0.0.11"),
    ]


def test_wire_serial_poll_over_loopback_tcp(serve):
    srv = serve(serial=lambda zone: 77)
    assert _transport(srv).serial(ZONE) == 77
    assert srv.requests == [{"qname": ZONE, "qtype": "SOA"}]


def test_wire_truncated_stream_raises_over_loopback(serve):
    # server drops the trailing SOA terminator and hangs up — the
    # partial stream must not pass as a smaller zone
    srv = serve(lambda z, s: [soa_rr(z, 5), ("A", f"a.{z}", "10.0.0.1", 0)],
                fault="hangup")
    with pytest.raises(OSError, match="terminator|truncated"):
        _transport(srv).transfer(ZONE, 0, None, axfr=True)


# ------------------------------------------------------ fault injection
@pytest.mark.parametrize(
    "fault, match",
    [
        ("bad-id", "id mismatch"),
        ("short-frame", "truncated"),
        ("undecodable", "undecodable"),
        ("silent", "timed out"),  # the timeout option reaches the socket
    ],
)
def test_wire_faulty_reply_raises_oserror(serve, fault, match):
    srv = serve(_axfr_script, serial=lambda zone: 5, fault=fault)
    t = _transport(srv, timeout=1.0)
    with pytest.raises(OSError, match=match):
        t.transfer(ZONE, 0, None, axfr=True)
    with pytest.raises(OSError, match=match):
        t.serial(ZONE)


def test_wire_serial_poll_notauth_raises_zone_not_found(serve):
    # transfers answered NOTAUTH: test_dns_source's wire notauth matrix
    def unknown(zone):
        raise ZoneNotFoundError(zone)

    with pytest.raises(ZoneNotFoundError, match="not authoritative"):
        _transport(serve(serial=unknown)).serial(ZONE)


def test_wire_transfer_ends_at_terminator_not_close(serve):
    # the server keeps the connection open after a complete answer:
    # the transfer must return long before the 30 s timeout
    srv = serve(_axfr_script)
    t0 = time.monotonic()
    res = _transport(srv, timeout=30.0).transfer(ZONE, 0, None, axfr=True)
    assert time.monotonic() - t0 < 5.0
    assert len(res.rows) == 2
