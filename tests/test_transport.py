"""Transport-seam tests: the `dns` source's transfer semantics behind
:class:`ZoneTransport`, verified for BOTH the file-store default and
the TCP :class:`WireTransport`.

The wire side talks to :class:`tests.dnswire.LoopbackDnsServer` serving
the same :class:`ZoneStore` over 127.0.0.1 (RFC 5936 AXFR / RFC 1995
IXFR answer shapes, split across messages), so the equivalence tests
prove: for the same zone history, WireTransport's parsed rows ==
FileStoreTransport's rows, transfer for transfer.  The pure
answer-stream parser is tested without sockets.
"""

from __future__ import annotations

import pytest

from spark_dns_spark.sources.transport import (
    FileStoreTransport,
    WireTransport,
    parse_xfr_stream,
)
from spark_dns_spark.sources.zonestore import (
    AXFR,
    IXFR_ADD,
    IXFR_DELETE,
    ZoneStore,
)
from tests.dnswire import LoopbackDnsServer

ZONE = "example.org."


def _soa(serial: int):
    return ("SOA", ZONE, f"ns1.{ZONE} hostmaster.{ZONE} {serial}", serial)


def _ns():
    return ("NS", ZONE, f"ns1.{ZONE}", 0)


def _a(fqdn: str, ip: str):
    return ("A", fqdn, ip, 0)


@pytest.fixture()
def store(tmp_path):
    st = ZoneStore(str(tmp_path / "zones"))
    st.create_zone(ZONE, records=[("a.example.org.", "10.0.0.1")], serial=3)
    st.apply_update(ZONE, [(IXFR_ADD, "b.example.org.", "10.0.0.2")])  # s4
    st.apply_update(
        ZONE,
        [
            (IXFR_DELETE, "a.example.org.", "10.0.0.1"),
            (IXFR_ADD, "c.example.org.", "10.0.0.3"),
        ],
    )  # serial 5
    return st


@pytest.fixture()
def transports(store):
    server = LoopbackDnsServer.for_store(store)
    try:
        yield (
            FileStoreTransport(store.root),
            WireTransport("127.0.0.1", port=server.port, timeout=10.0),
        )
    finally:
        server.close()


# -- transport equivalence: same store state, same rows ---------------


def test_serial_poll_matches(transports):
    file_t, wire_t = transports
    assert file_t.serial(ZONE) == wire_t.serial(ZONE) == 5


def test_axfr_full_snapshot_matches(transports):
    file_t, wire_t = transports
    f = file_t.transfer(ZONE, 0, None, axfr=True)
    w = wire_t.transfer(ZONE, 0, None, axfr=True)
    assert f.kind == w.kind == AXFR
    assert f.serial == w.serial == 5
    assert sorted(f.rows) == sorted(w.rows)
    assert all(r[0] == AXFR for r in w.rows)
    # NS/SOA records crossed the wire but were filtered (P1)
    assert {r[1] for r in w.rows} == {"b.example.org.", "c.example.org."}


def test_ixfr_delta_matches(transports):
    file_t, wire_t = transports
    f = file_t.transfer(ZONE, 3, None, axfr=False)
    w = wire_t.transfer(ZONE, 3, None, axfr=False)
    assert f.serial == w.serial == 5
    assert sorted(f.rows) == sorted(w.rows)
    assert (IXFR_DELETE, "a.example.org.", "10.0.0.1") in w.rows


def test_ixfr_bounded_matches(transports):
    file_t, wire_t = transports
    f = file_t.transfer(ZONE, 3, 4, axfr=False)
    w = wire_t.transfer(ZONE, 3, 4, axfr=False)
    assert f.serial == w.serial == 4
    assert sorted(f.rows) == sorted(w.rows) == [
        (IXFR_ADD, "b.example.org.", "10.0.0.2")
    ]


def test_up_to_date_matches(transports):
    file_t, wire_t = transports
    f = file_t.transfer(ZONE, 5, None, axfr=False)
    w = wire_t.transfer(ZONE, 5, None, axfr=False)
    assert f.rows == w.rows == []
    assert f.serial == w.serial == 5


def test_serial0_ixfr_request_answers_full_zone(transports):
    # Xfr.java:43-46: serial==0 initial sync ⇒ AXFR result regardless
    # of the IXFR request type.
    _, wire_t = transports
    w = wire_t.transfer(ZONE, 0, None, axfr=False)
    assert w.kind == AXFR
    assert all(r[0] == AXFR for r in w.rows)
    assert len(w.rows) == 2


# -- pure answer-stream parser ----------------------------------------


def test_parse_axfr_shape():
    res = parse_xfr_stream(
        [_soa(7), _ns(), _a("x.", "1.2.3.4"), _a("y.", "5.6.7.8"), _soa(7)]
    )
    assert res.kind == AXFR
    assert res.serial == 7
    assert res.rows == [(AXFR, "x.", "1.2.3.4"), (AXFR, "y.", "5.6.7.8")]


def test_parse_ixfr_transitions_and_bound():
    stream = [
        _soa(3),
        _soa(1), _a("old.", "1.1.1.1"), _soa(2), _a("new.", "2.2.2.2"),
        _soa(2), _soa(3), _a("newer.", "3.3.3.3"),
        _soa(3),
    ]
    res = parse_xfr_stream(stream)
    assert res.kind == "IXFR" and res.serial == 3
    assert res.rows == [
        (IXFR_DELETE, "old.", "1.1.1.1"),
        (IXFR_ADD, "new.", "2.2.2.2"),
        (IXFR_ADD, "newer.", "3.3.3.3"),
    ]
    # bound at 2: the 2→3 transition is dropped, serial capped
    res2 = parse_xfr_stream(stream, bound=2)
    assert res2.serial == 2
    assert res2.rows == [
        (IXFR_DELETE, "old.", "1.1.1.1"),
        (IXFR_ADD, "new.", "2.2.2.2"),
    ]


def test_parse_up_to_date_single_soa():
    res = parse_xfr_stream([_soa(9)])
    assert res.kind == "IXFR" and res.serial == 9 and res.rows == []


def test_parse_axfr_cannot_be_bounded():
    with pytest.raises(OSError, match="cannot be bounded"):
        parse_xfr_stream([_soa(7), _a("x.", "1.2.3.4"), _soa(7)], bound=5)


def test_parse_malformed_streams():
    with pytest.raises(OSError, match="empty transfer"):
        parse_xfr_stream([])
    with pytest.raises(OSError, match="want SOA"):
        parse_xfr_stream([_a("x.", "1.2.3.4")])
    with pytest.raises(OSError, match="missing closing SOA"):
        parse_xfr_stream([_soa(3), _soa(1), _a("x.", "1.1.1.1")])


def test_parse_truncated_streams_raise():
    """RFC 1995/5936 terminator checks (ADVICE r3): a TCP stream cut
    off mid-answer must never pass as a valid, smaller result."""
    # IXFR cut right after an adds run (no trailing SOA(final))
    with pytest.raises(OSError, match="missing trailing SOA"):
        parse_xfr_stream(
            [_soa(3), _soa(2), _soa(3), _a("x.", "1.1.1.1")]
        )
    # IXFR cut at the SOA(old) of a follow-on transition: last record
    # is a SOA, but not the terminator
    with pytest.raises(OSError, match="want terminator 3"):
        parse_xfr_stream(
            [_soa(3), _soa(1), _soa(2), _a("x.", "1.1.1.1"), _soa(2)]
        )
    # AXFR cut before the repeated SOA
    with pytest.raises(OSError, match="malformed AXFR: missing trailing"):
        parse_xfr_stream([_soa(7), _a("x.", "1.2.3.4"), _a("y.", "1.2.3.5")])


def test_wire_serial0_delete_run_raises():
    """A serial-0 initial sync whose IXFR-shaped answer carries a
    delete run is a protocol violation — surfaced, not relabeled into
    an AXFR add (ADVICE r3)."""
    def wire(z, serial):
        assert serial == 0
        return [
            _soa(2), _soa(1), _a("gone.", "9.9.9.9"), _soa(2),
            _a("new.", "1.1.1.1"), _soa(2),
        ]

    t = WireTransport("dns.example", wire=wire)
    with pytest.raises(OSError, match="delete run in a serial-0"):
        t.transfer(ZONE, 0, None, axfr=True)


def test_make_transport_selects(tmp_path):
    from spark_dns_spark.sources.options import DnsSourceOptions
    from spark_dns_spark.sources.transport import make_transport

    o1 = DnsSourceOptions.parse({"store": str(tmp_path)})
    assert isinstance(make_transport(o1), FileStoreTransport)
    o2 = DnsSourceOptions.parse(
        {"store": "dns.example", "transport": "wire", "zones": ZONE}
    )
    t = make_transport(o2)
    assert isinstance(t, WireTransport)
    assert t.server == "dns.example" and t.port == 53


def test_make_transport_wire_requires_zones():
    """transport=wire with no zones would plan zero partitions and
    silently succeed with no data (ADVICE r3) — must raise instead."""
    from spark_dns_spark.sources.options import DnsSourceOptions, OptionError
    from spark_dns_spark.sources.transport import make_transport

    o = DnsSourceOptions.parse({"store": "dns.example", "transport": "wire"})
    with pytest.raises(OptionError, match="requires the 'zones' option"):
        make_transport(o)
