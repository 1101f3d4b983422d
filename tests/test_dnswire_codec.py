"""Round-trip properties of the package DNS wire codec
(spark_dns_spark/sources/dnswire.py), plus one golden-bytes pin of the
UPDATE messages ``send_update`` puts on the wire."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_dns_spark.sources.dnswire import (
    CLASS_IN,
    RR,
    Message,
    decode_message,
    decode_name,
    encode_message,
    encode_name,
    encode_rr,
)
from spark_dns_spark.sources.update_wire import encode_update_message, send_update
from tests.dnswire import LoopbackDnsServer, parse_update_message

NAMES = ["example.acme.", "a.b.c.example.", "x.y.", "single."]


@pytest.mark.parametrize("name", NAMES)
def test_name_roundtrip(name):
    buf = encode_name(name)
    got, end = decode_name(buf, 0)
    assert got == name
    assert end == len(buf)


def test_name_pointer_decode():
    # "www.example." with the tail compressed as a pointer to offset 4
    tail = encode_name("example.")
    buf = b"\x00" * 4 + tail  # target at offset 4
    ptr = bytes([0xC0, 4])
    www = bytes([3]) + b"www" + ptr
    buf2 = buf + www
    got, end = decode_name(buf2, len(buf))
    assert got == "www.example."
    assert end == len(buf2)


def test_pointer_loop_raises():
    buf = bytes([0xC0, 0x00, 0x00])
    with pytest.raises(ValueError, match="loop"):
        decode_name(bytes([0xC0, 0]) + buf, 0)


def test_query_roundtrip_with_ixfr_serial():
    known = RR("SOA", "zone.example.", ". . 42 0 0 0 0", 42)
    wire = encode_message(Message(7, 0, [("zone.example.", "IXFR")], [], [known]))
    m = decode_message(wire)
    assert (m.mid, m.question) == (7, [("zone.example.", "IXFR")])
    assert m.authority[0].rtype == "SOA" and m.authority[0].serial == 42


def test_response_roundtrip_all_rtypes():
    rrs = [
        RR("SOA", "z.example.", "ns1.z.example. host.z.example. 5 1 1 1 1", 5),
        RR("A", "a.z.example.", "10.1.2.3"),
        RR("NS", "z.example.", "ns1.z.example."),
    ]
    wire = encode_message(Message(9, 0x8400, [("z.example.", "AXFR")], rrs, []))
    m = decode_message(wire)
    assert m.mid == 9 and m.question == [("z.example.", "AXFR")]
    assert m.answer == rrs  # SOA serial, A address and NS target survive


# ---------------------------------------------------- hypothesis trips
_LABEL = st.text("abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1, max_size=63)
# labels of 1–63 bytes, at most 255 wire bytes including length octets
_NAME = st.lists(_LABEL, min_size=1, max_size=8).filter(
    lambda ls: sum(len(x) + 1 for x in ls) + 1 <= 255
).map(lambda ls: ".".join(ls) + ".")
_IP = st.tuples(*[st.integers(0, 255)] * 4).map(lambda t: ".".join(map(str, t)))
_U32 = st.integers(0, 2**32 - 1)


@st.composite
def _rrs(draw):
    kind = draw(st.sampled_from(["A", "NS", "SOA"]))
    name, ttl = draw(_NAME), draw(_U32)
    if kind == "A":
        return RR("A", name, draw(_IP), 0, CLASS_IN, ttl)
    if kind == "NS":
        return RR("NS", name, draw(_NAME), 0, CLASS_IN, ttl)
    serial, *timers = draw(st.lists(_U32, min_size=5, max_size=5))
    value = " ".join([draw(_NAME), draw(_NAME), str(serial), *map(str, timers)])
    return RR("SOA", name, value, serial, CLASS_IN, ttl)


@settings(max_examples=200, deadline=None)
@given(_NAME)
def test_name_roundtrip_property(name):
    buf = encode_name(name)
    assert len(buf) <= 255
    assert decode_name(buf, 0) == (name, len(buf))


def test_name_over_255_bytes_rejected():
    name = ".".join(["a" * 63] * 4) + "."  # 4 * 64 + 1 = 257 bytes
    with pytest.raises(ValueError, match="255"):
        encode_name(name)
    with pytest.raises(ValueError, match="255"):
        decode_name(b"".join(bytes([63]) + b"a" * 63 for _ in range(4)) + b"\0", 0)


@settings(max_examples=200, deadline=None)
@given(_rrs())
def test_rr_roundtrip_property(rr):
    wire = encode_message(Message(1, 0x8000, [], [rr], []))
    assert decode_message(wire).answer == [rr]
    assert len(wire) == 12 + len(encode_rr(rr))


_CHANGE = st.tuples(
    st.sampled_from(["IXFR_ADD", "AXFR", "IXFR_DELETE"]), _NAME, _IP, _U32
)


@settings(max_examples=100, deadline=None)
@given(_NAME, st.lists(_CHANGE, max_size=40), st.integers(0, 0xFFFF))
def test_update_message_roundtrip_property(zone, changes, mid):
    wire = encode_update_message(zone, changes, mid=mid)
    assert parse_update_message(wire) == (
        mid,
        zone,
        [
            ("delete", n, ip, 0) if a == "IXFR_DELETE" else ("add", n, ip, ttl)
            for a, n, ip, ttl in changes
        ],
    )


# -------------------------------------------------------- golden bytes
#: sha256 of the UPDATE messages (frame payloads, in order) that
#: send_update emitted for GOLDEN_CHANGES before the codec moved into
#: the package; the list spans two 64 KB chunks of 1850 and 250 changes.
GOLDEN_SHA256 = "1af78141c5342fda4b21e3242affe3cab4998ebb3cb80699aa5efef8adbf0796"
GOLDEN_CHANGES = [
    (
        ("IXFR_ADD", "AXFR", "IXFR_DELETE")[i % 3],
        f"h{i}.golden.example.",
        f"10.0.{i // 256 % 256}.{i % 256}",
        60 + i % 7,
    )
    for i in range(2100)
]


def test_send_update_wire_bytes_golden():
    server = LoopbackDnsServer(update_handler=lambda zone, changes: 0)
    try:
        send_update("127.0.0.1", server.port, 10.0, "golden.example.", GOLDEN_CHANGES)
    finally:
        server.close()
    frames = [r["wire"] for r in server.requests]
    assert [len(f) for f in frames] == [65522, 9032]
    assert hashlib.sha256(b"".join(frames)).hexdigest() == GOLDEN_SHA256
