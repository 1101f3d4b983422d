"""The connector's one DNS wire codec — stdlib only.

Covers what the ``dns`` source's zone-transfer client and the
``dns_update`` sink put on or read off a TCP connection:

- names (RFC 1035 §3.1): uncompressed encoding; decoding that follows
  compression pointers (§4.1.4) and rejects pointer loops, reserved
  label types and names over 255 bytes;
- A / NS / SOA resource records; other types decode to hex rdata;
- the message header and its question, answer and authority sections
  (an RFC 2136 UPDATE maps its zone / prerequisite / update sections
  onto the same three, §2.2);
- RFC 1035 §4.2.2 TCP framing: a 2-byte length before every message.

Decoding errors raise ``ValueError``; socket errors and short reads
raise ``OSError``.  Callers turn both into ``OSError`` so that
``ignore-failures`` sees one failure class per transport.
"""

from __future__ import annotations

import socket
import struct
from typing import NamedTuple

from spark_dns_spark.sources.zonestore import ZoneNotFoundError

TYPE_CODE = {"A": 1, "NS": 2, "SOA": 6, "IXFR": 251, "AXFR": 252}
TYPE_TEXT = {v: k for k, v in TYPE_CODE.items()}
CLASS_IN = 1
CLASS_NONE = 254  # RFC 2136 §2.5.4 delete-an-RR
FLAG_QR = 0x8000
OPCODE_QUERY = 0
OPCODE_UPDATE = 5
RCODE_NOTAUTH = 9
RCODE_TEXT = {
    0: "NOERROR", 1: "FORMERR", 2: "SERVFAIL", 3: "NXDOMAIN",
    4: "NOTIMP", 5: "REFUSED", 6: "YXDOMAIN", 7: "YXRRSET",
    8: "NXRRSET", 9: "NOTAUTH", 10: "NOTZONE",
}

#: A TCP DNS message is hard-capped at 65535 bytes by its 2-byte frame.
MAX_MESSAGE = 0xFFFF
MAX_NAME = 255  # RFC 1035 §2.3.4, wire length including the root label


class RR(NamedTuple):
    """One resource record.  ``value`` is presentation text: the IPv4
    address of an A record, the target of an NS record, and
    ``"mname rname serial refresh retry expire minimum"`` for a SOA.
    ``serial`` repeats the SOA serial as an int (0 for other types).
    The first four fields are the transport's ``WireRR``."""

    rtype: str
    name: str
    value: str
    serial: int = 0
    rclass: int = CLASS_IN
    ttl: int = 0


class Message(NamedTuple):
    """A DNS message.  ``question`` holds ``(name, qtype)`` pairs of
    class IN; the additional section is neither encoded nor decoded."""

    mid: int
    flags: int
    question: list[tuple[str, str]]
    answer: list[RR]
    authority: list[RR]


# ---------------------------------------------------------------- names
def encode_name(name: str) -> bytes:
    """Uncompressed RFC 1035 §3.1 encoding of an absolute name."""
    out = bytearray()
    for label in name.rstrip(".").encode("ascii").split(b"."):
        if label:
            if len(label) > 63:
                raise ValueError(f"label too long: {label!r}")
            out.append(len(label))
            out += label
    out.append(0)
    if len(out) > MAX_NAME:
        raise ValueError(f"name longer than {MAX_NAME} bytes: {name!r}")
    return bytes(out)


def decode_name(buf: bytes, off: int) -> tuple[str, int]:
    """Decode a possibly pointer-compressed name at ``off``; returns
    (absolute name with trailing dot, offset just past the name)."""
    labels: list[str] = []
    end = -1
    size = 1
    seen: set[int] = set()
    while True:
        if off >= len(buf):
            raise ValueError("DNS name runs past the end of the message")
        if off in seen:
            raise ValueError("DNS name compression loop")
        seen.add(off)
        ln = buf[off]
        if ln == 0:
            break
        if ln & 0xC0 == 0xC0:  # compression pointer
            if off + 1 >= len(buf):
                raise ValueError("DNS name pointer cut off")
            if end < 0:
                end = off + 2
            off = ((ln & 0x3F) << 8) | buf[off + 1]
            continue
        if ln & 0xC0:
            raise ValueError(f"unsupported DNS label type 0x{ln & 0xC0:02x}")
        label = buf[off + 1 : off + 1 + ln]
        if len(label) < ln:
            raise ValueError("DNS label runs past the end of the message")
        size += 1 + ln
        if size > MAX_NAME:
            raise ValueError(f"DNS name longer than {MAX_NAME} bytes")
        labels.append(label.decode("ascii"))
        off += 1 + ln
    return ".".join(labels) + ".", (off + 1 if end < 0 else end)


# -------------------------------------------------------------- records
def encode_rr(rr: RR) -> bytes:
    rtype, name, value, serial, rclass, ttl = rr
    if rtype == "A":
        rdata = socket.inet_aton(value)
    elif rtype == "NS":
        rdata = encode_name(value)
    elif rtype == "SOA":
        mname, rname, _serial, *timers = value.split()
        rdata = (
            encode_name(mname)
            + encode_name(rname)
            + struct.pack("!5I", serial, *map(int, timers))
        )
    else:
        raise ValueError(f"cannot encode rtype {rtype}")
    return (
        encode_name(name)
        + struct.pack("!HHIH", TYPE_CODE[rtype], rclass, ttl & 0xFFFFFFFF, len(rdata))
        + rdata
    )


def _decode_rr(buf: bytes, off: int) -> tuple[RR, int]:
    name, off = decode_name(buf, off)
    code, rclass, ttl, rdlen = struct.unpack_from("!HHIH", buf, off)
    off += 10
    end = off + rdlen
    if end > len(buf):
        raise ValueError("DNS rdata runs past the end of the message")
    rtype = TYPE_TEXT.get(code, str(code))
    serial = 0
    if rtype == "A":
        if rdlen != 4:
            raise ValueError(f"A rdata of {rdlen} bytes")
        value = socket.inet_ntoa(buf[off:end])
    elif rtype == "NS":
        value, p = decode_name(buf, off)
        if p > end:
            raise ValueError("NS rdata overruns its length")
    elif rtype == "SOA":
        mname, p = decode_name(buf, off)
        rname, p = decode_name(buf, p)
        if p + 20 != end:
            raise ValueError("SOA rdata length mismatch")
        nums = struct.unpack_from("!5I", buf, p)
        serial = nums[0]
        value = " ".join([mname, rname, *map(str, nums)])
    else:
        value = buf[off:end].hex()
    return RR(rtype, name, value, serial, rclass, ttl), end


# ------------------------------------------------------------- messages
def encode_message(msg: Message) -> bytes:
    parts = [
        struct.pack(
            "!6H", msg.mid, msg.flags, len(msg.question), len(msg.answer),
            len(msg.authority), 0,
        )
    ]
    for name, qtype in msg.question:
        parts.append(encode_name(name) + struct.pack("!HH", TYPE_CODE[qtype], CLASS_IN))
    parts.extend(encode_rr(rr) for rr in msg.answer)
    parts.extend(encode_rr(rr) for rr in msg.authority)
    return b"".join(parts)


def decode_message(buf: bytes) -> Message:
    """Decode header, question, answer and authority sections; any
    malformed or truncated input raises ``ValueError``."""
    try:
        mid, flags, qd, an, ns, _ar = struct.unpack_from("!6H", buf, 0)
        off = 12
        question = []
        for _ in range(qd):
            qname, off = decode_name(buf, off)
            qt, _qclass = struct.unpack_from("!HH", buf, off)
            question.append((qname, TYPE_TEXT.get(qt, str(qt))))
            off += 4
        sections: list[list[RR]] = [[], []]
        for section, count in zip(sections, (an, ns)):
            for _ in range(count):
                rr, off = _decode_rr(buf, off)
                section.append(rr)
    except struct.error as e:
        raise ValueError(f"truncated DNS message: {e}") from e
    return Message(mid, flags, question, *sections)


def reply_rcode(buf: bytes, want_mid: int, opcode: int) -> int:
    """Check a reply's header against the request (id echoed, QR set,
    opcode echoed) and return its rcode; mismatches raise ``OSError``."""
    if len(buf) < 12:
        raise OSError("short DNS response (truncated header)")
    mid, flags = struct.unpack_from("!HH", buf, 0)
    if mid != want_mid:
        raise OSError(f"DNS response id mismatch: sent {want_mid}, got {mid}")
    if not flags & FLAG_QR:
        raise OSError("DNS response missing QR bit")
    if (flags >> 11) & 0xF != opcode:
        raise OSError(
            f"DNS response has opcode {(flags >> 11) & 0xF}, want {opcode}"
        )
    return flags & 0xF


def raise_for_rcode(rcode: int, what: str, zone: str) -> None:
    """NOTAUTH (the server is not authoritative for the zone) is the
    file store's unknown zone, so ``ignore-failures`` behaves the same
    on both transports; any other non-zero rcode is an ``OSError``."""
    if rcode == RCODE_NOTAUTH:
        raise ZoneNotFoundError(
            f"{what} refused: server not authoritative for {zone}"
        )
    if rcode:
        raise OSError(
            f"{what} failed: rcode={RCODE_TEXT.get(rcode, rcode)} for zone {zone}"
        )


# ------------------------------------------------------------ TCP frame
def send_frame(sock: socket.socket, wire: bytes) -> None:
    sock.sendall(len(wire).to_bytes(2, "big") + wire)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise OSError(
                f"connection closed after {len(buf)} of {n} bytes "
                "(truncated DNS stream)"
            )
        buf += chunk
    return bytes(buf)


def recv_frame(sock: socket.socket) -> bytes:
    return _recv_exact(sock, int.from_bytes(_recv_exact(sock, 2), "big"))
