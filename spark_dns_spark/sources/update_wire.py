"""RFC 2136 DNS UPDATE wire client — the sink's live-server transport.

The reference's write side builds a real dnsjava ``Update`` message per
zone and TCP-sends it, requiring ``rcode == NOERROR``
(``spark/write/DnsUpdate.java:46-81``); its tests then verify by
resolving every written fqdn against the live server
(``DnsSinkRelationProviderTest.java:182-197``).  This module is the
Python/stdlib equivalent: an UPDATE message encoder (RFC 2136 §2) and
a length-framed TCP send (RFC 1035 §4.2.2) that raises on any
non-zero response code, both on the package codec
(:mod:`~spark_dns_spark.sources.dnswire`).

Change mapping (same action vocabulary as the file-backed
:class:`~spark_dns_spark.sources.zonestore.ZoneStore` path):

- ``AXFR`` / ``IXFR_ADD``  → "Add to an RRset" (§2.5.1): class IN,
  the record's TTL, rdata = the A address;
- ``IXFR_DELETE``          → "Delete an RR from an RRset" (§2.5.4):
  class NONE, TTL 0, rdata = the A address.

Response handling (§3.8): only the header matters — the id must echo
ours and the rcode must be 0.  ``NOTAUTH`` (the server is not
authoritative for the zone) maps to :class:`ZoneNotFoundError` so the
sink's ``ignore-failures`` contract behaves identically across
transports; any other non-zero rcode, short read, or socket error is
an ``OSError`` (the reference throws on any send failure,
``DnsUpdate.java:76-80``).
"""

from __future__ import annotations

import socket

from spark_dns_spark.sources.dnswire import (
    CLASS_IN,
    CLASS_NONE,
    MAX_MESSAGE,
    OPCODE_UPDATE,
    RR,
    Message,
    encode_message,
    encode_name,
    encode_rr,
    raise_for_rcode,
    recv_frame,
    reply_rcode,
    send_frame,
)
from spark_dns_spark.sources.zonestore import AXFR, IXFR_ADD, IXFR_DELETE

#: One update-section change: (action, absolute fqdn, ipv4 text, ttl).
UpdateRR = tuple[str, str, str, int]


def _update_rr(change: UpdateRR) -> RR:
    """One Update-section RR (§2.5.1 add / §2.5.4 delete-an-RR)."""
    action, fqdn, ip, ttl = change
    if action in (AXFR, IXFR_ADD):
        return RR("A", fqdn, ip, 0, CLASS_IN, int(ttl))
    if action == IXFR_DELETE:
        return RR("A", fqdn, ip, 0, CLASS_NONE, 0)  # §2.5.4: TTL 0
    raise ValueError(f"unknown update action: {action}")


def encode_update_message(
    zone: str, changes: list[UpdateRR], mid: int = 0
) -> bytes:
    """One RFC 2136 §2 UPDATE message: header (opcode 5), Zone section
    (zname, SOA, IN), empty Prerequisite section, Update section with
    one RR per change.  Raises ``ValueError`` past the 64 KB TCP
    message cap — batch callers chunk via :func:`chunk_changes`."""
    if not (0 <= mid <= 0xFFFF):
        raise ValueError(f"invalid message id: {mid}")
    wire = encode_message(
        Message(
            mid, OPCODE_UPDATE << 11, [(zone, "SOA")], [],
            [_update_rr(c) for c in changes],
        )
    )
    if len(wire) > MAX_MESSAGE:
        raise ValueError(
            f"DNS UPDATE message for zone {zone} is {len(wire)} bytes "
            f"(> {MAX_MESSAGE}); chunk the change list (chunk_changes)"
        )
    return wire


def chunk_changes(
    zone: str, changes: list[UpdateRR]
) -> list[list[UpdateRR]]:
    """Split a zone's change list into sublists whose encoded UPDATE
    messages each fit the 64 KB TCP frame, PRESERVING apply order
    (RFC 2136 §3.4.2: update RRs apply in order, and a later message
    only starts after the earlier one's NOERROR — so chunking keeps
    latest-wins semantics).  A zone batch of ~2000+ A changes exceeds
    one frame; pre-r9 this crashed to_bytes with an opaque
    OverflowError (ADVICE r8)."""
    fixed = 12 + len(encode_name(zone)) + 4  # header + Zone section
    budget = MAX_MESSAGE - fixed
    out: list[list[UpdateRR]] = []
    cur: list[UpdateRR] = []
    used = 0
    for change in changes:
        size = len(encode_rr(_update_rr(change)))
        if cur and used + size > budget:
            out.append(cur)
            cur, used = [], 0
        cur.append(change)
        used += size
    if cur:
        out.append(cur)
    return out


def parse_update_response(buf: bytes, want_mid: int) -> int:
    """Validate a §3.8 response header; returns the rcode."""
    return reply_rcode(buf, want_mid, OPCODE_UPDATE)


def send_update(
    server: str,
    port: int,
    timeout: float,
    zone: str,
    changes: list[UpdateRR],
) -> None:
    """TCP-send ``zone``'s changes, requiring rcode 0 for every message.

    Change lists whose single UPDATE message would exceed the 64 KB
    TCP frame (roughly >2000 A changes) are chunked into multiple
    in-order messages over ONE connection (ADVICE r8 — pre-r9 this
    path crashed on ``to_bytes`` overflow); each message must NOERROR
    before the next is sent, so a mid-batch failure never reorders
    later changes past it.

    Deterministic message ids derived from the zone + chunk index (no
    RNG in the executor path; a single connection never has two
    messages in flight, so uniqueness across connections is not
    load-bearing — the id only ties THIS response to THIS request).
    """
    chunks = chunk_changes(zone, changes)
    with socket.create_connection((server, port), timeout=timeout) as s:
        for idx, chunk in enumerate(chunks):
            mid = (
                sum(zone.encode("ascii")) * 131 + len(chunk) + 257 * idx
            ) & 0xFFFF
            send_frame(s, encode_update_message(zone, chunk, mid=mid))
            rcode = parse_update_response(recv_frame(s), mid)
            # reference behavior: any non-NOERROR response is a hard
            # failure (DnsUpdate.java:76-80); NOTAUTH is the unknown zone
            raise_for_rcode(rcode, "DNS UPDATE", zone)
