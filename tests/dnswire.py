"""A 127.0.0.1 DNS server on the package codec — the wire-transport
tests' stand-in for the reference's live Bind9 container
(``src/test/java/com/acme/dns/spark/BindContainerFactory.java:21-22``).
Like an RFC 7766 server it keeps each connection open until the client
closes it, so a client only finishes a transfer by spotting the
terminating SOA.
"""

from __future__ import annotations

import socket
import threading
from typing import Callable, Sequence

from spark_dns_spark.sources.dnswire import (
    CLASS_IN,
    CLASS_NONE,
    FLAG_QR,
    OPCODE_UPDATE,
    RCODE_NOTAUTH,
    RR,
    Message,
    decode_message,
    encode_message,
    recv_frame,
    send_frame,
)
from spark_dns_spark.sources.transport import WireRR
from spark_dns_spark.sources.zonestore import (
    IXFR_ADD,
    IXFR_DELETE,
    ZoneNotFoundError,
    ZoneStore,
)

#: decoded update-section change: (action, fqdn, ip, ttl), where action
#: is "add" (class IN) or "delete" (class NONE, RFC 2136 §2.5.4)
UpdateChange = tuple[str, str, str, int]


def soa_rr(zone: str, serial: int) -> WireRR:
    return ("SOA", zone, f"ns1.{zone} hostmaster.{zone} {serial} 1 1 1 1", serial)


def parse_update_message(buf: bytes) -> tuple[int, str, list[UpdateChange]]:
    """Decode an RFC 2136 §2 UPDATE request: (mid, zone, changes).  The
    zone / prerequisite / update sections arrive as the question,
    answer and authority sections (§2.2); prerequisites are ignored."""
    msg = decode_message(buf)
    if (msg.flags >> 11) & 0xF != OPCODE_UPDATE:
        raise ValueError("not an UPDATE message")
    changes: list[UpdateChange] = []
    for rr in msg.authority:
        if rr.rtype != "A":
            raise ValueError(f"test server only models A updates, got {rr.rtype}")
        if rr.rclass == CLASS_IN:
            changes.append(("add", rr.name, rr.value, rr.ttl))
        elif rr.rclass == CLASS_NONE:  # §2.5.4 delete-an-RR (TTL must be 0)
            if rr.ttl != 0:
                raise ValueError("delete-an-RR with non-zero TTL")
            changes.append(("delete", rr.name, rr.value, 0))
        else:
            raise ValueError(f"unsupported update class {rr.rclass}")
    return msg.mid, msg.question[0][0], changes


def reply_message(
    mid: int, opcode: int, zone: str, qtype: str, rcode: int = 0,
    answer: Sequence[WireRR] = (),
) -> bytes:
    """An authoritative reply echoing the request's id, opcode and
    question (an UPDATE's zone section is its question)."""
    flags = FLAG_QR | (opcode << 11) | 0x0400 | rcode
    rrs = [RR(*rr, CLASS_IN, 300) for rr in answer]
    return encode_message(Message(mid, flags, [(zone, qtype)], rrs, []))


def store_script(store: ZoneStore) -> Callable[[str, int], list[WireRR]]:
    """The answer a live server gives an IXFR(serial) request for this
    store's state: a single SOA when up to date, per-version delete/add
    runs while the journal covers the gap, else the AXFR-shaped zone
    (NS record included).  Unknown zones raise ZoneNotFoundError."""

    def script(zone: str, serial: int) -> list[WireRR]:
        d = store._load(zone)
        cur = int(d["serial"])
        if serial >= cur:
            return [soa_rr(zone, cur)]
        have = {int(h[0]) for h in d["history"]}
        journal_ok = all(s in have for s in range(serial + 1, cur + 1))
        if serial == 0 or serial < int(d.get("base_serial", 0)) or not journal_ok:
            body = [("A", f, ip, 0) for f, ip in d["records"]]
            ns = ("NS", zone, f"ns1.{zone}", 0)
            return [soa_rr(zone, cur), ns, *body, soa_rr(zone, cur)]
        out = [soa_rr(zone, cur)]
        for s in range(serial + 1, cur + 1):
            chg = [h for h in d["history"] if int(h[0]) == s]
            out.append(soa_rr(zone, s - 1))
            out.extend(("A", h[2], h[3], 0) for h in chg if h[1] == IXFR_DELETE)
            out.append(soa_rr(zone, s))
            out.extend(("A", h[2], h[3], 0) for h in chg if h[1] != IXFR_DELETE)
        out.append(soa_rr(zone, cur))
        return out

    return script


class LoopbackDnsServer:
    """127.0.0.1 TCP DNS server.

    - IXFR/AXFR: ``script(zone, req_serial) -> list[WireRR]`` supplies
      the answer, split across ``split`` messages (RFC 5936 §2);
    - SOA: answered with ``serial(zone)``;
    - UPDATE: ``update_handler(zone, changes) -> rcode``; no handler
      answers NOTIMP.

    A callable raising ZoneNotFoundError answers NOTAUTH.  ``fault``
    corrupts every reply: ``"bad-id"`` flips the message id,
    ``"undecodable"`` cuts the body short behind a valid header,
    ``"short-frame"`` promises 100 bytes more than it sends and hangs
    up, ``"hangup"`` closes right after the answer, ``"silent"`` never
    answers.  Requests are
    recorded in ``self.requests``; an UPDATE's raw message is kept
    under ``"wire"``.
    """

    def __init__(
        self,
        script: Callable[[str, int], Sequence[WireRR]] | None = None,
        serial: Callable[[str], int] | None = None,
        update_handler: Callable[[str, list[UpdateChange]], int] | None = None,
        split: int = 2,
        fault: str | None = None,
    ):
        self.script = script
        self.serial = serial
        self.update_handler = update_handler
        self.split = max(1, split)
        self.fault = fault
        self.requests: list[dict] = []
        self._tcp = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._tcp.bind(("127.0.0.1", 0))
        self._tcp.listen(32)  # Spark reads and writes partitions concurrently
        self.port = self._tcp.getsockname()[1]
        threading.Thread(target=self._serve, daemon=True).start()

    @classmethod
    def for_store(cls, store: ZoneStore, **kw) -> "LoopbackDnsServer":
        """Serve ``store``: transfers and SOA polls read it, UPDATEs
        apply to it, and zones it lacks answer NOTAUTH."""

        def update(zone: str, changes: list[UpdateChange]) -> int:
            if zone not in store.zones():
                return RCODE_NOTAUTH
            store.apply_update(zone, [
                (IXFR_ADD if action == "add" else IXFR_DELETE, fqdn, ip)
                for action, fqdn, ip, _ttl in changes
            ])
            return 0

        return cls(store_script(store), store.serial, update, **kw)

    def _serve(self) -> None:
        while True:
            try:
                conn, _ = self._tcp.accept()
            except OSError:
                return  # closed
            threading.Thread(
                target=self._handle, args=(conn,), daemon=True
            ).start()

    def _handle(self, conn: socket.socket) -> None:
        """Answer queries on one connection until the client closes it."""
        with conn:
            while True:
                try:
                    raw = recv_frame(conn)
                except OSError:
                    return  # client done
                if self.fault == "silent":
                    continue
                for wire in self._answer(raw):
                    if self.fault == "bad-id":
                        wire = bytes([wire[0] ^ 0xFF]) + wire[1:]
                    elif self.fault == "undecodable":
                        wire = wire[:-3]
                    elif self.fault == "short-frame":
                        conn.sendall((len(wire) + 100).to_bytes(2, "big") + wire)
                        return
                    send_frame(conn, wire)
                if self.fault == "hangup":
                    return

    def _answer(self, raw: bytes) -> list[bytes]:
        opcode = (raw[2] >> 3) & 0xF
        if opcode == OPCODE_UPDATE:
            mid, zone, changes = parse_update_message(raw)
            self.requests.append(
                {"qname": zone, "qtype": "UPDATE", "changes": changes, "wire": raw}
            )
            rcode = 4  # NOTIMP
            if self.update_handler is not None:
                rcode = self.update_handler(zone, changes)
            return [reply_message(mid, opcode, zone, "SOA", rcode)]
        q = decode_message(raw)
        zone, qtype = q.question[0]
        try:
            if qtype == "SOA":
                self.requests.append({"qname": zone, "qtype": qtype})
                rrs = [soa_rr(zone, self.serial(zone))]
                return [reply_message(q.mid, opcode, zone, qtype, answer=rrs)]
            req_serial = q.authority[0].serial if q.authority else 0
            self.requests.append({"qname": zone, "qtype": qtype, "serial": req_serial})
            rrs = list(self.script(zone, req_serial))
        except ZoneNotFoundError:
            return [reply_message(q.mid, opcode, zone, qtype, RCODE_NOTAUTH)]
        # RFC 5936 §2: a transfer legitimately spans messages — split
        # so the client MUST fold across messages.
        per = max(1, (len(rrs) + self.split - 1) // self.split)
        return [
            reply_message(q.mid, opcode, zone, qtype, answer=rrs[i : i + per])
            for i in range(0, len(rrs), per)
        ]

    def close(self) -> None:
        self._tcp.close()
