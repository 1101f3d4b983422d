"""Loopback RFC 2136 UPDATE responder for the wire sink workload.

One thread serves connections one after another (concurrent senders
wait in the listen backlog).  Each length-framed message (RFC 1035
§4.2.2) is parsed: header with opcode UPDATE, one Zone-section entry of
type SOA, no prerequisites, then the Update section, whose A records
are applied in order to an in-memory zone map (class IN adds, class
NONE deletes one RR, RFC 2136 §2.5.1/§2.5.4).  The answer echoes the
message id with NOERROR, NOTAUTH for a zone it does not hold, or
FORMERR for a message it cannot parse.  It is written against the RFCs
and shares no code with the package's encoder.
"""

from __future__ import annotations

import socket
import struct
import threading

OPCODE_UPDATE = 5
TYPE_A, TYPE_SOA = 1, 6
CLASS_IN, CLASS_NONE = 1, 254
NOERROR, FORMERR, NOTAUTH = 0, 1, 9


class FormatError(ValueError):
    pass


def _name(buf: bytes, off: int) -> tuple[str, int]:
    labels = []
    while True:
        if off >= len(buf):
            raise FormatError("name runs past the message")
        n = buf[off]
        off += 1
        if n == 0:
            return ".".join(labels).lower() + ".", off
        if n > 63:
            raise FormatError("compressed or oversized label")
        labels.append(buf[off:off + n].decode("ascii"))
        off += n


def parse_update(buf: bytes) -> tuple[int, str, list[tuple[bool, str, str]]]:
    """(id, zone, [(is_add, fqdn, ip)]) of one UPDATE message."""
    if len(buf) < 12:
        raise FormatError("short header")
    mid, flags, zocount, prcount, upcount, adcount = struct.unpack_from(
        "!HHHHHH", buf, 0)
    if flags & 0x8000 or (flags >> 11) & 0xF != OPCODE_UPDATE:
        raise FormatError(f"not an UPDATE request (flags {flags:#06x})")
    if zocount != 1 or prcount or adcount:
        raise FormatError("want one zone, no prerequisites, no additional")
    zone, off = _name(buf, 12)
    ztype, zclass = struct.unpack_from("!HH", buf, off)
    if ztype != TYPE_SOA or zclass != CLASS_IN:
        raise FormatError("zone section is not SOA/IN")
    off += 4
    changes = []
    for _ in range(upcount):
        fqdn, off = _name(buf, off)
        rtype, rclass, ttl, rdlen = struct.unpack_from("!HHIH", buf, off)
        off += 10
        rdata = buf[off:off + rdlen]
        off += rdlen
        if rtype != TYPE_A or rdlen != 4 or len(rdata) != 4:
            raise FormatError("only A records are expected")
        if rclass == CLASS_IN:
            is_add = True
        elif rclass == CLASS_NONE and ttl == 0:
            is_add = False
        else:
            raise FormatError(f"unexpected class {rclass} / ttl {ttl}")
        changes.append((is_add, fqdn, socket.inet_ntoa(rdata)))
    if off != len(buf):
        raise FormatError("trailing bytes")
    return mid, zone, changes


def _recv_exact(conn: socket.socket, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


class Responder:
    """Serve UPDATEs for ``zones`` ({zone: set((fqdn, ip))}) on
    127.0.0.1 from one thread; counts messages and bytes received."""

    def __init__(self, zones: dict[str, set]):
        self.zones = {z: set(r) for z, r in zones.items()}
        self.messages = 0
        self.bytes = 0
        self._lock = threading.Lock()
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(64)
        self._sock.settimeout(0.2)
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, name="rfc2136",
                                        daemon=True)
        self._thread.start()

    def reset(self, zones: dict[str, set]) -> None:
        with self._lock:
            self.zones = {z: set(r) for z, r in zones.items()}
            self.messages = self.bytes = 0

    def snapshot(self) -> dict[str, set]:
        with self._lock:
            return {z: set(r) for z, r in self.zones.items()}

    def _answer(self, buf: bytes) -> bytes:
        try:
            mid, zone, changes = parse_update(buf)
        except (FormatError, struct.error, UnicodeDecodeError, OSError):
            mid = struct.unpack_from("!H", buf, 0)[0] if len(buf) >= 2 else 0
            rcode = FORMERR
        else:
            with self._lock:
                recs = self.zones.get(zone)
                if recs is None:
                    rcode = NOTAUTH
                else:
                    for is_add, fqdn, ip in changes:
                        (recs.add if is_add else recs.discard)((fqdn, ip))
                    rcode = NOERROR
        with self._lock:
            self.messages += 1
            self.bytes += len(buf) + 2
        return struct.pack("!HHHHHH", mid, 0x8000 | (OPCODE_UPDATE << 11) | rcode,
                           0, 0, 0, 0)

    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except TimeoutError:
                continue
            except OSError:
                return
            with conn:
                conn.settimeout(10)
                try:
                    while True:
                        head = _recv_exact(conn, 2)
                        if head is None:
                            break
                        msg = _recv_exact(conn, int.from_bytes(head, "big"))
                        if msg is None:
                            break
                        reply = self._answer(msg)
                        conn.sendall(len(reply).to_bytes(2, "big") + reply)
                except OSError:
                    pass  # sender went away; its task reports the failure

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sock.close()
