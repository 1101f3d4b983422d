"""Seeded input generators for the connector workloads.

Everything here is a pure function of the seed: the same seed gives the
same zone files (checked through :func:`store_digest`) and the same
update feed.  The package only ever sees the generated inputs.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from spark_dns_spark.sources.zonestore import IXFR_ADD, IXFR_DELETE, ZoneStore

#: share of adds that re-add a previously deleted record (delete→re-add churn)
READD_SHARE = 0.2


def _ip(zone_idx: int, rec_idx: int) -> str:
    return f"10.{zone_idx}.{(rec_idx >> 8) & 255}.{rec_idx & 255}"


@dataclass
class ZoneModel:
    """Generator-side truth for one zone: the live set and the journal."""

    zone: str
    idx: int
    live: list = field(default_factory=list)   # [(fqdn, ip)], unordered
    dead: list = field(default_factory=list)   # deleted, eligible for re-add
    journal: list = field(default_factory=list)  # [(serial, action, fqdn, ip)]
    next_rec: int = 0

    def _new_record(self) -> tuple[str, str]:
        i = self.next_rec
        self.next_rec += 1
        return (f"h{i}.{self.zone}", _ip(self.idx, i))

    def add(self, rng: random.Random) -> tuple[str, str]:
        if self.dead and rng.random() < READD_SHARE:
            rec = self.dead.pop(rng.randrange(len(self.dead)))
        else:
            rec = self._new_record()
        self.live.append(rec)
        return rec

    def delete(self, rng: random.Random) -> tuple[str, str]:
        i = rng.randrange(len(self.live))
        self.live[i], self.live[-1] = self.live[-1], self.live[i]
        rec = self.live.pop()
        self.dead.append(rec)
        return rec


def build_zone(zone: str, idx: int, head: int, live_target: int,
               rng: random.Random) -> ZoneModel:
    """A zone whose journal holds exactly ``head`` single-change serials
    and whose live set ends at ``live_target`` records.

    Adds and deletes are interleaved at random (a delete never hits an
    empty zone); ``READD_SHARE`` of the adds bring back a deleted
    record, so the journal carries delete→re-add churn."""
    if not 0 < live_target <= head or (head - live_target) % 2:
        raise ValueError(f"bad zone shape: head={head} live={live_target}")
    m = ZoneModel(zone, idx)
    adds, dels = (head + live_target) // 2, (head - live_target) // 2
    for serial in range(1, head + 1):
        if m.live and rng.random() < dels / (adds + dels):
            dels -= 1
            rec, action = m.delete(rng), IXFR_DELETE
        else:
            adds -= 1
            rec, action = m.add(rng), IXFR_ADD
        m.journal.append((serial, action, rec[0], rec[1]))
    return m


def skewed_sizes(rng: random.Random, n: int, median: int, head: int) -> list[int]:
    """Live sizes: one zone at 4× ``median`` (the largest zone sets a
    one-partition-per-zone read's wall time), the others spread evenly
    over 0.5–1.5× it.  The seed only decides which zone gets which size,
    so every seed reads the same number of rows.  Parity is fixed to
    match ``head`` so adds and deletes split evenly."""
    rest = [int(median * (0.5 + i / max(1, n - 2))) for i in range(n - 1)]
    sizes = [4 * median] + rest
    rng.shuffle(sizes)
    return [min(head, s - ((head - s) % 2)) for s in sizes]


def write_store(root: str, zones: list[ZoneModel]) -> None:
    store = ZoneStore(root)
    for m in zones:
        store.create_zone(
            m.zone, records=list(m.live),
            serial=m.journal[-1][0] if m.journal else 1,
            history=[list(h) for h in m.journal],
        )


def store_digest(root: str) -> str:
    """sha256 over every zone file's bytes, in name order."""
    h = hashlib.sha256()
    for fn in sorted(os.listdir(root)):
        if fn.endswith(".zone.json"):
            h.update(fn.encode())
            with open(os.path.join(root, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def zone_store(seed: int, n_zones: int, head: int, median_live: int,
               suffix: str) -> list[ZoneModel]:
    rng = random.Random(seed)
    sizes = skewed_sizes(rng, n_zones, median_live, head)
    return [
        build_zone(f"z{i:02d}.{suffix}.", i, head, sizes[i], rng)
        for i in range(n_zones)
    ]


def update_messages(zones: list[ZoneModel], n_msgs: int, per_msg: int,
                    seed: int) -> list[tuple[str, list[tuple[str, str, str]]]]:
    """Round-robin update messages for the live stream phase.  Each
    holds ``per_msg`` changes: adds, deletes of live records, and one
    delete→re-add of the same record.  Advances the zone models."""
    rng = random.Random(seed)
    out = []
    for k in range(n_msgs):
        m = zones[k % len(zones)]
        changes = []
        rec = m.delete(rng)
        changes.append((IXFR_DELETE, *rec))
        m.dead.remove(rec)
        m.live.append(rec)
        changes.append((IXFR_ADD, *rec))
        while len(changes) < per_msg:
            if len(changes) % 4 == 3:
                rec, action = m.delete(rng), IXFR_DELETE
            else:
                rec, action = m.add(rng), IXFR_ADD
            changes.append((action, *rec))
        out.append((m.zone, changes))
    return out


# -- DDNS update feed ----------------------------------------------------

FEED_T0_US = 1_700_000_000_000_000
#: share of feed rows drawn from a hot tenth of the keys (repeated keys)
HOT_SHARE = 0.2


def update_feed(seed: int, zones: list[str], n_rows: int, keys_per_zone: int,
                path: str) -> dict[str, set]:
    """A ``dns_update`` feed of ``n_rows`` rows written to ``path``
    (parquet) plus the initial zone contents it applies to.

    Keys repeat (duplicates of one (action, fqdn, ip)), deletes follow
    adds of the same record, timestamps are coarse so many rows tie and
    ``event_id`` breaks the tie; a third of fqdns are upper-cased or
    lack the trailing dot (the sink normalises both).  Returns the
    initial records per zone."""
    rng = random.Random(seed)
    initial = {
        z: {(f"k{i}.{z}", _ip(zi, i)) for i in range(0, keys_per_zone, 3)}
        for zi, z in enumerate(zones)
    }
    cols = {k: [] for k in ("action", "fqdn", "ip", "timestamp", "ttl", "event_id")}
    n_ts = max(1, n_rows // 8)  # ~8 rows per timestamp: ties are common
    for eid in range(n_rows):
        zi = rng.randrange(len(zones))
        hot = rng.random() < HOT_SHARE
        i = rng.randrange(keys_per_zone // 10 if hot else keys_per_zone)
        fqdn = f"k{i}.{zones[zi]}"
        r = rng.random()
        if r < 0.2:
            fqdn = fqdn.upper()
        elif r < 0.35:
            fqdn = fqdn[:-1]
        cols["action"].append(IXFR_DELETE if rng.random() < 0.35 else IXFR_ADD)
        cols["fqdn"].append(fqdn)
        cols["ip"].append(_ip(zi, i))
        cols["timestamp"].append(FEED_T0_US + rng.randrange(n_ts) * 1_000_000)
        cols["ttl"].append(60 + rng.randrange(3600))
        cols["event_id"].append(eid)
    table = pa.table({
        "action": pa.array(cols["action"], pa.string()),
        "fqdn": pa.array(cols["fqdn"], pa.string()),
        "ip": pa.array(cols["ip"], pa.string()),
        "timestamp": pa.array(cols["timestamp"], pa.timestamp("us", tz="UTC")),
        "ttl": pa.array(cols["ttl"], pa.int32()),
        "event_id": pa.array(cols["event_id"], pa.int64()),
    })
    pq.write_table(table, path)
    return initial


def latest_wins_state(path: str, initial: dict[str, set]) -> dict[str, set]:
    """Reference result of applying the feed: per (fqdn, ip) the row
    with the greatest (timestamp, event_id) decides presence."""
    t = pq.read_table(path).to_pydict()
    latest: dict[tuple[str, str], tuple] = {}
    for a, f, ip, ts, eid in zip(t["action"], t["fqdn"], t["ip"],
                                 t["timestamp"], t["event_id"]):
        f = f.lower()
        f = f if f.endswith(".") else f + "."
        key = (f, ip)
        cand = (ts, eid, a)
        if key not in latest or cand > latest[key]:
            latest[key] = cand
    state = {z: set(recs) for z, recs in initial.items()}
    for (f, ip), (_, _, a) in latest.items():
        zone = f.split(".", 1)[1]
        if a == IXFR_DELETE:
            state[zone].discard((f, ip))
        else:
            state[zone].add((f, ip))
    return state
