"""Format ``dns`` — batch + streaming read of DNS zone transfers as a
Spark table (SURVEY.md §2.1 S1–S7), on the public Python DataSource API.

Architecture vs the reference (a Java DSv1 RelationProvider +
hand-rolled RDD, spark/read/*.java): same observable semantics, Spark-4
native mechanics —

- one :class:`InputPartition` per zone (S3; parallel across zones,
  serial within — the protocol constraint, README.md:5-6);
- fixed 6-column schema in bean-encoder alphabetical order
  (``action, fqdn, ip, organization, timestamp, zone`` —
  DnsRecordToRowConverter.java:20-29); user-supplied schema is ignored
  exactly like DnsSourceRelationProvider.java:51-53;
- **zone-filter pushdown** via ``pushFilters`` (EqualTo/In on ``zone``)
  prunes partitions before any transfer runs — an improvement the
  reference's TableScan cannot express (SURVEY.md §4 row 1);
- transfer timestamp is pinned at *planning* time and shipped inside
  the partition, so task retries are deterministic (fixes the
  speculative-retry hazard of DnsZoneRDD.java:94, SURVEY.md §4);
- ``ignore-failures`` (T7): transfer errors → log + empty partition
  instead of task failure (DnsZoneRDD.java:82-92).

Streaming (S7, T1–T5) lives in :class:`DnsStreamReader`: real
end-of-data offsets ``{zone: serial}`` (the store supports a cheap
serial poll, so the reference's always-unequal wall-clock offset hack —
ZoneOffset.java:12-16 — is unnecessary; empty batches simply plan zero
partitions), plus a reference-parity progress log with
``max-kept-commits`` retention written on ``commit()``
(ProgressSerDe.java:71-130).
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from spark_dns_spark.sources.options import XFR_AXFR, DnsSourceOptions, OptionError
from spark_dns_spark.sources.transport import make_transport
from spark_dns_spark.sources.zonestore import ZoneNotFoundError

log = logging.getLogger(__name__)

#: Read schema — 6 columns, alphabetical (bean-encoder order parity,
#: DnsRecordToRowConverter.java:20, SURVEY.md §1.3).
READ_SCHEMA = StructType(
    [
        StructField("action", StringType(), True),
        StructField("fqdn", StringType(), True),
        StructField("ip", StringType(), True),
        StructField("organization", StringType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("zone", StringType(), False),
    ]
)

#: Write schema — 5 columns, alphabetical (DnsSinkRelation.java:19).
WRITE_SCHEMA = StructType(
    [
        StructField("action", StringType(), True),
        StructField("fqdn", StringType(), True),
        StructField("ip", StringType(), True),
        StructField("timestamp", TimestampType(), False),
        StructField("ttl", IntegerType(), False),
    ]
)


@dataclass
class DnsZonePartition(InputPartition):
    """S3 — one partition per zone; carries everything ``read`` needs so
    executors never call back to the driver (DnsZonePartition.java:11-19)."""

    zone: str
    from_serial: int  # 0 ⇒ full AXFR
    to_serial: int | None  # streaming upper bound; None ⇒ latest
    axfr: bool
    batch_ts_us: int  # planning-time timestamp (deterministic retries)


def _transfer_rows(opts: DnsSourceOptions, part: DnsZonePartition):
    """S4/S5/S6 — run one zone transfer and emit schema-ordered tuples.

    The executor-side body of DnsZoneRDD.compute (DnsZoneRDD.java:65-97):
    transfer, suppress-or-throw, stamp constant columns.
    """
    ts = datetime.fromtimestamp(part.batch_ts_us / 1e6, tz=timezone.utc).replace(
        tzinfo=None
    )
    transport = make_transport(opts)
    try:
        # port/timeout behave like the reference's TCP client: wrong
        # port refuses, simulated RTT beyond `timeout` times out — both
        # suppressable via ignore-failures (DnsZoneRDD.java:82-92).
        transport.check_connect(part.zone)
        # transfer() serves from_serial==0 as a snapshot BOUNDED at
        # to_serial, so a streaming batch planned at [0, end] stays
        # pinned to its offsets even if the store advances before the
        # task runs (or the task retries) — no duplicate re-delivery at
        # the next batch.
        res = transport.transfer(
            part.zone, part.from_serial, part.to_serial, part.axfr
        )
    except (OSError, ZoneNotFoundError) as e:
        if not opts.ignore_failures:
            raise
        # log + empty partition (DnsZoneRDD.java:86-91)
        log.warning("ignore-failures: zone %s read as empty: %r", part.zone, e)
        return
    for action, fqdn, ip in res.rows:
        # column order = READ_SCHEMA order
        yield (action, fqdn.lower(), ip, opts.organization, ts, part.zone)


def _now_us() -> int:
    return int(datetime.now(tz=timezone.utc).timestamp() * 1e6)


class DnsBatchReader(DataSourceReader):
    """S2 — batch scan; full-scan semantics plus zone pushdown."""

    def __init__(self, options: dict):
        self.opts = DnsSourceOptions.parse(options)
        self._zone_filter: set[str] | None = None

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("zone",):
                values = {f.value}
            elif isinstance(f, In) and f.attribute == ("zone",):
                values = set(f.values)
            else:
                yield f  # not ours — Spark keeps it above the scan
                continue
            # Consumed filters are ANDed by contract, so successive
            # zone predicates intersect (keeping only the last would
            # silently drop the others — Spark does not re-apply what
            # pushFilters consumed).
            self._zone_filter = (
                values
                if self._zone_filter is None
                else self._zone_filter & values
            )

    def partitions(self):
        ts = _now_us()
        zones = self.opts.zones or make_transport(self.opts).zones()
        if self._zone_filter is not None:
            zones = [z for z in zones if z in self._zone_filter]
        return [
            DnsZonePartition(
                zone=z,
                from_serial=self.opts.serial,
                to_serial=None,
                axfr=self.opts.xfr == XFR_AXFR,
                batch_ts_us=ts,
            )
            for z in zones
        ]

    def read(self, partition: DnsZonePartition):
        yield from _transfer_rows(self.opts, partition)


class ProgressLog:
    """T3/O2/O3 — the reference's own progress files beside Spark's
    checkpoint (ProgressSerDe.java:18-21): one JSON file per committed
    batch, newest ``max-kept-commits`` retained."""

    def __init__(self, path: str, max_kept: int):
        self.path = path
        self.max_kept = max_kept

    def _ids(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        return sorted(int(f) for f in os.listdir(self.path) if f.isdigit())

    def latest(self) -> dict[str, int] | None:
        ids = self._ids()
        if not ids:
            return None
        with open(os.path.join(self.path, str(ids[-1]))) as f:
            return {z: int(s) for z, s in json.load(f).items()}

    def commit(self, serials: dict[str, int]) -> int:
        os.makedirs(self.path, exist_ok=True)
        ids = self._ids()
        batch_id = (ids[-1] + 1) if ids else 0  # O3: max+1
        with open(os.path.join(self.path, str(batch_id)), "w") as f:
            json.dump(serials, f)
        for old in ids[: max(0, len(ids) + 1 - self.max_kept)]:  # O2 retention
            os.unlink(os.path.join(self.path, str(old)))
        return batch_id


class DnsStreamReader(DataSourceStreamReader):
    """S7/T1–T5 — micro-batch source over the zone store."""

    def __init__(self, options: dict):
        self.opts = DnsSourceOptions.parse(options)
        progress_dir = options.get("progress-dir")
        if not progress_dir:
            if self.opts.transport == "wire":
                # `store` names the server here, not a directory: the
                # default would land in <host>/.progress relative to
                # whatever directory the worker runs in.
                raise OptionError(
                    "transport=wire streaming requires the 'progress-dir' "
                    "option: 'store' names a server, not a directory"
                )
            progress_dir = os.path.join(self.opts.store, ".progress")
        self.progress = ProgressLog(progress_dir, self.opts.max_kept_commits)
        # admission-control clock: the last offsets handed to the
        # engine (lazily seeded from initialOffset so restart recovery
        # and the `serial` option apply identically)
        self._clock: dict[str, int] | None = None

    # -- admission clock persistence ----------------------------------
    # Spark never tells latestOffset() where the last batch ended (the
    # Python API passes no start offset), and commit() for a run's
    # FINAL batch only fires when a NEXT batch starts — so a capped
    # source restarted via checkpoints would re-admit from a stale
    # position and plan no new batch, forever.  The clock therefore
    # persists itself beside the progress log ("admission.json"; the
    # progress id listing skips non-digit names).  It is an upper-bound
    # HINT, not a commitment: after a crash between admit and process,
    # the next run admits (old admitted)+cap — and because the clock is
    # persisted in latestOffset() BEFORE the batch is processed, a
    # crash-restart LOOP compounds: each restart re-admits +cap, so the
    # first batch that finally succeeds can be up to cap x restarts
    # large.  Same best-effort class as kafka's maxOffsetsPerTrigger
    # (which also re-admits on restart); moving the persist into
    # commit() would instead re-plan the identical batch forever when
    # commit never fires, which is worse.

    def _admission_path(self) -> str:
        return os.path.join(self.progress.path, "admission.json")

    def _seed_clock(self) -> dict[str, int]:
        clock = {z: int(s) for z, s in self.initialOffset().items()}
        try:
            with open(self._admission_path()) as f:
                for z, s in json.load(f).items():
                    clock[z] = max(clock.get(z, 0), int(s))
        except (OSError, ValueError):
            pass  # first run / no admission state yet
        return clock

    def _save_clock(self) -> None:
        os.makedirs(self.progress.path, exist_ok=True)
        with open(self._admission_path(), "w") as f:
            json.dump(self._clock, f)

    def _zones(self) -> list[str]:
        return self.opts.zones or make_transport(self.opts).zones()

    def initialOffset(self) -> dict:
        # T4 restart recovery: newest progress file wins over the
        # `serial` option (DnsSourceRelationProvider.java:57-64).
        restored = self.progress.latest()
        if restored is not None:
            return {z: restored.get(z, 0) for z in self._zones()}
        return {z: self.opts.serial for z in self._zones()}

    def latestOffset(self) -> dict:
        # Real end-of-data offsets (any transport serves a serial poll:
        # file store reads the zone file, wire sends a SOA query).
        # With max-changes-per-batch set (kafka maxOffsetsPerTrigger
        # analog), the offset handed to the engine advances at most
        # `cap` serials per zone past the previous batch's end, so a
        # huge IXFR backlog drains across micro-batches instead of
        # landing in one giant batch; the transfer itself is
        # serial-bounded by to_serial, and progress/commit semantics
        # are unchanged (exactly-once across the split batches).
        transport = make_transport(self.opts)
        cap = self.opts.max_changes_per_batch
        if cap and self._clock is None:
            self._clock = self._seed_clock()
        out = {}
        for z in self._zones():
            try:
                target = int(transport.serial(z))
            except ZoneNotFoundError as e:
                if not self.opts.ignore_failures:
                    raise
                log.warning(
                    "ignore-failures: zone %s left out of this batch's "
                    "offsets: %r", z, e,
                )
                continue
            if cap:
                target = min(target, int(self._clock.get(z, 0)) + cap)
            out[z] = target
        if cap:
            self._clock = {**self._clock, **out}
            self._save_clock()
        return out

    def partitions(self, start: dict, end: dict):
        ts = _now_us()
        parts = []
        for zone, hi in end.items():
            lo = int(start.get(zone, 0))  # zone added mid-stream ⇒ from 0
            if int(hi) > lo:
                parts.append(
                    DnsZonePartition(
                        zone=zone,
                        from_serial=lo,
                        to_serial=int(hi),
                        axfr=False,
                        batch_ts_us=ts,
                    )
                )
        # zones present in start but dropped from end are skipped —
        # warn-and-skip parity with DnsStreamingSource.java:86-89
        return parts

    def read(self, partition: DnsZonePartition):
        yield from _transfer_rows(self.opts, partition)

    def commit(self, end: dict) -> None:
        self.progress.commit({z: int(s) for z, s in end.items()})

    def stop(self) -> None:
        pass


class DnsDataSource(DataSource):
    """S1 — format ``dns`` (DnsSourceRelationProvider.java:32-34)."""

    @classmethod
    def name(cls) -> str:
        return "dns"

    def schema(self) -> StructType:
        # fixed — user schema ignored (DnsSourceRelationProvider.java:51-53)
        return READ_SCHEMA

    @staticmethod
    def _check_schema(schema: StructType) -> None:
        # The reference *silently ignores* user schemas
        # (DnsSourceRelation.java:28-30); the Python API always honors
        # one, so silent-ignore is impossible — fail loudly instead of
        # emitting rows that don't line up.
        if [f.name for f in schema.fields] != [f.name for f in READ_SCHEMA.fields]:
            raise ValueError(
                "the dns source has a fixed schema "
                "(action, fqdn, ip, organization, timestamp, zone); "
                "user-supplied schemas are not supported"
            )

    #: spark.dns.* conf snapshot baked in by register_all (options.py):
    #: persistent catalog tables reach reader() with EMPTY options, in
    #: a worker process with no session — the snapshot rides on the
    #: cloudpickled class instead.
    _conf_defaults: dict = {}

    def _resolved_options(self) -> dict:
        from spark_dns_spark.sources.options import apply_defaults  # noqa: PLC0415

        return apply_defaults(self.options, self._conf_defaults)

    def reader(self, schema: StructType) -> DnsBatchReader:
        self._check_schema(schema)
        return DnsBatchReader(self._resolved_options())

    def streamReader(self, schema: StructType) -> DnsStreamReader:
        self._check_schema(schema)
        return DnsStreamReader(self._resolved_options())
