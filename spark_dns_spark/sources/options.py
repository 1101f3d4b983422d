"""Option parsing/validation — SURVEY.md §2.8 F9.

Mirrors spark/common/DnsOptions.java:42-60 and
spark/read/DnsSourceOptions.java:61-112, including two documented
quirks we preserve deliberately:

- **port upper bound** is ``(2<<16)-1`` = 131071, not 65535
  (DnsOptions.java:16-17);
- **ignore-failures default** is effectively ``false`` because the
  reference defaults the value to the literal key name, which
  ``Boolean.parseBoolean`` maps to false
  (DnsSourceOptions.java:99-103) — we default to false directly.
"""

from __future__ import annotations

from dataclasses import dataclass, field

XFR_AXFR = "axfr"
XFR_IXFR = "ixfr"


class OptionError(ValueError):
    pass


def _get(options: dict, key: str, default=None):
    # Spark lower-cases datasource option keys; accept both spellings.
    for k in (key, key.lower()):
        if k in options:
            return options[k]
    return default


#: Session-conf fallback namespace for persistent catalog tables.
#: Spark 4.1's Python Data Source catalog integration stores a
#: persistent table's SCHEMA but forwards EMPTY options to the reader
#: (probed r7; reference SQL tests use real catalog tables,
#: DnsSourceRelationProviderTest.java:228-241).  So that
#: ``CREATE TABLE ... USING dns`` is actually usable, every option can
#: also be supplied as ``spark.dns.<option>`` session conf — explicit
#: datasource options always win; conf only fills absent keys.
CONF_PREFIX = "spark.dns."
CONF_KEYS = (
    "store", "server", "port", "timeout", "organization", "zones",
    "xfr", "serial", "ignore-failures",
    "max-kept-commits", "max-changes-per-batch", "transport",
)


def conf_snapshot(spark) -> dict:
    """Read the ``spark.dns.*`` conf namespace from a LIVE session.

    Called by ``register_all`` in the driver's main process, where the
    runtime conf exists; the snapshot is then baked into the registered
    datasource classes because readers/writers are constructed in
    planning worker processes that have no session at all (probed on
    Spark 4.1: ``SparkSession.getActiveSession()`` is None inside
    ``pyspark.sql.worker.plan_data_source_read``).
    """
    out: dict = {}
    for key in CONF_KEYS:
        try:
            v = spark.conf.get(CONF_PREFIX + key, None)
        except Exception:  # pragma: no cover - conf access failure
            v = None
        if v is not None:
            out[key] = v
    return out


def apply_defaults(options: dict, defaults: dict) -> dict:
    """Fill absent option keys from a conf snapshot — explicit
    datasource options always win."""
    out = dict(options)
    for key, v in defaults.items():
        if _get(out, key) is None:
            out[key] = v
    return out


@dataclass
class DnsOptions:
    """Common options (read + write): the store path stands in for
    server+port (DnsOptions.java:16-25)."""

    store: str
    port: int = 53
    timeout: float = 10.0  # seconds, default mirrors DnsOptions.java:24-25
    organization: str = ""

    @classmethod
    def parse(cls, options: dict) -> "DnsOptions":
        store = _get(options, "store") or _get(options, "server")
        if not store:
            raise OptionError(
                "missing required option: store. NB if this table was "
                "created with a persistent CREATE TABLE ... USING dns: "
                "Spark's Python Data Source catalog integration does not "
                "round-trip table OPTIONS to the reader (observed on "
                "Spark 4.1: the catalog stores the schema but forwards "
                "empty options) — set session conf spark.dns.store (and "
                "spark.dns.zones etc.), or use CREATE TEMPORARY VIEW ... "
                "USING dns OPTIONS (...) / spark.read.format('dns')"
            )
        port = int(_get(options, "port", 53))
        if not (1 <= port < (2 << 16) - 1):  # quirk: 131071, not 65536
            raise OptionError(f"invalid port: {port}")
        timeout = float(_get(options, "timeout", 10))
        if timeout < 0:
            raise OptionError(f"invalid timeout: {timeout}")
        return cls(
            store=store,
            port=port,
            timeout=timeout,
            organization=_get(options, "organization", "") or "",
        )


@dataclass
class DnsSourceOptions(DnsOptions):
    """Read-side options (DnsSourceOptions.java:50-112)."""

    zones: list[str] = field(default_factory=list)
    xfr: str = XFR_IXFR
    serial: int = 0
    ignore_failures: bool = False
    max_kept_commits: int = 10  # streaming progress retention (O2)
    #: Streaming admission control (kafka ``maxOffsetsPerTrigger``
    #: analog; the reference has no equivalent — a zone with a huge
    #: IXFR backlog lands in ONE giant micro-batch there): cap the
    #: per-zone serial advance of each micro-batch so a backlog drains
    #: across triggers.  0 = unlimited (reference behavior).
    max_changes_per_batch: int = 0
    #: 'store' (file-backed simulator, default) or 'wire' (a TCP zone
    #: transfer from a live server — transport.py).
    transport: str = "store"

    @classmethod
    def parse(cls, options: dict) -> "DnsSourceOptions":
        base = DnsOptions.parse(options)
        transport = str(_get(options, "transport", "store")).lower()
        if transport not in ("store", "wire"):
            raise OptionError(f"invalid transport: {transport}")
        zones_csv = _get(options, "zones", "") or ""
        # P5: CSV → trimmed, de-duplicated, order-preserving
        # (DnsSourceOptions.java:61-65)
        zones: list[str] = []
        for z in zones_csv.split(","):
            z = z.strip()
            if z and z not in zones:
                zones.append(z)
        xfr = str(_get(options, "xfr", XFR_IXFR)).lower()  # case-insensitive
        if xfr not in (XFR_AXFR, XFR_IXFR):
            raise OptionError(f"invalid xfr type: {xfr}")
        serial = int(_get(options, "serial", 0))
        if serial < 0:
            raise OptionError(f"invalid serial: {serial}")
        ignore = str(_get(options, "ignore-failures", "false")).lower() == "true"
        kept = int(_get(options, "max-kept-commits", 10))
        if kept <= 0:
            raise OptionError(f"invalid max-kept-commits: {kept}")
        max_changes = int(_get(options, "max-changes-per-batch", 0))
        if max_changes < 0:
            raise OptionError(
                f"invalid max-changes-per-batch: {max_changes}"
            )
        return cls(
            store=base.store,
            port=base.port,
            timeout=base.timeout,
            organization=base.organization,
            zones=zones,
            xfr=xfr,
            serial=serial,
            ignore_failures=ignore,
            max_kept_commits=kept,
            max_changes_per_batch=max_changes,
            transport=transport,
        )
