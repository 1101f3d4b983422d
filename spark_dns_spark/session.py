"""SparkSession helpers.

Local test sessions use ``local[$SPARK_GRAFT_CPUS]`` (default 32) with
AQE on and shuffle parallelism matched to cores — at cluster scale the
same code runs unchanged; only these session configs move to
spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Local core count when ``SPARK_GRAFT_CPUS`` is unset.
DEFAULT_CPUS = "32"


def local_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` or :data:`DEFAULT_CPUS`: the core count of a
    local session and of its shuffle parallelism."""
    return os.environ.get("SPARK_GRAFT_CPUS", "").strip() or DEFAULT_CPUS


#: Session-level (runtime-settable) confs every query path wants.  These
#: are safe to re-apply on a session we did not create (the driver's):
#: all are ``spark.sql.*`` runtime confs, not JVM-startup confs.
RUNTIME_CONF = {
    # Deterministic timestamps vs the DuckDB oracle (naive-UTC parquet).
    "spark.sql.session.timeZone": "UTC",
    # Arrow-written parquet without the isAdjustedToUTC flag would
    # otherwise be inferred as TIMESTAMP_NTZ (PySpark 4.x), changing the
    # column type under every temporal expression.  Read it as LTZ; the
    # pinned UTC session timezone keeps wall-clock values identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Runtime re-planning: partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Allow Python DataSource filter pushdown (zone pruning in the
    # `dns` source reader).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Called at the top of every catalog query so behavior is identical
    whether the session is ours or the driver's.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down → keep going with session defaults
    # Shuffle parallelism ~ cores for local mode; harmless under AQE
    # (AQE coalesces down again). On a real cluster this would be set
    # to ~2-3x total cores via submit conf instead.
    try:
        cpus = int(local_cpus())
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    except Exception:
        pass
    return spark


def release_all_caches(spark: SparkSession) -> int:
    """Release every cached/persisted distributed dataset: the SQL cache
    (``DataFrame.persist``) AND surviving RDD blocks that the SQL cache
    manager does not track (eager ``localCheckpoint`` data from the
    iterative cluster queries).

    A catalog query's caches must live until its RESULT has been
    consumed — which happens after the query function returns — so the
    owning query cannot ``finally``-unpersist them itself.  Lifetime
    discipline (VERDICT r3 item 8) is therefore: every harness that
    consumes a result calls this right after consuming (bench.py,
    tools/check_oracle.py), and the catalog wrapper calls it at query
    entry as the safety net for external callers.  Returns the number
    of persistent RDDs remaining afterwards (0 unless a foreign job is
    concurrently caching).
    """
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        # getPersistentRDDs returns a snapshot (py4j JavaMap) — listing
        # the values first keeps the iteration safe while unpersisting.
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in list(jmap.values()):
            rdd.unpersist()
        return int(spark.sparkContext._jsc.getPersistentRDDs().size())
    except Exception:
        return -1  # JVM gateway quirk — never fail the caller over cleanup


def get_session(app_name: str = "spark_dns_spark") -> SparkSession:
    """Build (or fetch) a local session for tests/bench."""
    cpus = local_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _size_bytes(conf_value: str) -> int:
    """Parse a Spark size conf ('128MB', '134217728b', '1g') to bytes."""
    s = conf_value.strip().lower()
    mult = 1
    for suffix, m in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def spread(df):
    """Repartition up to the cluster's parallelism when the scan yields
    fewer splits than cores — e.g. one small parquet file feeding an
    expensive per-row expression pipeline (shingling, simhash).

    At real scale the file count provides natural parallelism and this
    is a no-op; it never repartitions *down* and never touches an
    already-parallel input, so no shuffle is added where scan splits
    already spread the load.

    The split count is ESTIMATED from file metadata
    (ceil(size / maxPartitionBytes) per input file) instead of
    ``df.rdd.getNumPartitions()``: the RDD conversion runs full
    physical planning a second time (~0.5 s of driver latency per
    call, the dominant plan-build cost of every spread-using query),
    while listing + stat-ing files is a handful of py4j calls — and
    only needed at all when the file count alone is below target.
    Falls back to the precise RDD check for non-file sources.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        # non-file plan (e.g. in-memory test frames): precise check
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    if len(files) >= target:
        return df
    try:
        max_bytes = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
    except Exception:
        max_bytes = 128 << 20
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        splits = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            ln = p.getFileSystem(hconf).getFileStatus(p).getLen()
            splits += max(1, -(-int(ln) // max_bytes))
            if splits >= target:
                return df
    except Exception:
        # metadata unavailable → behave like the small-file case
        splits = len(files)
    if splits < target:
        return df.repartition(target)
    return df
