"""Skew-mitigation operators: deterministic salting.

AQE's skew-join splitting (enabled in session.py) handles most runtime
skew; salting is the *plan-level* tool for the two cases AQE can't fix:

1. **Low-cardinality aggregation** — a groupBy on K keys runs at most K
   reduce tasks no matter how many cores exist.  Salting splits each
   key into N sub-groups (two-phase: partial by (key, salt), final by
   key), restoring parallelism K×N.
2. **Skew-keyed join** — one hot key overloads a single reducer.  Salt
   the fact side deterministically, replicate the (small) build side
   across all N salt values, join on (key, salt).

Salt is a *deterministic* md5 bucket of a high-cardinality column (not
rand()): reruns, retries, and the DuckDB oracle all see identical
partitioning — nondeterministic salting breaks task-retry correctness
under speculative execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_dns_spark.functions.dnsfn import portable_hash32

DEFAULT_SALTS = 16


def salt_of(c: Column | str, n_salts: int = DEFAULT_SALTS) -> Column:
    """Deterministic salt bucket from a high-cardinality column."""
    return portable_hash32(c) % n_salts


def salted_count(
    df: DataFrame,
    key: str,
    salt_src: str,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-phase count per ``key``: partial by (key, salt) — K×N reduce
    tasks — then final by key.  Same result as a plain groupBy-count."""
    partial = (
        df.withColumn("__salt", salt_of(salt_src, n_salts))
        .groupBy(key, "__salt")
        .agg(F.count("*").alias("__n"))
    )
    return partial.groupBy(key).agg(F.sum("__n").alias("n"))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_src: str,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Skew-safe equi-join: fact rows get a deterministic salt, the dim
    side is replicated across all ``n_salts`` values (explode of a
    literal range — cost = |dim| × N, fine for dimension tables), and
    the join key becomes (key, salt) so one hot key spreads over N
    reducers."""
    salted_fact = fact.withColumn("__salt", salt_of(salt_src, n_salts))
    replicated_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    return salted_fact.join(replicated_dim, [key, "__salt"]).drop("__salt")
