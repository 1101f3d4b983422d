"""Pins for the r15 optimization-round internals.

The r15 changes move driver-side work into persisted index metadata
and plan reuse; these tests pin the equivalences that make those moves
safe: stats metadata equals the measurement it replaced, the memoized
vector frame is the same corpus (not stale), and the explicit
attach_cosine strategies stay bit-identical.
"""

from __future__ import annotations

import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_dns_spark.operators import similarity as sim
from spark_dns_spark.plans import q_similarity as qs
from spark_dns_spark.session import release_all_caches

pytestmark = pytest.mark.usefixtures("spark")


def test_rare_label_count_matches_distinct(spark, sf_dir):
    """The persisted index stats value equals the distinct().count()
    job it replaced (the serve reads metadata, the oracle re-derives
    from data — both must see the same cardinality)."""
    n = qs._vectors(spark, sf_dir)
    expect = (
        n.select((F.col("vec_id") % qs.RARE_MOD).alias("r"))
        .distinct()
        .count()
    )
    assert qs.rare_label_count(spark, sf_dir) == max(expect, 1)


def test_base_index_stats_n_vectors(spark, sf_dir):
    """Base-index n_vectors stats == the count_if it replaced."""
    root = qs.ivf_base_index_path(spark, sf_dir)
    n = qs._vectors(spark, sf_dir)
    expect = n.filter(
        (F.col("vec_id") % qs.UP_MOD) != qs.UP_REM
    ).count()
    assert qs.index_stat(root, "n_vectors") == expect
    # missing keys fall back to the default, never raise
    assert qs.index_stat(root, "no_such_key", default=-1) == -1


def test_vectors_memo_same_frame_and_count(spark, sf_dir):
    """_vectors returns the memoized frame on repeat calls (one cache
    entry per corpus) and its footer count matches a real count job."""
    a = qs._vectors(spark, sf_dir)
    b = qs._vectors(spark, sf_dir)
    assert a is b
    assert a._corpus_rows == a.count()


def test_vectors_memo_evicts_and_unpersists_stale_frame(spark, sf_dir, tmp_path):
    """A changed embeddings fingerprint evicts the old frame AND drops
    its cached blocks before the new frame registers: the new frame
    reads the new rows instead of the stale cache entry its identical
    plan would otherwise match."""
    corpus = pq.read_table(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(corpus, path)
    release_all_caches(spark)
    jsc = spark.sparkContext._jsc
    old = qs._vectors(spark, str(tmp_path))
    assert old.count() == corpus.num_rows
    assert jsc.getPersistentRDDs().size() == 1  # the materialized frame
    pq.write_table(corpus.slice(0, 100), path)  # new size => new fingerprint
    new = qs._vectors(spark, str(tmp_path))
    assert new is not old
    assert jsc.getPersistentRDDs().size() == 0  # evicted frame unpersisted
    scope = [k for k in qs._VECTORS_MEMO if k[1] == str(tmp_path)]
    assert len(scope) == 1 and qs._VECTORS_MEMO[scope[0]] is new
    assert new.count() == 100
    release_all_caches(spark)


def test_vectors_memo_concurrent_callers_share_one_frame(spark, sf_dir, tmp_path):
    """Racing cold callers (more threads than cores) all get the ONE
    memoized frame: a caller that loses the race serves the winner's
    frame instead of returning a second, unmemoized one."""
    shutil.copy(f"{sf_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    workers = 8
    start = threading.Barrier(workers)

    def call():
        start.wait(timeout=60)
        return qs._vectors(spark, str(tmp_path))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(workers) as pool:
            futures = [pool.submit(call) for _ in range(workers)]
            frames = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(f is frames[0] for f in frames)
    scope = [k for k in qs._VECTORS_MEMO if k[1] == str(tmp_path)]
    assert len(scope) == 1 and qs._VECTORS_MEMO[scope[0]] is frames[0]
    release_all_caches(spark)


def test_attach_strategies_bit_identical(spark, sf_dir):
    """strategy='gather' (Arrow matrix fold) and the broadcast-join
    codegen dot must agree bit-for-bit — the r15 per-site strategy
    choice is a physical decision only."""
    n = qs._vectors(spark, sf_dir)
    pairs = (
        n.select(F.col("vec_id").alias("id_a"))
        .crossJoin(n.select(F.col("vec_id").alias("id_b")))
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("id_b") % 11 == 0))
    )
    g = sim.attach_cosine(pairs, n, "id_a", "id_b", strategy="gather")
    j = sim.attach_cosine(pairs, n, "id_a", "id_b")
    gm = {(r["id_a"], r["id_b"]): r["cosine"] for r in g.collect()}
    jm = {(r["id_a"], r["id_b"]): r["cosine"] for r in j.collect()}
    assert gm and gm == jm  # exact double equality per pair
