"""Query catalog — the SURVEY.md §2 operator inventory as named queries.

Each :class:`Query` pairs a Spark DataFrame builder with the equivalent
ANSI SQL for the DuckDB oracle (``sql=None`` ⇒ non-SQL-expressible,
driver records rows-only).  ``__spark_entry__.py`` exposes this catalog
verbatim.

Conventions (driver contract):
- every computed column is aliased identically in both engines;
- double outputs are ``round()``-ed in both engines so cross-engine
  float summation order can't flip the value hash;
- no ORDER BY dependence — the driver hash is order-insensitive, and
  any top-k uses deterministic tie-breaks.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_dns_spark.session import release_all_caches, tune

#: CTE-definition matcher for :func:`materialize_ctes` (lowercase CTE
#: names only, the catalog convention; never matches an existing
#: ``AS MATERIALIZED (`` because the keyword is uppercase).  The
#: lookbehind excludes named-window clauses (``WINDOW w AS (...)``),
#: which share the ``name AS (`` shape but cannot be materialized —
#: rewriting one would be a DuckDB parse error (review r14).
_CTE_DEF = re.compile(r"(?<!WINDOW )\b([a-z_0-9]+) AS \(")

#: A named-window BODY starts with a window spec, never a SELECT —
#: second line of defense for multi-window clauses
#: (``WINDOW a AS (...), b AS (...)``) where only the first name has
#: the ``WINDOW `` prefix the lookbehind sees.
_WINDOW_BODY = re.compile(
    r"^\s*(PARTITION\s+BY|ORDER\s+BY|ROWS|RANGE|GROUPS)\b", re.I
)

#: Oracle texts with at least this many CTE definitions get every CTE
#: forced to ``AS MATERIALIZED``.  DuckDB INLINES each CTE reference:
#: a deep shared chain (the IVF/PQ train+serve oracles re-reference
#: q/cents/sub/codebook CTEs throughout) expands to a plan with many
#: hundreds of operators (739 for similarity_topk_ivfpq at r13), and
#: per-operator buffer reservations alone then exceed a few hundred MB
#: REGARDLESS of data size — the r13 driver's no-spill DuckDB OOM'd on
#: exactly the 5 deepest texts over a 500-row corpus (VERDICT r13 item
#: 1).  Materializing executes each CTE once and collapses the plan
#: (similarity_topk_ivfpq: OOM at 400 MB -> green at 200 MB, 0.6 s).
#: Shallow oracles (TPC-H etc.) keep inlining and its pushdown wins.
MAT_CTE_MIN = 8


def _cte_body(sql: str, open_at: int) -> str | None:
    """Body of the parenthesized group whose ``(`` sits at ``open_at``
    — paren balance with single-quoted string literals skipped, so a
    literal like ``'^\\('`` cannot mis-extent the body (review r14).
    None when unbalanced."""
    depth = 0
    in_str = False
    i = open_at
    n = len(sql)
    while i < n:
        c = sql[i]
        if in_str:
            if c == "'":
                # '' is an escaped quote inside a SQL literal
                if i + 1 < n and sql[i + 1] == "'":
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return sql[open_at + 1 : i]
        i += 1
    return None


def materialize_ctes(sql: str) -> str:
    """Force ``AS MATERIALIZED`` on every non-recursive CTE of a deep
    oracle text (idempotent).

    Every non-recursive CTE gets the keyword, not just multi-
    referenced ones: a multi-ref-only variant was MEASURED WORSE on
    the window tail (similarity_topk_ivfpq's no-spill floor rose
    200 -> 224 MB while fused-MMR didn't improve) — the allocator
    cost is plan/pipeline-shaped, not per-CTE-linear, so the blanket
    policy with the best measured floors across the whole catalog
    wins.  (Fused-MMR's floor is ~240 MB with every intermediate
    under 8,000 rows — pure operator overhead; the 256 MB starve gate
    is the binding contract.)

    Recursive members are left inlined: those declared with a column
    list (``reach(src, dst) AS (``) never match :data:`_CTE_DEF`, and
    plain-form ones (``g AS (`` in pack_greedy_bins) are detected by
    self-reference.  Non-recursive members of a ``WITH RECURSIVE``
    clause ARE eligible — DuckDB 1.0 accepts that, and
    mlprep_split_leakage_audit needs it to fit the 256 MB no-spill
    starve budget."""
    out = []
    last = 0
    for m in _CTE_DEF.finditer(sql):
        name = m.group(1)
        open_at = m.end() - 1  # the '(' the pattern just matched
        body = _cte_body(sql, open_at)
        if body is None:
            continue  # unbalanced: refuse to touch it
        if _WINDOW_BODY.match(body):
            continue  # named-window clause, not a CTE (review r14)
        if re.search(rf"\b{re.escape(name)}\b", body):
            continue  # recursive member: leave inlined
        out.append(sql[last : m.start()])
        out.append(f"{name} AS MATERIALIZED (")
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None ⇒ rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}

#: Size of the driver's rotating correctness window (the first N
#: catalog entries).  Single source of truth for the starve gate
#: (tests/test_oracle_memory.py) and the gate-repro harness
#: (tools/gate_repro.py --n default).
DRIVER_WINDOW_N = 50

#: The catalog order: :func:`catalog` returns the registered queries in
#: exactly this order, and the external correctness gate checks the
#: first :data:`DRIVER_WINDOW_N`.  Every registered query must appear here
#: once, and every name here must be registered.
CATALOG_ORDER: tuple[str, ...] = (
    "dns_axfr_read",
    "dns_ixfr_delta_read",
    "dns_read_zone_pushdown",
    "dns_stream_sink_roundtrip",
    "dns_ip_cidr_attribution",
    "dedup_cluster_label_propagation",
    "format_orc_roundtrip",
    "pack_greedy_bins",
    "changelog_latest_wins",
    "fqdn_normalize",
    "zone_from_fqdn",
    "group_by_zone",
    "validate_updates",
    "json_extract",
    "json_roundtrip",
    "distinct_zones",
    "zone_serial_max",
    "exactly_once_check",
    "chronological_topk",
    "multimodal_phash_neardup",
    "sessionize_window_native",
    "tumbling_window_counts",
    "tpch_q1_pricing_summary",
    "revenue_by_nation",
    "segment_union_distinct",
    "orders_pivot_status",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q20_potential_promotion",
    "dedup_minhash_stream",
    "sketch_countmin_stream",
    "retrieval_mmr_rerank",
    "index_postings_upsert",
    "similarity_ivf_upsert",
    "similarity_ivf_delete_serve",
    "dedup_semantic_incremental",
    "dedup_semantic_stream",
    "similarity_range_ivf",
    "similarity_range_recall",
    "similarity_ivf_cell_balance",
    "similarity_topk_filtered",
    "similarity_ivf_cell_split",
    "similarity_ivf_cell_split_fixpoint",
    "similarity_filtered_recall",
    "similarity_hybrid_rrf",
    "index_bm25_dense",
    "similarity_pq_upsert",
    "similarity_pq_upsert_stream",
    "similarity_pq_drift",
    # ---- end of the correctness window (DRIVER_WINDOW_N) ----
    "hypertable_rollup",
    "changelog_incremental_merge",
    "ivm_join_delta",
    "ivm_agg_delta",
    "asof_join_last_error",
    "range_join_bucketed",
    "text_token_counts",
    "text_quality_score",
    "text_language_id",
    "text_fingerprint",
    "text_quality_by_source",
    "text_langid_confusion",
    "pipeline_curate_corpus",
    "dedup_exact_documents",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_sorted_neighborhood",
    "dedup_exact_substring",
    "dedup_substring_clean",
    "linkage_field_scores",
    "dedup_url_canonical",
    "dedup_cluster_assign",
    "dedup_cluster_pointer_doubling",
    "dedup_snm_span_clusters",
    "dedup_cluster_star_contraction",
    "mlprep_leakage_free_split",
    "mlprep_split_leakage_audit",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "sample_stratified_hash",
    "embedding_quantize_int8",
    "sketch_kmv_distinct",
    "sample_weighted_priority",
    "sketch_countmin_freq",
    "skew_salted_count",
    "skew_salted_join",
    "format_json_roundtrip",
    "format_csv_roundtrip",
    "text_pii_redact",
    "text_repetition_filter",
    "contamination_ngram_overlap",
    "dedup_cluster_representatives",
    "domain_mix_rebalance",
    "mix_token_budget_apportion",
    "curation_boilerplate_fraction",
    "contamination_bloom_filter",
    "curation_boilerplate_clean",
    "tfidf_top_terms",
    "vocab_top_bigrams",
    "dedup_incremental_batch",
    "quality_quantile_cutoff",
    "text_chunk_windows",
    "events_user_zscore",
    "events_rolling_features",
    "events_mad_outliers",
    "events_quantile_normalize",
    "pack_tokens_stream",
    "batching_length_grouped",
    "kmeans_lloyd_cells",
    "graph_pagerank_transitions",
    "layout_zorder_events",
    "changelog_snapshot",
    "changelog_max_by_variant",
    "dns_typosquat_levenshtein",
    "dns_typosquat_blocked",
    "multimodal_join",
    "multimodal_binary_dedup",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "multimodal_resize_nn",
    "sessionize_events",
    "sessionize_stream_stateful",
    "sessions_peak_concurrency",
    "similarity_topk_bruteforce",
    "similarity_topk_lsh",
    "similarity_ivf_build",
    "similarity_topk_ivf",
    "dedup_embedding_cosine",
    "dedup_semantic_semdedup",
    "similarity_lsh_recall",
    "similarity_ivf_recall",
    "similarity_ivf_upsert_rebalance",
    "similarity_topk_filtered_rare",
    "similarity_filtered_rare_recall",
    "similarity_upsert_serve_fresh",
    "top_customers_per_nation",
    "lineitem_running_window",
    "tpch_q4_order_priority",
    "tpch_q13_order_distribution",
    "tpch_q18_large_orders",
    "tpch_q22_idle_rich_customers",
    "tpch_q15_top_supplier",
    "orders_retention_cohorts",
    "lineitem_unpivot_metrics",
    "events_gap_fill_ffill",
    "events_ohlc_bars",
    "events_cusum_drift",
    "index_inverted_postings",
    "heavy_hitters_events",
    "index_bm25_topk",
    "similarity_pq_codes",
    "similarity_pq_adc_recall",
    "similarity_topk_ivfpq",
    "similarity_ivfpq_recall",
    "similarity_topk_filtered_ivfpq",
    "similarity_filtered_ivfpq_recall",
    "retrieval_filtered_fused_mmr",
    "quality_lm_bigram_score",
    "validate_quality_constraints",
    "changelog_scd2_intervals",
    "events_value_histogram",
    "events_equidepth_quartiles",
    "snapshot_diff_orders",
    "stream_dedup_replay",
    "stream_attribution_join",
    "vocab_bpe_merges",
    "vocab_bpe_apply",
    "vocab_bpe_fertility",
    "cooccurrence_glove_window",
    "events_funnel_conversion",
    "basket_copurchase_lift",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q12_shipmode_priority",
    "tpch_q16_supplier_part_counts",
    "tpch_q21_waiting_suppliers",
    "parts_without_orders",
    "active_suppliers_semi",
    "order_priority_rollup",
    "approx_distinct_parts",
    "lineitem_cube",
    "orders_grouping_sets",
    "lineitem_percentiles",
    "tpch_q6_forecast_revenue",
    "tpch_q3_shipping_priority",
    "segment_intersect_except",
    "customers_order_stats_left",
)

def register(
    name: str,
    sql: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable:
    """Decorator: add a (spark, sf_dir) -> DataFrame builder to the catalog."""

    if sql is not None and len(_CTE_DEF.findall(sql)) >= MAT_CTE_MIN:
        sql = materialize_ctes(sql)

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            # Safety net for callers that don't release after consuming
            # (a query's caches must outlive its function — the result
            # is consumed AFTER return — so owners can't finally-block
            # them; bench.py / check_oracle.py release right after each
            # consume, and this catches everything else).
            release_all_caches(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = Query(
            name=name, fn=wrapped, sql=sql, doc=doc, tags=tags
        )
        return wrapped

    return deco


def catalog() -> dict[str, Query]:
    """All registered queries (importing the query modules as a side effect)."""
    # Import here so module import order can't produce a half-filled registry.
    # The import order decides nothing: CATALOG_ORDER alone orders the result.
    from spark_dns_spark.plans import (  # noqa: F401
        q_connector,
        q_rollup_time,
        q_temporal,
        q_text,
        q_pipeline,
        q_cluster,
        q_sampling,
        q_skew,
        q_formats,
        q_curation,
        q_mlprep,
        q_packing,
        q_kmeans,
        q_graph,
        q_layout,
        q_changelog,
        q_multimodal,
        q_sessions,
        q_dedup,
        q_similarity,
        q_relational,
        q_timeseries,
        q_index,
        q_retrieval,
        q_pq,
        q_lm,
        q_validate,
        q_streaming,
        q_bpe,
        q_cooccur,
        q_basket,
        q_tpch2,
    )

    placed = set(CATALOG_ORDER)
    unplaced = [n for n in _REGISTRY if n not in placed]
    unregistered = [n for n in CATALOG_ORDER if n not in _REGISTRY]
    if unplaced or unregistered:
        raise ValueError(
            f"CATALOG_ORDER disagrees with the registry: registered but not "
            f"placed {unplaced}; placed but not registered {unregistered}"
        )
    return {n: _REGISTRY[n] for n in CATALOG_ORDER}
