"""Static workload tables: which queries each warm workload runs and the
span (family or group) every query is recorded under.

`run.py` checks these tables against the registry the JVM reports
(`Harness` emits every registered query with its module), so a query that is
added, renamed or moved between modules shows up as a failed check instead of
a silently mis-attributed span.
"""

# Every registered `dsv2_*` connector query belongs to exactly one family,
# chosen by its main operation. `dsv2_migrate_storage` is left out of the
# benchmark: it only proves mem -> parquet promotion, a path the storage-plane
# consolidation is set to retire.
DSV2_FAMILIES = {
    # materialized-view definition, refresh and rewrite
    "sources.mv": [
        "dsv2_incremental_mv", "dsv2_mv_autorefresh", "dsv2_mv_count_distinct",
        "dsv2_mv_full_chain", "dsv2_mv_full_join", "dsv2_mv_join",
        "dsv2_mv_left_chain", "dsv2_mv_left_join", "dsv2_mv_minmax",
        "dsv2_mv_outer_serve", "dsv2_mv_rewrite", "dsv2_mv_right_join",
        "dsv2_mv_rollup",
    ],
    # row-level writes: DELETE / UPDATE / MERGE / replace-where / appends
    "sources.dml": [
        "dsv2_cdc_dml", "dsv2_cdc_update_images", "dsv2_delete_equality",
        "dsv2_delete_mor", "dsv2_delete_where", "dsv2_mem_write_roundtrip",
        "dsv2_merge_evolve", "dsv2_merge_full", "dsv2_merge_upsert",
        "dsv2_replace_where", "dsv2_streaming_sink", "dsv2_update_mor",
        "dsv2_update_where", "dsv2_branch_wap",
    ],
    # scans: pushdown, pruning, time travel, change feeds, metadata tables
    "sources.read": [
        "dsv2_agg_group", "dsv2_agg_stats", "dsv2_bloom_skipping",
        "dsv2_cdc_read", "dsv2_cdc_stream", "dsv2_limit_topn",
        "dsv2_meta_tables", "dsv2_partitioned_prune", "dsv2_runtime_prune",
        "dsv2_selective_read", "dsv2_seq_agg_pushdown", "dsv2_seq_pushdown",
        "dsv2_seq_stream", "dsv2_spj_join", "dsv2_spj_sorted",
        "dsv2_table_history", "dsv2_table_stream", "dsv2_tag_travel",
        "dsv2_time_travel", "dsv2_view_read",
    ],
    # layout maintenance: compaction, sorted/z-order rewrites, partitioned ingest
    "sources.maint": [
        "dsv2_auto_compact", "dsv2_compact", "dsv2_parquet_storage",
        "dsv2_rewrite_sorted", "dsv2_sorted_ingest", "dsv2_time_partition",
        "dsv2_zorder_rewrite",
    ],
    # catalog and schema operations, metadata persistence
    "sources.ddl": [
        "dsv2_alter_evolution", "dsv2_column_default", "dsv2_ctas",
        "dsv2_drop_readd", "dsv2_metadata_persist", "dsv2_rest_catalog",
        "dsv2_schema_evolve", "dsv2_seq_catalog_sql", "dsv2_spec_evolve",
    ],
}

DSV2_EXCLUDED = ["dsv2_migrate_storage"]

# Operator queries: each is grouped under the module whose list registers it
# (streaming_lsh_ingest is registered by text.Dedup, so it is `text`).
MIX_GROUPS = {
    "rentals": ["rentals_pipeline", "zori_csv_pipeline",
                "partitioned_write_readback", "dq_summary"],
    "ops": ["graph_components", "graph_bfs_hops", "mad_outliers",
            "agg_percentiles", "agg_approx_percentile", "corr_matrix",
            "window_frames", "peak_concurrency", "join_skew_aqe_split"],
    "text": ["dedup_keep_best", "dedup_clusters", "dataset_split_grouped",
             "streaming_lsh_ingest"],
    "vector": ["knn_brute_cosine", "ann_ivf_probe"],
    "streaming": ["stream_stream_join", "streaming_session_windows",
                  "streaming_stateful_restart"],
}


def span_of(table):
    """query -> span name, from a {span: [queries]} table."""
    return {q: span for span, qs in table.items() for q in qs}


def registry_span(query):
    """Span a registry query is recorded under: its connector family or its
    operator group."""
    return {**span_of(DSV2_FAMILIES), **span_of(MIX_GROUPS)}[query]


def module_of_span(span):
    """Registry module a span name stands for (`sources.mv` -> `sources`)."""
    return span.split(".")[0]


# registry_mix, the benchmark's one warm workload, runs a fixed slice of
# both lists. A pass of all 63 connector queries is ~50 s of driver-bound
# fixed latency on a 4-core host and a pass of the 22 operator queries ~26 s
# even warm — neither fits a run of the benchmark, let alone repeated. The
# slice takes one cheap query per connector family and per operator group —
# among them the rentals pipeline, the exact-percentile family (mad_outliers)
# and the many-job text dedup family (dedup_keep_best) — so a pass is ~10 s.
LAKEHOUSE_QUERIES = [
    "dsv2_mv_join", "dsv2_merge_upsert", "dsv2_cdc_read", "dsv2_compact",
    "dsv2_schema_evolve",
]
MIX_QUERIES = [
    "rentals_pipeline", "mad_outliers", "dedup_keep_best", "knn_brute_cosine",
    "stream_stream_join",
]
REGISTRY_QUERIES = LAKEHOUSE_QUERIES + MIX_QUERIES

# Warm-up: the oracle-check pass writes parquet, and the first noop pass
# after it still runs ~20% above the warm time, so one untimed noop pass
# precedes the timed ones.
WARM_PASSES = 1
# Timed passes per run, at least.
MIN_PASSES = 2
