"""The benchmark's metric catalogue: every name, unit and direction.

``BENCHMARK.json`` at the repository root lists the same metrics; the
self-test checks that the two agree and that every run prints them all.
A per-layer metric of a layer that a workload leaves idle reads 0.
"""

from __future__ import annotations

WORKLOADS = ("lake_ingest", "lake_point_read", "analytics_gates")

END_TO_END = (
    ("op_p50_ms", "ms", "lower"),
    ("op_p90_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("bytes_per_input_byte", "ratio", "lower"),
)

READ_STORES = (
    "flat_parquet",
    "flat_segmented",
    "velocity_parquet",
    "velocity_split",
    "cantor_packed",
    "temporal",
    "document_parquet",
    "gzip_json_single",
)

INGEST_STORES = ("flat", "versioned", "temporal", "ivf")

# The benchmark's own copy of the analytics gate list: the frozen trend-20
# of bench.py, the range-primitive consumers, and three mobility/interval
# gates.
GATES = (
    "flagship_pricing_summary",
    "tpch_q5_style_regional_revenue",
    "tpch_q18_style_large_orders",
    "j4_snowflake_revenue",
    "a4_zonemap_minmax",
    "a1_entity_sequences",
    "w1_tumbling_hour",
    "w3_asof_lookup",
    "w5_sessionize",
    "topk_per_group",
    "running_totals",
    "dedup_exact_hash",
    "dedup_minhash_lsh_candidates",
    "knn_bruteforce_cosine",
    "vec_neardup_pairs_numpy",
    "vec_nearest_centroid_confusion",
    "text_stats",
    "text_token_topk",
    "text_tfidf_keywords",
    "cohort_retention",
    "rfm_segmentation",
    "spearman_revenue_quantity",
    "equidepth_decile_bins",
    "pack_shard_manifest",
    "quantile_normalization",
    "sample_weighted_ares",
    "trajectory_trip_segments",
    "interval_overlap_join",
    "rolling_wau_7d",
)


def _per_layer() -> tuple[tuple[str, str, str], ...]:
    out = [
        ("session.get_spark_ms", "ms", "lower"),
        ("sources.generate_snapshots_ms", "ms", "lower"),
        ("sources.write_snapshot_dir_ms_p50", "ms", "lower"),
        ("sources.snapshots_to_df_ms_p50", "ms", "lower"),
    ]
    for sink in ("flat_sink", "versioned_sink"):
        out += [
            (f"streaming.{sink}.drain_ms_p50", "ms", "lower"),
            (f"streaming.{sink}.drain_ms_p90", "ms", "lower"),
            (f"streaming.{sink}.jobs_per_drain", "count", "lower"),
            (f"streaming.{sink}.growth_ratio", "ratio", "lower"),
        ]
    for op in ("temporal_store.append_batch", "ivf_index.append"):
        out += [
            (f"operators.{op}.ms_p50", "ms", "lower"),
            (f"operators.{op}.ms_p90", "ms", "lower"),
            (f"operators.{op}.jobs_per_op", "count", "lower"),
            (f"operators.{op}.growth_ratio", "ratio", "lower"),
        ]
    out += [(f"operators.ingest.{s}.bytes", "bytes", "lower") for s in INGEST_STORES]
    for s in READ_STORES:
        out += [
            (f"operators.{s}.write_ms", "ms", "lower"),
            (f"operators.{s}.get_document_ms_p50", "ms", "lower"),
            (f"operators.{s}.jobs_per_read", "count", "lower"),
            (f"operators.{s}.bytes", "bytes", "lower"),
        ]
    out += [
        ("plans.build_ms_p50", "ms", "lower"),
        ("plans.execute_ms_p50", "ms", "lower"),
        ("plans.jobs_per_gate", "count", "lower"),
        ("plans.build_jobs_per_gate", "count", "lower"),
        ("plans.stages_per_gate", "count", "lower"),
        ("plans.failed_tasks", "count", "lower"),
    ]
    for g in GATES:
        out += [(f"plans.{g}.jobs", "count", "lower"), (f"plans.{g}.build_ms", "ms", "lower")]
    out += [
        ("functions.codecs.calls_per_pass", "count", "lower"),
        ("functions.codecs.eager_ms_per_pass", "ms", "lower"),
        ("bench.trace_overhead_pct", "%", "lower"),
    ]
    return tuple(out)


PER_LAYER = _per_layer()


def report(values: dict, catalogue) -> dict:
    """``{name: {"value", "unit"}}`` for every metric of ``catalogue``; a
    metric the workload did not set reads 0 (its layer was idle)."""
    unknown = set(values) - {name for name, _, _ in catalogue}
    if unknown:
        raise KeyError(f"metrics outside the catalogue: {sorted(unknown)}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, _ in catalogue
    }
