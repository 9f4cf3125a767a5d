"""mq_to_db_spark — a PySpark-native time-series rollup + downsample + retention
engine over multi-turn conversation/agent transcript tables.

Built from scratch against the *behavior* of christiangda/mq-to-db (a Go
RabbitMQ→PostgreSQL ingest dataflow; see SURVEY.md): its at-least-once
ack/reject delivery becomes idempotent checkpointed per-partition batch
processing; its Prometheus/Grafana metrics plane (windowed rates, histogram
quantiles, per-worker counters) becomes first-class continuous aggregates at
1m/1h/1d retention tiers; its dead-letter routing becomes a side-output
reject DataFrame.  Everything is DataFrame/Catalyst-native except the
Gorilla-style codec, which is an Arrow-vectorized grouped-map pandas UDF.

Input schema (BASELINE.json input_hint):
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp
"""

__version__ = "0.1.0"

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.session import get_spark

#: the stable operator surface, importable from the package root — heavy
#: submodule imports stay lazy so `import mq_to_db_spark` is cheap
_PUBLIC = {
    "RollupPipeline": "mq_to_db_spark.plans.pipeline",
    "TableIO": "mq_to_db_spark.sources.tableio",
    "rollup_tiers": "mq_to_db_spark.operators.rollup",
    "rollup_multidim": "mq_to_db_spark.operators.rollup",
    "rollup_grouping_sets": "mq_to_db_spark.operators.rollup",
    "histogram_quantile": "mq_to_db_spark.operators.rollup",
    "gapfill": "mq_to_db_spark.operators.gapfill",
    "sessionize": "mq_to_db_spark.operators.sessionize",
    "asof_join": "mq_to_db_spark.operators.asof",
    "range_join": "mq_to_db_spark.operators.rangejoin",
    "encode_chunks": "mq_to_db_spark.operators.compression",
    "decode_chunks": "mq_to_db_spark.operators.compression",
    "split_valid_rejected": "mq_to_db_spark.operators.validate",
    # dedup / similarity (round 2)
    "dedup_exact": "mq_to_db_spark.operators.dedup",
    "dedup_minhash": "mq_to_db_spark.operators.dedup",
    "simhash_pairs": "mq_to_db_spark.operators.dedup",
    "ngram_jaccard_pairs": "mq_to_db_spark.operators.dedup",
    "embedding_neardup_pairs": "mq_to_db_spark.operators.dedup",
    "winnow_similar_pairs": "mq_to_db_spark.operators.dedup",
    "connected_components": "mq_to_db_spark.operators.dedup",
    "cosine_topk": "mq_to_db_spark.operators.similarity",
    "ann_lsh_topk": "mq_to_db_spark.operators.similarity",
    "ivf_topk": "mq_to_db_spark.operators.similarity",
    "knn_join_brute": "mq_to_db_spark.operators.similarity",
    "knn_join_lsh": "mq_to_db_spark.operators.similarity",
    "range_locf": "mq_to_db_spark.operators.rangewin",
    "IcebergTableIO": "mq_to_db_spark.sources.iceberg",
    "run_streaming_pipeline": "mq_to_db_spark.streaming.stream",
    "streaming_sliding_rollup": "mq_to_db_spark.streaming.stream",
    "streaming_ack_join": "mq_to_db_spark.streaming.stream",
    # storage seam (round 3)
    "LocalAtomicStore": "mq_to_db_spark.sources.store",
    "read_transcripts_jsonl": "mq_to_db_spark.sources.jsonl",
    "parse_transcript_lines": "mq_to_db_spark.sources.jsonl",
    "write_bucketed": "mq_to_db_spark.sources.bucketed",
    "read_bucketed": "mq_to_db_spark.sources.bucketed",
    "assert_no_shuffle_join": "mq_to_db_spark.sources.bucketed",
    # training-data plane: sampling / packing / heavy hitters (round 3)
    "sample_bernoulli": "mq_to_db_spark.operators.sampling",
    "assign_split": "mq_to_db_spark.operators.sampling",
    "sample_stratified": "mq_to_db_spark.operators.sampling",
    "hash_u60": "mq_to_db_spark.operators.sampling",
    "pack_sequences": "mq_to_db_spark.operators.packing",
    "write_training_shards": "mq_to_db_spark.operators.packing",
    "top_k_per_window": "mq_to_db_spark.operators.topk",
    # counters / downsampling / chunking / decontamination (round 3)
    "counter_increase": "mq_to_db_spark.operators.counters",
    "downsample_ohlc": "mq_to_db_spark.operators.downsample",
    "chunk_spans": "mq_to_db_spark.operators.packing",
    "contamination_hits": "mq_to_db_spark.operators.contamination",
    "decontaminate": "mq_to_db_spark.operators.contamination",
    "with_repetition_features": "mq_to_db_spark.functions.text",
    "with_pii_features": "mq_to_db_spark.functions.text",
    "redact_pii": "mq_to_db_spark.functions.text",
    "hll_sketch": "mq_to_db_spark.operators.hll",
    "hll_merge": "mq_to_db_spark.operators.hll",
    "hll_estimate": "mq_to_db_spark.operators.hll",
    "quantile_sketch_rollup": "mq_to_db_spark.operators.sketch",
    "cascade_quantile_sketch": "mq_to_db_spark.operators.sketch",
    "sketch_quantile": "mq_to_db_spark.operators.sketch",
    "rolling_stats": "mq_to_db_spark.operators.rolling",
    "cms_rollup": "mq_to_db_spark.operators.freq",
    "cascade_cms": "mq_to_db_spark.operators.freq",
    "cms_lookup": "mq_to_db_spark.operators.freq",
    "ewma": "mq_to_db_spark.operators.ewma",
    "cascade_histogram": "mq_to_db_spark.operators.rollup",
    # hyperfunctions: time-weighted / state / sweep-line / correlation (round 3)
    "time_weighted_avg": "mq_to_db_spark.operators.timeweight",
    "state_durations": "mq_to_db_spark.operators.timeweight",
    "sweepline_counts": "mq_to_db_spark.operators.concurrency",
    "concurrency_at_grid": "mq_to_db_spark.operators.concurrency",
    "bucketed_pair_series": "mq_to_db_spark.operators.correlate",
    "series_corr": "mq_to_db_spark.operators.correlate",
    "range_running_sum": "mq_to_db_spark.operators.rangewin",
    "range_running_sums": "mq_to_db_spark.operators.rangewin",
    "asap_metrics": "mq_to_db_spark.operators.asap",
    "asap_smooth": "mq_to_db_spark.operators.asap",
    "gcra_throttle": "mq_to_db_spark.operators.quota",
    "stickiness": "mq_to_db_spark.operators.cohort",
    "backtest_naive": "mq_to_db_spark.operators.backtest",
    # interval↔bucket attribution + LTOB downsampling (round 3)
    "heartbeat_agg": "mq_to_db_spark.operators.intervals",
    "interpolated_time_weighted_avg": "mq_to_db_spark.operators.intervals",
    "explode_bucket_overlaps": "mq_to_db_spark.operators.intervals",
    "downsample_lttb": "mq_to_db_spark.operators.downsample",
    # product metrics / SRE / retrieval / derivatives (round 4)
    "counter_resets": "mq_to_db_spark.operators.counters",
    "funnel_reach": "mq_to_db_spark.operators.funnel",
    "funnel_counts": "mq_to_db_spark.operators.funnel",
    "cohort_retention": "mq_to_db_spark.operators.cohort",
    "with_seasonal": "mq_to_db_spark.operators.seasonal",
    "seasonal_profile": "mq_to_db_spark.operators.seasonal",
    "slo_burn": "mq_to_db_spark.operators.slo",
    "burn_rate": "mq_to_db_spark.operators.slo",
    "error_ratio_tier": "mq_to_db_spark.operators.slo",
    "bm25_scores": "mq_to_db_spark.operators.ranking",
    "bm25_topk": "mq_to_db_spark.operators.ranking",
    "discrete_changes": "mq_to_db_spark.operators.derivatives",
    "idelta": "mq_to_db_spark.operators.derivatives",
    "regression_fit": "mq_to_db_spark.operators.derivatives",
    "predict_linear": "mq_to_db_spark.operators.derivatives",
    "double_ewma": "mq_to_db_spark.operators.ewma",
    "mad_outliers": "mq_to_db_spark.operators.rolling",
    "gap_stats": "mq_to_db_spark.operators.intervals",
    # alerting / governance / dashboard canon (round 4)
    "cusum": "mq_to_db_spark.operators.changepoint",
    "threshold_episodes": "mq_to_db_spark.operators.changepoint",
    "series_churn": "mq_to_db_spark.operators.lifecycle",
    "exemplars": "mq_to_db_spark.operators.lifecycle",
    "sliding_quota": "mq_to_db_spark.operators.quota",
    "max_drawdown": "mq_to_db_spark.operators.quota",
    "staleness": "mq_to_db_spark.operators.intervals",
    "autocorr": "mq_to_db_spark.operators.correlate",
    "lexical_stats": "mq_to_db_spark.functions.text",
    "offset_delta": "mq_to_db_spark.operators.derivatives",
    "top_k_with_others": "mq_to_db_spark.operators.topk",
    "with_openmetrics": "mq_to_db_spark.functions.serialize",
    "parse_openmetrics": "mq_to_db_spark.functions.serialize",
    "exp_histogram": "mq_to_db_spark.operators.nativehist",
    "cascade_exp_histogram": "mq_to_db_spark.operators.nativehist",
    "exp_hist_explode": "mq_to_db_spark.operators.nativehist",
    "exp_hist_quantile": "mq_to_db_spark.operators.nativehist",
    "epoch_shuffle": "mq_to_db_spark.operators.sampling",
    "exp_hist_fraction": "mq_to_db_spark.operators.nativehist",
    "exp_hist_stats": "mq_to_db_spark.operators.nativehist",
    "Rule": "mq_to_db_spark.plans.rules",
    "evaluate_rules": "mq_to_db_spark.plans.rules",
    "hashed_ngram_buckets": "mq_to_db_spark.operators.importance",
    "dsir_log_weights": "mq_to_db_spark.operators.importance",
    "dsir_select": "mq_to_db_spark.operators.importance",
    "target_overlap_topk": "mq_to_db_spark.operators.importance",
    "series_limit": "mq_to_db_spark.operators.lifecycle",
    "expectations_report": "mq_to_db_spark.operators.expectations",
    "strip_boilerplate": "mq_to_db_spark.operators.linededup",
    "boilerplate_lines": "mq_to_db_spark.operators.linededup",
    "sample_mixture": "mq_to_db_spark.operators.sampling",
    "lww_upsert": "mq_to_db_spark.operators.replicas",
    "apdex_tier": "mq_to_db_spark.operators.slo",
    "bucket_local": "mq_to_db_spark.operators.calendar",
    "rollup_calendar": "mq_to_db_spark.operators.calendar",
    "holt_linear": "mq_to_db_spark.operators.ewma",
    "xcorr_lags": "mq_to_db_spark.operators.correlate",
    "merge_intervals": "mq_to_db_spark.operators.intervals",
    "subtract_intervals": "mq_to_db_spark.operators.intervals",
    "streaming_alerts": "mq_to_db_spark.streaming.stateful",
    "decode_chunks_range": "mq_to_db_spark.operators.compression",
    # tier governance / archive compaction / PromQL surface (round 4)
    "cover_range": "mq_to_db_spark.operators.stitch",
    "stitch_range": "mq_to_db_spark.operators.stitch",
    "audit_tiers": "mq_to_db_spark.operators.stitch",
    "rebin_histogram": "mq_to_db_spark.operators.stitch",
    "merge_late_chunks": "mq_to_db_spark.operators.compression",
    "decode_chunks_value_range": "mq_to_db_spark.operators.compression",
    "adjust_resets": "mq_to_db_spark.operators.counters",
    "vector_binop": "mq_to_db_spark.operators.vectormatch",
    "vector_and": "mq_to_db_spark.operators.vectormatch",
    "vector_or": "mq_to_db_spark.operators.vectormatch",
    "vector_unless": "mq_to_db_spark.operators.vectormatch",
    "resample_locf": "mq_to_db_spark.operators.resample",
    "resample_interpolate": "mq_to_db_spark.operators.resample",
    "label_replace": "mq_to_db_spark.operators.labels",
    "label_join": "mq_to_db_spark.operators.labels",
    "count_values": "mq_to_db_spark.operators.labels",
    "histogram_fraction": "mq_to_db_spark.operators.rollup",
    "gauge_delta": "mq_to_db_spark.operators.derivatives",
    "rate_extrapolated": "mq_to_db_spark.operators.counters",
    "over_time_grid": "mq_to_db_spark.operators.resample",
    "subquery_eval": "mq_to_db_spark.operators.subquery",
    "irate": "mq_to_db_spark.operators.subquery",
    "dedup_replicas": "mq_to_db_spark.operators.replicas",
    "elect_replicas": "mq_to_db_spark.operators.replicas",
    "hybrid_read": "mq_to_db_spark.plans.readpath",
    "range_eval": "mq_to_db_spark.plans.readpath",
    "pick_tier": "mq_to_db_spark.plans.readpath",
    "TierReader": "mq_to_db_spark.plans.readpath",
    # CEP / symbolic / layout / experimentation plane (round 4, late)
    "symbolize": "mq_to_db_spark.operators.cep",
    "match_pattern": "mq_to_db_spark.operators.cep",
    "sax_words": "mq_to_db_spark.operators.sax",
    "decayed_scores": "mq_to_db_spark.operators.decay",
    "decayed_topk": "mq_to_db_spark.operators.decay",
    "editdist_pairs": "mq_to_db_spark.operators.dedup",
    "zorder_keys": "mq_to_db_spark.operators.layout",
    "cluster_by_zorder": "mq_to_db_spark.operators.layout",
    "welch_t": "mq_to_db_spark.operators.abtest",
    "psi": "mq_to_db_spark.operators.drift",
    "skew_audit": "mq_to_db_spark.operators.skewaudit",
    "salt_plan": "mq_to_db_spark.operators.skewaudit",
}


def __getattr__(name: str):
    mod = _PUBLIC.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)


__all__ = ["EngineConfig", "get_spark", "__version__", *sorted(_PUBLIC)]
