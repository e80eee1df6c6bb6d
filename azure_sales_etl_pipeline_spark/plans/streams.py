"""Driver-contract wrappers for the Structured Streaming operators
(azure_sales_etl_pipeline_spark.streaming). Legal to oracle with plain
SQL because Trigger.AvailableNow drains the whole file source
deterministically — streaming and batch compute the same aggregate.
"""

from __future__ import annotations

from ..streaming import (
    _STREAM_QUALITY_SQL,
    STREAM_CUSTOM_STATE_SQL,
    stream_cms_heavy_hitters,
    stream_drift_monitor,
    stream_drift_psi,
    stream_late_data_audit,
    stream_quality_suite,
    stream_token_stats_fold,
    stream_bootstrap_ci_fold,
    STREAM_DEDUP_SQL,
    STREAM_LATE_AUDIT_SQL,
    STREAM_JOIN_SQL,
    STREAM_OUTER_SQL,
    STREAM_SESSION_SQL,
    STREAM_SLIDING_SQL,
    STREAM_STATIC_SQL,
    STREAM_TUMBLING_SQL,
    stream_click_purchase_join,
    stream_static_enrichment,
    stream_click_purchase_outer,
    stream_dedup_events,
    stream_session_windows,
    stream_sliding_user_activity,
    stream_tumbling_counts,
    stream_kmv_distinct,
    stream_transition_matrix,
    stream_user_totals_custom_state,
    stream_curation_funnel_fold,
)
from .analytics import _CMS_HH_SQL as _STREAM_CMS_SQL
from .incremental import _BM25_IDX_SQL as _STREAM_TOKSTATS_SQL
from .temporal import _TRANSITION_SQL
from .analytics import _KMV_SQL as _STREAM_KMV_SQL
from .analytics import _PSI_SQL as _STREAM_PSI_SQL
from .analytics import _DRIFT_SQL as _STREAM_DRIFT_SQL
from .mlprep import _funnel_sql as _stream_funnel_sql
from .stats import _POISSON_BOOTSTRAP_SQL as _STREAM_BOOT_SQL

QUERIES = {
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_sliding_user_activity": stream_sliding_user_activity,
    "stream_session_windows": stream_session_windows,
    "stream_static_enrichment": stream_static_enrichment,
    "stream_click_purchase_join": stream_click_purchase_join,
    "stream_click_purchase_outer": stream_click_purchase_outer,
    "stream_dedup_events": stream_dedup_events,
    "stream_user_totals_custom_state": stream_user_totals_custom_state,
    # stream_user_totals_tws (the transformWithStateInPandas twin,
    # streaming.py) is NOT registered: the StatefulProcessor wire
    # protocol hard-requires google.protobuf (StateMessage_pb2), which
    # this container lacks and installs are forbidden — the operator is
    # complete and gated behind an import check, its pytest skips with
    # the reason.
    "stream_transition_matrix": stream_transition_matrix,
    "stream_kmv_distinct": stream_kmv_distinct,
    "stream_drift_monitor": stream_drift_monitor,
    "stream_cms_heavy_hitters": stream_cms_heavy_hitters,
    "stream_drift_psi": stream_drift_psi,
    "stream_quality_suite": stream_quality_suite,
    "stream_late_data_audit": stream_late_data_audit,
    "stream_token_stats_fold": stream_token_stats_fold,
    "stream_bootstrap_ci_fold": stream_bootstrap_ci_fold,
    "stream_curation_funnel_fold": stream_curation_funnel_fold,
}

ORACLES = {
    "stream_tumbling_counts": STREAM_TUMBLING_SQL,
    "stream_sliding_user_activity": STREAM_SLIDING_SQL,
    "stream_session_windows": STREAM_SESSION_SQL,
    "stream_static_enrichment": STREAM_STATIC_SQL,
    "stream_click_purchase_join": STREAM_JOIN_SQL,
    "stream_click_purchase_outer": STREAM_OUTER_SQL,
    "stream_dedup_events": STREAM_DEDUP_SQL,
    "stream_user_totals_custom_state": STREAM_CUSTOM_STATE_SQL,
    "stream_transition_matrix": _TRANSITION_SQL,
    "stream_kmv_distinct": _STREAM_KMV_SQL,
    "stream_drift_monitor": _STREAM_DRIFT_SQL,
    "stream_cms_heavy_hitters": _STREAM_CMS_SQL,
    "stream_drift_psi": _STREAM_PSI_SQL,
    "stream_quality_suite": _STREAM_QUALITY_SQL,
    "stream_late_data_audit": STREAM_LATE_AUDIT_SQL,
    "stream_token_stats_fold": _STREAM_TOKSTATS_SQL,
    "stream_bootstrap_ci_fold": _STREAM_BOOT_SQL,
    "stream_curation_funnel_fold": _stream_funnel_sql(),
}
