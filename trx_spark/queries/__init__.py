"""Correctness-gate queries: one entry per implemented operator
(SURVEY.md §2), each with a DuckDB oracle SQL string.

Every Spark query and its oracle are written against the driver's
testdata tables; the scalar math uses identical expression trees and the
aggregates use fixed-point integer sums (see :mod:`trx_spark.exact`), so
the two engines produce bit-identical values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from trx_spark.queries import (
    auditq,
    bpe,
    classifier,
    corpus,
    curation,
    curriculum,
    embstats,
    layout,
    lm,
    multimodalq,
    packing,
    ranking,
    relational,
    similarity,
    sketches,
    streamingq,
    temporal,
    textdata,
    textquality,
    trxdomain,
    unigram,
    weburl,
    wordpiece,
    trxdomain2,
    trxdomain3,
    dataops,
    relational2,
    relational3,
    linkage,
    contracts,
    driftstats,
    bucketing,
    mgsketch,
    mlops,
    evolution,
    graphq,
    preference,
    langid,
    stataudit,
    lshtune,
)
from trx_spark.sources import textio

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

for mod in (
    relational,
    relational2,
    trxdomain,
    trxdomain2,
    trxdomain3,
    textdata,
    similarity,
    corpus,
    curation,
    textquality,
    packing,
    layout,
    weburl,
    temporal,
    curriculum,
    sketches,
    ranking,
    bpe,
    wordpiece,
    unigram,
    embstats,
    auditq,
    lm,
    classifier,
    multimodalq,
    streamingq,
    dataops,
    textio,
    linkage,
    contracts,
    relational3,
    driftstats,
    bucketing,
    mlops,
    evolution,
    graphq,
    preference,
    langid,
    stataudit,
    lshtune,
    mgsketch,
):
    QUERIES.update(mod.QUERIES)
    ORACLES.update(mod.ORACLES)

# The driver's correctness gate hashes the first GATE_WINDOW registry
# entries per round; the windows of earlier rounds are recorded in
# CORRECTNESS_r01.json .. CORRECTNESS_r13.json.
# Round-14 window, executing the r13 verdict's rotation note exactly:
# (a) dp_quantile + dp_group_quantiles — the LAST two names with no
# driver row ever (landed after the r13 window sealed; verified vs
# their DuckDB oracles at sf0.001 + sf0.01 in-session, provenance in
# LOCAL_VERIFICATION) — after this window never_checked == 0 again;
# (b) the 18 names whose newest driver row is r08-era (the queue the
# r13 rotation note names explicitly); (c) code-currency fillers: the
# alphabetically-first 30 of the 49 names whose newest driver row is
# r09-era.  The remaining 19 r09-era names queue next
# (parts_supplier_relationship … xml_ingest_stats).
_R14_NEVER = ["dp_quantile", "dp_group_quantiles"]
_R14_STALE_R08 = [
    "pq_codes", "promo_revenue_share", "record_linkage_pairs",
    "simhash_neardup_pairs", "source_overlap_matrix", "source_token_drift",
    "split_leakage_audit", "streaming_curation_keep", "streaming_lsh_pairs",
    "table_profile", "tokenizer_fertility", "training_set_manifest",
    "trimmed_length_stats", "url_dedup_keep", "volume_shipping",
    "wordpiece_encode", "zorder_layout_keys", "zorder_skipping_stats",
]
_R14_STALE_R09 = [
    "ab_test_zscore", "bootstrap_replica_means", "bucketed_join_stats",
    "cdc_apply_changes", "conversion_latency_quantiles", "cuped_adjusted_ab",
    "customer_order_distribution", "disjunctive_discount_revenue",
    "embedding_int8_quantization", "event_path_trigrams",
    "event_trend_robust", "forecast_revenue_change", "image_augment_stats",
    "image_hist_equalization", "image_patch_stats", "inverted_index_stats",
    "k_anonymity_audit", "knn_label_agreement", "knn_label_propagation",
    "ks_two_sample", "large_volume_customers", "linestatus_priority",
    "lm_next_token_accuracy", "mannwhitney_u", "modality_alignment_audit",
    "moving_median_counts", "ols_trend_stats", "ops_health_report",
    "orc_roundtrip_stats", "order_priority_check",
]
_R14_WINDOW = _R14_NEVER + _R14_STALE_R08 + _R14_STALE_R09
# the driver hashes this many leading registry entries per round; the
# bench telemetry stamps it so committed artifacts track resizes
GATE_WINDOW = 50
assert len(_R14_WINDOW) == GATE_WINDOW, len(_R14_WINDOW)
_order = _R14_WINDOW + [n for n in QUERIES if n not in set(_R14_WINDOW)]
QUERIES = {n: QUERIES[n] for n in _order}
ORACLES = {n: ORACLES[n] for n in _order if n in ORACLES}

# Local-verification provenance for oracle-bearing names without a
# driver CORRECTNESS row yet (r12 verdict task 6): where/when the
# builder verified the gate vs its DuckDB oracle — cell-exact,
# order-insensitive, column-name-sorted (stricter than the driver's
# hash) — BEFORE landing it.  The bench stamps the relevant subset
# into BENCH_DETAIL's registry block so the artifact explains why a
# never-checked name is expected-green; entries are pruned once the
# name has a driver row.
LOCAL_VERIFICATION = {
    "heavy_hitters_windowed": {"round": 13, "sfs": ["0.001", "0.01"]},
    "streaming_heavy_hitters_windowed": {"round": 13, "sfs": ["0.001", "0.01"]},
    "dp_heavy_hitters": {"round": 13, "sfs": ["0.001", "0.01"]},
    "dp_epsilon_ledger": {"round": 13, "sfs": ["0.001", "0.01"]},
    "streaming_manifest": {"round": 13, "sfs": ["0.001", "0.01"]},
    # landed after the r13 window sealed; queued for the r14 window
    "dp_quantile": {"round": 13, "sfs": ["0.001", "0.01"]},
    "dp_group_quantiles": {"round": 13, "sfs": ["0.001", "0.01"]},
}
