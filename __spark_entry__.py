"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in error_analysis_spark/plans/ (one module per operator
family, SURVEY.md §2); this file only merges the registries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from error_analysis_spark.plans.queries_core import CORE_QUERIES  # noqa: E402
from error_analysis_spark.plans.queries_ext import EXT_QUERIES  # noqa: E402
from error_analysis_spark.plans.queries_misc import MISC_QUERIES  # noqa: E402
from error_analysis_spark.plans.queries_packs import (  # noqa: E402
    PACK_QUERIES, PACKED_MEMBERS)
from error_analysis_spark.plans.queries_raster import RASTER_QUERIES  # noqa: E402
from error_analysis_spark.plans.queries_vario import VARIO_QUERIES  # noqa: E402

_MERGED: dict[str, tuple] = {}
_MERGED.update(CORE_QUERIES)
_MERGED.update(VARIO_QUERIES)
_MERGED.update(RASTER_QUERIES)
_MERGED.update(MISC_QUERIES)
_MERGED.update(EXT_QUERIES)
# consolidation (round 5, VERDICT r4 #3): families of single queries
# fuse into packs whose value hash covers every member's full result;
# members keep their functions/tests but leave the DECLARED registry
for _m in PACKED_MEMBERS:
    del _MERGED[_m]
_MERGED.update(PACK_QUERIES)

# The driver oracle-checks the FIRST 50 declared queries, so declaration
# order is a verification budget. Policy (COVERAGE.md "verification
# rotation"): (1) queries with no green CORRECTNESS row last round come
# first, (2) then queries new or changed this round, (3) then the stable
# body; the explicit _ROTATE_OUT tail (only long-stable greens) is named
# in COVERAGE.md as next round's re-verification set.
_FRONT = [
    # Round 12 (optimization round 2): every query whose operator
    # internals changed this round leads the verification window, so
    # the driver's next CORRECTNESS artifact re-blesses exactly the
    # changed code (the r10/r11 precedent). Changes behind each:
    #   curation_funnel — stage-3 count folded into the first LSH job
    #     as an Observation (no dedicated fill wave); CC threshold
    #     probe reuses minhash_dedup's eager pair count (n_edges);
    #   sim_pair_pack — lsh_topk pins the banded + normed frames that
    #     feed both sides of its self-joins (each executed twice
    #     before);
    #   text_doc_pack — the row-local member trio (repetition line
    #     signal, PII scrub, BPE token counts) fused into ONE
    #     projection via repetition_stats extra_cols;
    #   dedup_cluster_pack — dedup_components persists+counts its
    #     (provably distinct) blocked-GEMM pair list and hands that
    #     count to CC as n_edges (edge-dedup shuffle, checkpoint copy
    #     and probe count gone).
    # All hold local foreign-session DuckDB greens (102/102 sweep run
    # before the round-12 commit).
    "curation_funnel", "sim_pair_pack", "text_doc_pack",
    "dedup_cluster_pack",
    # then the round-11-changed queries, re-blessed by the r11 driver
    # (50/50 green), kept in-window one more round:
    "dedup_jaccard", "dedup_containment", "mm_pack",
    "contam_chunk_pack", "text_contam_bloom",
    "text_bpe_merges", "text_bigram_ppl", "text_tfidf_topk",
    # then unchanged r10 greens from the previous window, verbatim
    # order (12 + 38 = 50 exactly); the five displaced names
    # (curation_snapshot_diff, w6_outlier_mad, emb_covariance,
    # curation_data_card, w7_funnel, w8_retention,
    # curation_quality_prune) keep their r10 greens in the body.
    "j11_interval_join", "layout_zorder", "curation_delta_agg",
    "text_domain_topk", "emb_hard_triplets",
    "pipeline_chain", "ingest_compaction",
    "a8_rms", "a16_sym_bounds", "sc4_json_extract", "f5_valid_filter",
    "so2_anti_join", "f1_drop_noise", "a6_median_bias",
    "a14_closed_form", "a15_param_percentiles", "f6_percentile_clip",
    "sc_scalar_pack", "sc6_gps_dates", "sc2_catalog_parse",
    "so3_full_outer", "a5_mean_variogram", "a1_describe_events",
    "a7_bootstrap_median", "f2_keep_ground", "text_fingerprint",
    "text_token_stats", "text_quality", "sim_cosine_topk",
    "text_normalize", "text_oov_rate",
    "curation_domain_cap", "w5_rolling_stats",
    "sketch_grouped_quantiles", "curation_split",
    "curation_length_buckets", "sketch_cms_err",
    "emb_random_projection",
]
# Changed this round but OUTSIDE the window (each holds an r09 driver
# green; the window is fully booked by 1 pin + the 49-name tail).
# Every name here leads the r11 window per the mm_pack precedent.
# Round-10 changes (all re-driven green against their DuckDB oracles
# in a foreign local[8] session AFTER the change, 100/100 MATCH):
#   curation_funnel    — minhash_dedup verify extracted to the lazy
#                        _verify_jaccard helper (plan-shape-testable)
#                        + connected_components byte-bounded local
#                        threshold for string ids (ADVICE r09);
#   sim_pair_pack      — member dedup_minhash_lsh, same refactor;
#   dedup_cluster_pack — member dedup_components, same CC change +
#                        incremental probe hashed verify;
#   dedup_jaccard / dedup_containment — hashed-token exact verify
#                        (int64 sets, 2× kernel; BASELINE round-10).
# (text_contam_bloom also changed — ndarray bitset literal — but it
# sits IN the r10 window at slot 3 and gets its green this round.)
# NEW this round:
#   text_gopher_flags — the Gopher/MassiveText quality rule set
#                       (text.py:gopher_flags; full DuckDB oracle,
#                       hash-verified locally + planted-rule tests).
#   text_c4_clean     — the C4 cleaning recipe (text.py:c4_clean;
#                       full DuckDB oracle + planted-rule tests).
_POST_WINDOW_NEW: list[str] = [
    # round 11 moved every changed query INTO the window (see _FRONT);
    # text_gopher_flags / text_c4_clean (new in r10, r10-green,
    # unchanged in r11) stay in the body awaiting their next rotation.
    "text_gopher_flags", "text_c4_clean",
]
# The rotate-out tail: r09/r10 greens NOT changed in round 11 — next
# round's re-verification set after the r11-changed pins clear.
_ROTATE_OUT = [
    "dedup_sig_pack", "text_line_dedup", "pipeline_chain_multi",
    "emb_pack",
    "curation_drift_psi", "sketch_hll_distinct", "curation_argmax_doc",
    "olap_cube_counts", "w9_anomaly_days", "emb_centroid_eval",
    "text_pmi_pairs", "w10_trend_slope", "w11_transitions",
    "curation_pareto", "curation_checksum", "curation_merge_upsert",
    "w12_transition_matrix", "curation_profile", "skew_salted_distinct",
    "tpch_agg_pack", "tpch_join_pack", "tpch_subq_pack",
    "s8_grid_pack",
    "mixing_pack", "sigma_a_pack",
    "text_sketch_pack",
    "temporal_pack",
    "sim_semantic_dedup",
    "a2_zonal_stats", "w2_positional_pick", "j4_variogram_bins",
    "r7_polygonize", "j1_r4_dod", "a13_zone_pixel_counts",
    "sc16_utm_roundtrip", "r1_geoid_shift",
    "curation_domain_weights", "curation_weighted_sample",
    "text_bm25_topk", "so_mask_algebra", "r2_focal_all", "r3_fill_all",
    "ingest_csv_quarantine",
    # displaced from the r10 window by the round-11 changed-query pins
    # (each unchanged since its r10 green):
    "curation_snapshot_diff", "w6_outlier_mad", "emb_covariance",
    "curation_data_card", "w7_funnel", "w8_retention",
    "curation_quality_prune",
]

_ALL: dict[str, tuple] = {}
for _n in _FRONT:
    _ALL[_n] = _MERGED[_n]
for _n in _MERGED:
    if _n not in _ALL and _n not in _ROTATE_OUT:
        _ALL[_n] = _MERGED[_n]
for _n in _ROTATE_OUT:
    _ALL[_n] = _MERGED[_n]
assert len(_ALL) == len(_MERGED), "registry reorder dropped a query"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    j1_r4_dod is the engine's raison d'être: align (regrid + pair join)
    → difference → median-bias subtract → zonal stats in one lazy DAG
    (notebook cells [60]-[74])."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fn, _ = _ALL["j1_r4_dod"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query family from SURVEY.md §2."""
    from error_analysis_spark import cachereg as _cachereg

    out = {}
    for name, (fn, _sql) in _ALL.items():
        def wrapped(spark, sf_dir, _fn=fn):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # harness-level conf pin (not per-query mutation): every
            # timestamp query assumes UTC
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # release caches pinned by the PREVIOUS query (dedup pair
            # lists, the chain's DoD reuse cache, …) so a long-lived
            # session (driver's query loop, bench) never accumulates
            # persisted results (ADVICE r05)
            _cachereg.release_tracked()
            return _fn(spark, sf_dir)
        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (same column aliases)."""
    return {name: sql for name, (_fn, sql) in _ALL.items() if sql is not None}
