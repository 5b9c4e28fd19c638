"""Physical-plan regression guards for the wave-3 extension operators —
the 100 TB story is a property of the PLAN, so assert it directly:
narrow ops must stay exchange-free, wide ops must shuffle on the right
bounded keys, and rank windows must never collapse to a single
partition over unbounded input."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from error_analysis_spark.extensions import mixing as MX
from error_analysis_spark.extensions import text as TX
from error_analysis_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_chunk_windows_no_exchange(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(TX.chunk_windows(docs, window=32, stride=24))
    assert "Exchange" not in plan, plan  # pure narrow fan-out


def test_dup_ngrams_shuffles_hashes_not_strings(spark):
    # plan-shape assertions inspect the FileScan — drop any cached
    # relation another module may have left over this file
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(TX.dup_ngram_stats(docs, n=8))
    # wide columns are the 64-bit gram hash + counts; the gram STRING
    # (array_join of 8 tokens) must be consumed row-locally, never
    # carried through an exchange
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "array_join" not in line, line
    # scan pruned to the two needed columns
    assert "ReadSchema" in plan
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # (the doc-frequency branch prunes even doc_id — only `text` flows)
    assert all(("text" in s and "lang" not in s
                and "source" not in s) for s in schemas), schemas


def test_weighted_sample_window_is_partitioned(spark):
    pdf = pd.DataFrame({"doc_id": range(100),
                        "source": ["s" + str(i % 4) for i in range(100)],
                        "w": [1.0] * 100})
    df = spark.createDataFrame(pdf)
    plan = _plan(MX.weighted_sample_k(df, k=3, weight_col="w"))
    # the rank window must partition by the group key — a
    # SinglePartition exchange here would funnel the corpus through
    # one task at scale
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan


def test_domain_weights_window_is_bounded(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(MX.domain_mix_weights(docs))
    # the ONLY single-partition stage permitted is the normalization
    # window over the ≤|domains|-row aggregate. toString prints parent
    # BEFORE child, so "SinglePartition appears before FileScan" is
    # vacuously true in any single-source plan; the directional check
    # is that an aggregate sits BETWEEN the single-partition exchange
    # and the scan — a funnel directly over the raw corpus would have
    # none
    seg = plan[plan.index("SinglePartition"):plan.index("FileScan")]
    assert "HashAggregate" in seg, \
        "normalization window must consume the aggregated (tiny) side"
    assert "hashpartitioning(source" in plan, plan


def test_hash_split_and_normalize_no_exchange(spark):
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(MX.hash_split(docs, seed=7))
    assert "Exchange" not in plan, plan  # map-only split assignment
    plan2 = _plan(TX.normalize_stats(docs))
    assert "Exchange" not in plan2, plan2
    plan3 = _plan(MX.length_buckets(docs))
    assert "Exchange" not in plan3, plan3


def test_oov_probe_is_broadcast(spark):
    # the top-k vocab must reach the exploded token stream as a
    # BroadcastExchange (one-pass tag join), never a shuffled join —
    # and the corpus side must aggregate exactly once (a single
    # doc-keyed exchange)
    from error_analysis_spark.extensions import sketches as SK
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(SK.oov_stats(docs, vocab_k=16, min_df=2))
    assert "BroadcastExchange" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    import re
    # exchanges keyed on the doc id ALONE (the probe's per-doc count);
    # vocab_topk's countDistinct expansion keys on (token, _id) and is
    # vocab-side work, not a second corpus aggregation
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    id_only = [k for k in keys
               if "_id" in k and "token" not in k]
    assert len(id_only) == 1, keys


def test_bloom_probe_no_corpus_join(spark):
    # the Bloom probe is a row-local expression: the TRAIN side of the
    # plan must contain no join and no exchange at all
    from error_analysis_spark.extensions import contamination as CT
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.where(F.col("doc_id") % 13 == 0)
    train = docs.where(F.col("doc_id") % 13 != 0)
    out = CT.bloom_contamination(train, bench, n=5, m_bits=1 << 14,
                                 k_hashes=4, threshold=0.3)
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_covariance_joins_on_id_aggregates_on_dims(spark):
    from error_analysis_spark.extensions import similarity as SIM
    spark.catalog.clearCache()
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _plan(SIM.embedding_covariance(emb))
    # the self-join must key on the vector id — as a broadcast hash
    # join at small SF (Catalyst's pick) or a co-partitioned shuffle
    # join at scale; the moment agg shuffles on (i, j) either way
    import re
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    id_join = ("BroadcastHashJoin [_id" in plan
               or any("_id" in k for k in keys))
    assert id_join, plan
    assert any("i#" in k and "j#" in k for k in keys), keys


def test_funnel_joins_stay_on_user_key(spark):
    from error_analysis_spark.operators.temporal import funnel_steps
    spark.catalog.clearCache()
    ev = load_table(spark, SF_DIR, "events")
    plan = _plan(funnel_steps(ev, ["view", "click", "purchase"]))
    import re
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    # every exchange in the funnel shuffles on user_id alone
    assert keys and all("user_id" in k for k in keys), keys


def test_q06_filters_reach_the_scan(spark):
    from error_analysis_spark.plans.queries_core import q06_forecast_revenue
    spark.catalog.clearCache()
    df = q06_forecast_revenue(spark, SF_DIR)
    # toString truncates the scan node mid-attribute; formatted mode
    # prints PushedFilters/ReadSchema in full
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    import re
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan
    # discount band and quantity cap are plain comparisons — they must
    # reach the parquet reader, not sit in a post-scan Filter only
    assert "l_discount" in pushed.group(1), pushed.group(1)
    assert "l_quantity" in pushed.group(1), pushed.group(1)
    # column pruning: the scan reads only the four needed columns
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all(
        "l_extendedprice" in s and "l_returnflag" not in s
        and "l_orderkey" not in s for s in schemas), schemas


# ---------------------------------------------------------------- wave 7

def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_q04_semi_join_prunes_probe_side(spark):
    from error_analysis_spark.plans.queries_core import q04_priority_exists
    spark.catalog.clearCache()
    plan = _formatted(spark, q04_priority_exists(spark, SF_DIR))
    # EXISTS compiles to a semi join — no DISTINCT, no full join output
    assert "LeftSemi" in plan, plan
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # lineitem probe side ships only its key + the filter column
    li = [s for s in schemas if "l_orderkey" in s]
    assert li and all("l_extendedprice" not in s and "l_quantity" not in s
                      for s in li), schemas


def test_q19_envelope_filters_reach_both_scans(spark):
    from error_analysis_spark.plans.queries_core import q19_disjunctive_revenue
    spark.catalog.clearCache()
    plan = _formatted(spark, q19_disjunctive_revenue(spark, SF_DIR))
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    # the explicit union envelope must reach the parquet readers even
    # though the exact OR-of-ANDs only evaluates post-join
    assert any("l_quantity" in p for p in pushed), pushed
    assert any("p_brand" in p for p in pushed), pushed
    # the filtered part side is a broadcastable dimension
    assert "BroadcastHashJoin" in plan, plan


def test_q13_outer_join_preserves_rows(spark):
    from error_analysis_spark.plans.queries_core import q13_order_distribution
    spark.catalog.clearCache()
    plan = _formatted(spark, q13_order_distribution(spark, SF_DIR))
    # customers with zero qualifying orders must survive to count at 0
    assert "LeftOuter" in plan, plan
    # no rank/window funnel anywhere — two hash aggregates only
    assert "Window" not in plan, plan


def test_q15_argmax_without_window(spark):
    from error_analysis_spark.plans.queries_core import q15_top_supplier
    spark.catalog.clearCache()
    plan = _formatted(spark, q15_top_supplier(spark, SF_DIR))
    # argmax-with-ties = broadcast 1-row max joined back — never a
    # global rank window
    assert "Window" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_q18_having_semi_carrier_no_window(spark):
    from error_analysis_spark.plans.queries_core import q18_large_orders
    spark.catalog.clearCache()
    plan = _formatted(spark, q18_large_orders(spark, SF_DIR))
    assert "Window" not in plan, plan
    # top-20 caps via TakeOrderedAndProject, not a full global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_q17_single_fact_scan_keyed_window(spark):
    from error_analysis_spark.plans.queries_core import q17_small_quantity_revenue
    spark.catalog.clearCache()
    plan = _formatted(spark, q17_small_quantity_revenue(spark, SF_DIR))
    # decorrelated scalar subquery = per-part window over ONE lineitem
    # scan (the join-back form scans the fact twice); the window must
    # partition on the part key, never a global window
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert sum("l_quantity" in s for s in schemas) == 1, schemas
    assert re.search(r"windowspecdefinition\(l_partkey", plan), plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_brand" in p for p in pushed), pushed


def test_q22_anti_join_prunes_probe(spark):
    from error_analysis_spark.plans.queries_core import q22_idle_balance
    spark.catalog.clearCache()
    plan = _formatted(spark, q22_idle_balance(spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # the orders probe ships only custkey (+ the pushed date filter)
    oscans = [s for s in schemas if "o_custkey" in s]
    assert oscans and all("o_totalprice" not in s for s in oscans), schemas
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_q21_single_lineitem_scan(spark):
    from error_analysis_spark.plans.queries_core import q21_sole_late_supplier
    spark.catalog.clearCache()
    plan = _formatted(spark, q21_sole_late_supplier(spark, SF_DIR))
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # the double-correlated EXISTS/NOT-EXISTS rewrite must scan
    # lineitem ONCE (the textbook triple self-join scans it 3x)
    assert sum("l_suppkey" in s for s in schemas) == 1, schemas
    assert "TakeOrderedAndProject" in plan, plan
    # stacked group-bys reuse the join's hash(orderkey) distribution —
    # no multi-distinct Expand, no extra exchange per aggregate
    assert "Expand" not in plan, plan


def test_q11_global_scalar_from_grouped_table(spark):
    from error_analysis_spark.plans.queries_core import q11_value_concentration
    spark.catalog.clearCache()
    plan = _formatted(spark, q11_value_concentration(spark, SF_DIR))
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # two fact scans by design (AQE does not reuse the grouped
    # exchange under the broadcast branch) — but both must prune to
    # exactly the needed columns
    li = [s for s in schemas if "l_partkey" in s]
    assert len(li) == 2 and all(
        "l_quantity" not in s and "l_shipdate" not in s for s in li), schemas
    # 1-row scalar joins back via broadcast
    assert "BroadcastNestedLoopJoin" in plan or \
        plan.count("BroadcastExchange") >= 1, plan


def test_argmax_doc_no_window(spark):
    from error_analysis_spark.plans.queries_ext import curation_argmax_doc
    spark.catalog.clearCache()
    plan = _formatted(spark, curation_argmax_doc(spark, SF_DIR))
    # argmax-per-group = struct-max aggregate, never a rank window.
    # Struct buffers force SortAggregate, but the PARTIAL aggregate
    # still runs before the exchange — the shuffle carries one row per
    # group per partition where the window form shuffles every row.
    assert "Window" not in plan, plan
    assert plan.count("SortAggregate") == 4, plan  # 2 tree + 2 detail
    import re
    # tree prints final→…→scan: final agg, then the exchange, then the
    # partial agg below it
    assert plan.index("SortAggregate") < plan.index("Exchange") \
        < plan.rindex("SortAggregate"), plan
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("text" not in s for s in schemas), schemas


def test_hll_register_agg_stays_jvm(spark):
    from error_analysis_spark.plans.queries_ext import sketch_hll_distinct
    spark.catalog.clearCache()
    plan = _formatted(spark, sketch_hll_distinct(spark, SF_DIR))
    # two stacked hash aggregates (group×bucket then group), pure JVM
    assert "PythonUDF" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final ×2


def test_cube_single_pass_expand(spark):
    from error_analysis_spark.plans.queries_ext import olap_cube_counts
    spark.catalog.clearCache()
    plan = _formatted(spark, olap_cube_counts(spark, SF_DIR))
    # CUBE = one Expand feeding one (partial+final) aggregate — one
    # scan for all four granularities
    assert "Expand" in plan, plan
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert len([s for s in schemas if "n_chars" in s]) == 1, schemas


def test_q20_single_fact_shuffle(spark):
    from error_analysis_spark.plans.queries_core import q20_dominant_supplier
    spark.catalog.clearCache()
    plan = _formatted(spark, q20_dominant_supplier(spark, SF_DIR))
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert sum("l_quantity" in s for s in schemas) == 1, schemas
    # the (part,supp) agg and the per-part window both reuse the
    # explicit repartition on the part key: the window must sit with
    # NO Exchange between it and the aggregate below it
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    agg = next(i for i, l in enumerate(lines)
               if i > win and "Aggregate" in l)
    assert not any("Exchange" in l for l in lines[win:agg]), tree


def test_anomaly_window_over_bounded_daily_table(spark):
    from error_analysis_spark.plans.queries_misc import w9_anomaly_days
    spark.catalog.clearCache()
    plan = _formatted(spark, w9_anomaly_days(spark, SF_DIR))
    # the trailing window must run over the (key, day) COUNT table,
    # i.e. an aggregate sits below the window in the tree
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    assert any("Aggregate" in l for l in lines[win:]), tree
    assert "TakeOrderedAndProject" in plan, plan
    assert "PythonUDF" not in plan, plan


def test_centroid_eval_broadcasts_and_stays_jvm(spark):
    from error_analysis_spark.plans.queries_ext import emb_centroid_eval
    spark.catalog.clearCache()
    plan = _formatted(spark, emb_centroid_eval(spark, SF_DIR))
    # centroid table and norms broadcast; corpus side never collects
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "PythonUDF" not in plan, plan
    assert "Window" not in plan, plan


def test_q08_one_fact_fact_exchange_rest_broadcast(spark):
    from error_analysis_spark.plans.queries_core import q08_market_share
    spark.catalog.clearCache()
    plan = _formatted(spark, q08_market_share(spark, SF_DIR))
    # the dim chains all collapse into broadcasts; numerator and
    # denominator come from ONE conditional aggregation (no second
    # fact pass)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert sum("l_extendedprice" in s for s in schemas) == 1, schemas
    assert sum("o_orderdate" in s for s in schemas) == 1, schemas


def test_pmi_no_corpus_self_join(spark):
    from error_analysis_spark.plans.queries_ext import text_pmi_pairs
    spark.catalog.clearCache()
    plan = _formatted(spark, text_pmi_pairs(spark, SF_DIR))
    # pairs are generated row-locally from each doc's vocab-token set:
    # the documents table is scanned for the vocab and the incidence
    # but NEVER joined against itself (no doc-keyed join at all —
    # every join in the plan is a broadcast of vocab-bounded tables)
    assert "SortMergeJoin" not in plan, plan
    assert "PythonUDF" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_trend_slope_single_agg_no_window(spark):
    from error_analysis_spark.plans.queries_misc import w10_trend_slope
    spark.catalog.clearCache()
    plan = _formatted(spark, w10_trend_slope(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "Sort" not in plan, plan
    import re
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    # one scan, pruned to the three needed columns
    assert len(schemas) == 1 and "props" not in schemas[0], schemas


def test_transitions_keyed_lag_window(spark):
    from error_analysis_spark.plans.queries_misc import w11_transitions
    spark.catalog.clearCache()
    plan = _formatted(spark, w11_transitions(spark, SF_DIR))
    import re
    # the lag window must partition on the user key (bounded runs),
    # never a global window
    assert re.search(r"windowspecdefinition\(user_id", plan), plan


def test_merge_upsert_co_partitioned_full_outer(spark):
    from error_analysis_spark.plans.queries_ext import curation_merge_upsert
    spark.catalog.clearCache()
    plan = _formatted(spark, curation_merge_upsert(spark, SF_DIR))
    # the merge core is ONE id-keyed full-outer join; neither corpus
    # side broadcasts and nothing drops into Python
    assert "FullOuter" in plan, plan
    assert "PythonUDF" not in plan, plan


def test_q07_q09_single_fact_fact_exchange(spark):
    from error_analysis_spark.plans.queries_core import (
        q07_bination_volume, q09_profit_by_nation_year)
    import re
    for fn in (q07_bination_volume, q09_profit_by_nation_year):
        spark.catalog.clearCache()
        plan = _formatted(spark, fn(spark, SF_DIR))
        # every dim chain broadcasts; each fact is scanned exactly once
        assert plan.count("BroadcastHashJoin") >= 2, plan
        schemas = re.findall(r"ReadSchema: (\S+)", plan)
        assert sum("l_orderkey" in s for s in schemas) == 1, schemas
        assert sum("o_orderdate" in s or "o_orderkey" in s
                   for s in schemas) == 1, schemas


def test_q16_anti_join_and_single_distinct(spark):
    from error_analysis_spark.plans.queries_core import q16_supplier_variety
    spark.catalog.clearCache()
    plan = _formatted(spark, q16_supplier_variety(spark, SF_DIR))
    assert "LeftAnti" in plan, plan
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_brand" in p for p in pushed), pushed


def test_salted_distinct_two_phase_plan(spark):
    from error_analysis_spark.plans.queries_misc import skew_salted_distinct
    spark.catalog.clearCache()
    plan = _formatted(spark, skew_salted_distinct(spark, SF_DIR))
    # phase 1 shuffles on (key, salt) — the salt must be IN the first
    # aggregate's grouping so no reducer owns a whole hot key
    import re
    assert re.search(r"Keys \[\d+\]: \[[^\]]*_salt", plan), plan
    assert "PythonUDF" not in plan, plan


def test_drift_psi_bounded_after_one_corpus_agg(spark):
    from error_analysis_spark.extensions.curation import distribution_drift
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(distribution_drift(docs))
    # everything after the (group, bin) count agg operates on tables
    # bounded by groups x bins: the reference joins are broadcast, and
    # nothing drops into Python
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "PythonUDF" not in plan, plan


def test_j11_interval_join_is_keyed_not_theta(spark):
    """The batch interval join must execute as an EQUI-join on the user
    key with the time band as a residual filter — a
    BroadcastNestedLoopJoin/CartesianProduct here would be the theta
    join that melts at scale."""
    from error_analysis_spark.plans.queries_misc import j11_interval_join
    from tests.conftest import SF_DIR
    plan = _formatted(spark, j11_interval_join(spark, SF_DIR))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_layout_zorder_key_stays_in_codegen(spark):
    """The Morton key is a fixed unrolled JVM expression: no Python
    eval stage anywhere in the plan."""
    from error_analysis_spark.plans.queries_misc import layout_zorder
    from tests.conftest import SF_DIR
    plan = _formatted(spark, layout_zorder(spark, SF_DIR))
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_registry_wide_plan_invariants(spark):
    """THE registry-wide plan sweep (round 7) — every declared query's
    physical plan is built ONCE and checked against all scale
    invariants together:

    1. No CartesianProduct anywhere — the one join strategy that
       cannot survive a 100× scale-up. Cross joins in the engine are
       all 1-row broadcast scalars (bias rows, n_target rows, Bloom
       bitsets), which plan as BroadcastNestedLoopJoin with a 1-row
       build side, never as a cartesian.
    2. No BatchEvalPython anywhere — the row-at-a-time Python UDF
       10-100× slow path.
    3. Arrow-batched Python (ArrowEvalPython / FlatMapGroupsInPandas /
       MapInPandas) appears ONLY in the documented kernels: pandas
       UDFs for CRS (SURVEY §7 design), applyInPandas for the zone
       scanline rasterizer and the blocked-GEMM / k-means numpy
       kernels, mapInPandas for multimodal decode. (Per-zone σ_A runs
       in the driver, so no σ_A query plans a Python stage.)

    Swept at the sf0.001 sibling of SF_DIR so eager sub-steps
    (localCheckpoint count tables, driver-side zone lists) stay
    cheap; ~2 min."""
    import os

    import __spark_entry__ as E
    from error_analysis_spark import cachereg

    sf_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    allowed_python = {"sim_pair_pack",
                      "sim_semantic_dedup", "a13_zone_pixel_counts",
                      "sc16_utm_roundtrip", "mm_pack",
                      # round 8: the PQ encode/ADC scan is a documented
                      # Arrow kernel (int64 einsum — the FAISS-style
                      # vectorized shape; the equivalent 3k-node
                      # expression tree re-paid seconds of Catalyst
                      # analysis per action, similarity._pq_encode).
                      # Declared via emb_pack since the member fold.
                      "emb_pack"}
    qs = E.queries()
    cartesian, row_at_a_time, undeclared = [], [], []
    for name in qs:
        plan = (qs[name](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_at_a_time.append(name)
        if any(m in plan for m in ("ArrowEvalPython",
                                   "FlatMapGroupsInPandas",
                                   "MapInPandas")) \
                and name not in allowed_python:
            undeclared.append(name)
        cachereg.release_tracked()
    assert cartesian == [], cartesian
    assert row_at_a_time == [], row_at_a_time
    assert undeclared == [], undeclared


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_jaccard_verify_single_intersect(spark):
    """Regression guard for the `_compute_once` pushdown barrier
    (ADVICE r09): the barrier's survival depends on the optimizer not
    constant-folding `floor(rand(42))*0`. If an engine upgrade folds
    it, Catalyst inlines the Jaccard threshold into the candidate join
    as a non-equi condition whose expression text evaluates
    array_intersect per-row THREE times (measured 4,540 vs 620
    task-CPU-core-s on the funnel's 8.26M-candidate verify) — this
    test fails loudly instead. Asserted on BOTH verify shapes: the
    inverted-index path (`_verified_pair_stats`, as jaccard_pairs
    invokes it) and the LSH path (`_verify_jaccard`, as minhash_dedup
    invokes it)."""
    from error_analysis_spark.extensions import dedup as DD
    docs = load_table(spark, SF_DIR, "documents").limit(300)

    # shape 1: inverted-index candidates + verify (jaccard_pairs form,
    # incl. the round-11 jaccard_floor length guard below the barrier)
    toks = DD.doc_tokens(docs)
    base, pins = DD._verified_pair_stats(docs, toks, "text", "doc_id", 50,
                                         jaccard_floor=0.5)
    jac = (base.withColumn(
        "jaccard", F.col("inter")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= 0.5))

    # shape 2: LSH banded candidates + verify (minhash_dedup form)
    banded = DD.banded_signatures(docs, "text", "doc_id", 16, 4)
    a = banded.select(F.col("id").alias("id_a"), "band", "sig")
    b = banded.select(F.col("id").alias("id_b"), "band", "sig")
    cands = (a.join(b, ["band", "sig"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    tok_arr = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(TX.tokens("text")).alias("toks"))
    lsh = DD._verify_jaccard(cands, tok_arr, 0.5)

    for label, df in (("inverted-index", jac), ("lsh", lsh)):
        opt = _optimized(df)
        phys = _plan(df)
        for name, plan in (("optimized", opt), ("physical", phys)):
            n = plan.count("array_intersect")
            assert n == 1, (
                f"{label}/{name}: array_intersect appears {n}× — the "
                f"_compute_once barrier was folded away and the "
                f"threshold was inlined into the join:\n{plan}")
        # every join condition stays a pure equi join: no Join node's
        # condition text may carry the intersect (a non-equi residual
        # would re-evaluate it per candidate inside the join)
        for line in opt.splitlines():
            if line.lstrip().startswith(("Join ", ":- Join", "+- Join")):
                assert "array_intersect" not in line, line
    for p in pins:
        p.unpersist()
