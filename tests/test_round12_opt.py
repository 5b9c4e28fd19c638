"""Round-12 optimization regression tests: every optimization that
changed an operator's internals gets a semantics pin here."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"


def test_funnel_stats_observation_parity(spark):
    """Round 12 folded the stage-3 count (n3) into the first LSH job as
    an Observation (no dedicated s3.count() fill wave). The funnel
    stats must equal an independent recomputation of every stage
    count on real testdata."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from error_analysis_spark.extensions import text as TX
    from error_analysis_spark.extensions.curation import (
        CurationConfig, curate_documents)

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    cfg = CurationConfig(min_quality=0.3, keep_langs=("en",),
                         near_dup_threshold=0.9, num_perm=32, bands=8)
    kept, stats = curate_documents(docs, cfg)
    rows = {r.stage: (r.rows_in, r.rows_out) for r in stats.collect()}

    n0 = docs.count()
    s1 = docs.withColumn("quality", TX.quality_expr("text")) \
        .where(F.col("quality") >= cfg.min_quality)
    n1 = s1.count()
    s2 = (TX.lang_scores(s1, "text")
          .select(*s1.columns, "pred_lang")
          .where(F.col("pred_lang").isin(*cfg.keep_langs)))
    n2 = s2.count()
    wh = Window.partitionBy(F.md5(F.col("text")))
    s3 = s2.withColumn("_m", F.min("doc_id").over(wh)) \
        .where(F.col("doc_id") == F.col("_m"))
    n3 = s3.count()
    n4 = kept.count()

    assert rows["input"] == (n0, n0)
    assert rows["quality_gate"] == (n0, n1)
    assert rows["language_filter"] == (n1, n2)
    assert rows["exact_dedup"] == (n2, n3)
    assert rows["near_dup_dedup"] == (n3, n4)


def test_block_cosine_pairs_distinct_and_cc_parity(spark):
    """dedup_components (round 12) passes n_edges for the blocked-GEMM
    pair list: (a) the pair list is distinct by construction, (b)
    connected_components over it with n_edges labels identically to the
    default dedup+checkpoint path."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from error_analysis_spark.extensions import dedup as DD
    from error_analysis_spark.extensions import similarity as SIM

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    pairs = SIM.block_cosine_pairs(emb, threshold=0.35, n_blocks=4)
    n = pairs.count()
    assert n == pairs.select("id_a", "id_b").distinct().count()
    assert n > 0
    # the block count is a pure performance parameter — the default
    # n_blocks=8 gives the identical pair list to n_blocks=4
    default = SIM.block_cosine_pairs(emb, threshold=0.35)
    assert (sorted(map(tuple, default.collect()))
            == sorted(map(tuple, pairs.collect())))

    verts = emb.select(F.col("vec_id").alias("id"))
    ready = pairs.persist()
    n_ready = ready.count()

    def labels(p, **kw):
        return sorted((r.id, r.component) for r in
                      DD.connected_components(p, verts, **kw).collect())

    base = labels(pairs)
    assert labels(ready, n_edges=n_ready) == base
    # n_edges must not change the labeling on the distributed path
    # either (threshold 0 forces it)
    assert labels(ready, n_edges=n_ready, local_threshold=0) == base
    ready.unpersist()


def test_text_doc_pack_fused_trio_matches_members(spark):
    """The round-12 fused projection (repetition + PII + BPE counts on
    one scan) emits exactly the columns the three standalone members
    produce, on real testdata."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from error_analysis_spark.plans.queries_ext import (
        text_pii_scrub, text_repetition, text_token_count_bpe)
    from error_analysis_spark.plans.queries_packs import text_doc_pack_fn

    cols = ["doc_id", "dup_line_frac", "top_2gram_frac", "dup_5gram_frac",
            "n_email", "n_ipv4", "n_phone", "scrub_md5",
            "n_bpe_tokens", "n_ws_tokens", "fertility"]
    fused = text_doc_pack_fn(spark, SF001).select(*cols)
    ref = (text_repetition(spark, SF001)
           .join(text_pii_scrub(spark, SF001), "doc_id")
           .join(text_token_count_bpe(spark, SF001), "doc_id")
           .select(*cols))

    def rows(df):
        return sorted(map(tuple, df.collect()),
                      key=lambda t: t[0])

    got, want = rows(fused), rows(ref)
    assert len(got) == len(want) > 0
    assert got == want


def test_lsh_topk_pinned_unchanged(spark):
    """lsh_topk's round-12 pins (banded + normed frames) must not
    change the neighbor lists — compare against a straightforward
    unpinned restatement of the same algorithm."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from error_analysis_spark.extensions import similarity as SIM

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    got = sorted(map(tuple, SIM.lsh_topk(
        emb, k=5, n_planes=10, n_tables=2, seed=42).collect()))

    # unpinned restatement: per-table buckets, union of candidates,
    # exact cosine, window top-k
    dim = len(emb.select("embedding").first()[0])
    cands = None
    for t in range(2):
        b = SIM.hyperplane_buckets(emb, n_planes=10, seed=42 + 1000 * t,
                                   dim=dim)
        a = b.select(F.col("id").alias("id_a"), "bucket")
        c = b.select(F.col("id").alias("id_b"), "bucket")
        p = (a.join(c, "bucket").where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.distinct()
    normed = emb.select(
        F.col("vec_id").alias("id"),
        SIM._as_double(F.col("embedding")).alias("v")) \
        .withColumn("n", SIM.l2_norm(F.col("v")))
    va = normed.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                       F.col("n").alias("na"))
    vb = normed.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                       F.col("n").alias("nb"))
    sim = SIM.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    scored = (cands.join(va, "id_a").join(vb, "id_b")
              .select("id_a", "id_b", F.round(sim, 6).alias("sim")))
    both = scored.unionByName(scored.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "sim"))
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(),
                                           F.col("id_b").asc())
    want = sorted(map(tuple, both.withColumn(
        "rk", F.row_number().over(w)).where(F.col("rk") <= 5).collect()))
    assert got == want
    assert len(got) > 0


def test_minhash_dedup_returned_count_matches_true_count(spark):
    """minhash_dedup returns its eager result count for CC's n_edges —
    it must equal the true row count."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(8),
        "text": ["the quick brown fox jumps over the lazy dog",
                 "the quick brown fox jumps over the lazy dogs",
                 "completely different content here",
                 "the quick brown fox jumps over the lazy dog",
                 "another unrelated document body",
                 "the quick brown fox leaps over the lazy dog",
                 "short one",
                 "short one two"]}))
    from error_analysis_spark.extensions import dedup as DD
    pairs, n_pairs = DD.minhash_dedup(docs, num_perm=16, bands=4,
                                      threshold=0.35)
    assert n_pairs == pairs.count()
    pairs.unpersist()
