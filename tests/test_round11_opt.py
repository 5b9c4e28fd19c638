"""Round-11 optimization regression tests: every optimization that
changed an operator's internals gets a semantics pin here."""

from __future__ import annotations

import pandas as pd


def _rules(df):
    return [(r.step, r.left_sym, r.right_sym, r.pair_count)
            for r in df.orderBy("step").collect()]


def test_bpe_train_local_equals_distributed(spark):
    """The round-11 bounded local trainer path and the distributed
    sentinel-replace loop produce the identical rule list (rules,
    order, corpus-weighted counts) — forced onto each path via
    local_threshold on a corpus with overlap ('aaaa'), merged-symbol
    reuse and ties."""
    from error_analysis_spark.extensions.text import bpe_train
    corpus = [
        "low lower lowest low low",
        "newer newest new newer",
        "aaaa aaa aa baaab",
        "wider wide widest low",
    ]
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(len(corpus)), "text": corpus}))
    local = _rules(bpe_train(docs, n_merges=10, local_threshold=200_000))
    dist = _rules(bpe_train(docs, n_merges=10, local_threshold=0))
    assert local == dist
    assert len(local) == 10


def test_bpe_train_distributed_early_stop(spark):
    """The distributed path (threshold forced to 0) still early-stops
    on a single-char vocabulary."""
    from error_analysis_spark.extensions.text import bpe_train
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0], "text": "a b c a"}, index=[0]))
    assert bpe_train(docs, n_merges=5, local_threshold=0).count() == 0


def test_fused_asset_fingerprints_matches_member_kernels(spark):
    """The round-11 fused mm_pack decode pass produces EXACT int64
    parity with the three standalone member kernels on real testdata
    (images incl. real-PPM rows, audio, video). Compared as Python
    ints, not through pandas — a float64-coerced hash column truncates
    to 53-bit mantissas and the rounding can mask itself (the bug this
    pins was invisible to a nullable-column DataFrame compare)."""
    from pyspark.sql import functions as F

    from error_analysis_spark.extensions import multimodal as MM
    from error_analysis_spark.plans.queries_ext import _doc_assets

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assets = _doc_assets(spark, "/root/testdata/sf0.001")
    fused = MM.fused_asset_fingerprints(assets, batch_rows=7)

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    # image_phash parity: identical ids, hashes (exact ints), srcs
    assert rows(fused.where(F.col("kind") == "image"),
                "asset_id", "phash", "decode_src") == \
        rows(MM.image_phash(assets, batch_rows=32),
             "asset_id", "phash", "decode_src")
    # audio_fingerprint parity (af_src is the WAV-parser verdict)
    assert rows(fused.where(F.col("kind") == "audio"),
                "asset_id", "afp", "af_src") == \
        rows(MM.audio_fingerprint(assets, batch_rows=32),
             "asset_id", "afp", "decode_src")
    # extract_features parity on the columns mm_pack projects
    assert rows(fused, "asset_id", "kind", "n_bytes", "shape",
                "decode_src") == \
        rows(MM.extract_features(assets, batch_rows=32),
             "asset_id", "kind", "n_bytes", "shape", "decode_src")
    # non-members carry NULL hashes (video: both; image: afp; audio: phash)
    assert fused.where((F.col("kind") != "image")
                       & F.col("phash").isNotNull()).count() == 0
    assert fused.where((F.col("kind") != "audio")
                       & F.col("afp").isNotNull()).count() == 0


def test_fused_hashes_survive_pandas_exactly(spark):
    """64-bit hashes with >53 significant bits cross the fused kernel's
    Arrow boundary bit-exactly even when their column holds NULLs (the
    pandas Int64 pin)."""
    from pyspark.sql import functions as F

    from error_analysis_spark.extensions import multimodal as MM

    # two image payloads whose dHash has high bit-entropy plus an
    # audio row forcing NULL phash into the same Arrow batch
    pdf = pd.DataFrame({
        "asset_id": [1, 2, 3],
        "kind": ["image", "image", "audio"],
        "payload": [b"img-a" * 40, b"img-b" * 40, b"aud" * 50],
        "width": [33, 65, None], "height": [17, 31, None],
        "sample_rate": [None, None, 1600], "n_frames": [None] * 3,
    })
    assets = spark.createDataFrame(pdf)
    got = {r.asset_id: r.phash
           for r in MM.fused_asset_fingerprints(assets).collect()}
    for aid in (1, 2):
        a = pdf[pdf.asset_id == aid].iloc[0]
        arr, _ = MM.decode_payload_src(bytes(a.payload), "image",
                                       int(a.width), int(a.height),
                                       None, None)
        assert got[aid] == MM.dhash64(arr)  # exact int equality
    assert got[3] is None


def test_length_guard_exact_equivalence(spark):
    """The round-11 Jaccard length prefilter (J ≤ min/max) never drops
    a pair the exact-verify threshold keeps: guarded and unguarded
    verify produce the identical pair set on real data at the funnel's
    0.9 AND a permissive 0.35 threshold, including boundary pairs whose
    size ratio lands exactly ON the threshold."""
    from pyspark.sql import functions as F

    from error_analysis_spark.extensions import dedup as DD

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").limit(400)

    def pair_set(threshold, guarded):
        banded = DD.banded_signatures(docs, "text", "doc_id", 16, 4)
        a = banded.select(F.col("id").alias("id_a"), "band", "sig")
        b = banded.select(F.col("id").alias("id_b"), "band", "sig")
        cands = (a.join(b, ["band", "sig"])
                 .where(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b").distinct())
        tok_arr = docs.select(F.col("doc_id").alias("id"),
                              DD._hashed_token_set("text").alias("toks"))
        if guarded:
            out = DD._verify_jaccard(cands, tok_arr, threshold)
        else:  # the pre-round-11 form: no length prefilter
            ja = tok_arr.select(F.col("id").alias("id_a"),
                                F.col("toks").alias("toks_a"))
            jb = tok_arr.select(F.col("id").alias("id_b"),
                                F.col("toks").alias("toks_b"))
            inter = (cands.join(ja, "id_a").join(jb, "id_b")
                     .select("id_a", "id_b",
                             F.size(F.array_intersect(
                                 "toks_a", "toks_b")).alias("inter"),
                             F.size("toks_a").alias("sz_a"),
                             F.size("toks_b").alias("sz_b")))
            out = (inter.withColumn(
                "jaccard", F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
                .where(F.col("jaccard") >= threshold))
        return sorted((r.id_a, r.id_b, r.jaccard) for r in out.collect())

    for t in (0.9, 0.35):
        assert pair_set(t, True) == pair_set(t, False)

    # constructed boundary: |A|=9,|B|=10, A ⊂ B → J = 9/10 = ratio =
    # exactly 0.9 — the guard must keep it at threshold 0.9
    import pandas as pd
    toks_b = [f"w{i}" for i in range(10)]
    bdocs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": [" ".join(toks_b[:9]), " ".join(toks_b)]}))
    cands = spark.createDataFrame(pd.DataFrame({"id_a": [1], "id_b": [2]}))
    tok_arr = bdocs.select(F.col("doc_id").alias("id"),
                           DD._hashed_token_set("text").alias("toks"))
    kept = DD._verify_jaccard(cands, tok_arr, 0.9).collect()
    assert len(kept) == 1 and abs(kept[0].jaccard - 0.9) < 1e-12


def test_verified_pair_stats_rowlocal_sizes(spark):
    """The round-11 pruned-path restructure (sz from F.size of the
    hashed token-set array, sizes aggregate + final joins removed, the
    array frame pinned) returns exactly the old per-pair stats —
    including docs with repeated tokens, where |array| must be the
    DISTINCT token count."""
    import pandas as pd
    from pyspark.sql import functions as F

    from error_analysis_spark.extensions import dedup as DD

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b c a a b",            # 3 distinct of 6 raw
                 "a b c d",                # 4 distinct
                 "x y z a"]}))             # overlap {a} with 1, 2
    toks = DD.doc_tokens(docs).cache()
    base, pins = DD._verified_pair_stats(docs, toks, "text", "doc_id", 3)
    rows = sorted((r.id_a, r.id_b, r.inter, r.sz_a, r.sz_b)
                  for r in base.collect())
    toks.unpersist()
    for p in pins:
        p.unpersist()
    # reference values by hand: tokens in ≤3 docs all survive the cap
    assert rows == [(1, 2, 3, 3, 4), (1, 3, 1, 3, 4), (2, 3, 1, 4, 4)]


def test_minhash_dedup_candidate_guard_equivalence(spark):
    """The candidate-time length guard (sz carried on the banded frame,
    pruning before the candidate-dedup exchange) leaves minhash_dedup's
    verified pair set exactly equal to the fully unguarded
    band-join → distinct → verify → threshold pipeline."""
    from pyspark.sql import functions as F

    from error_analysis_spark.extensions import dedup as DD

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").limit(350)

    got, _ = DD.minhash_dedup(docs, num_perm=16, bands=4, threshold=0.6)
    got_rows = sorted((r.id_a, r.id_b, r.jaccard) for r in got.collect())
    got.unpersist()

    banded = DD.banded_signatures(docs, "text", "doc_id", 16, 4)
    a = banded.select(F.col("id").alias("id_a"), "band", "sig")
    b = banded.select(F.col("id").alias("id_b"), "band", "sig")
    cands = (a.join(b, ["band", "sig"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())
    tok_arr = docs.select(F.col("doc_id").alias("id"),
                          DD._hashed_token_set("text").alias("toks"))
    ja = tok_arr.select(F.col("id").alias("id_a"),
                        F.col("toks").alias("toks_a"))
    jb = tok_arr.select(F.col("id").alias("id_b"),
                        F.col("toks").alias("toks_b"))
    inter = (cands.join(ja, "id_a").join(jb, "id_b")
             .select("id_a", "id_b",
                     F.size(F.array_intersect("toks_a", "toks_b"))
                     .alias("inter"),
                     F.size("toks_a").alias("sz_a"),
                     F.size("toks_b").alias("sz_b")))
    ref = (inter.withColumn(
        "jaccard", F.col("inter")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    ref_rows = sorted((r.id_a, r.id_b, r.jaccard) for r in ref.collect())
    assert got_rows == ref_rows and len(got_rows) > 0


def test_connected_components_n_edges_parity(spark):
    """n_edges (skip the dedup shuffle, checkpoint copy and probe count
    for caller-asserted distinct, materialized edge lists) produces the
    identical labeling as the default path — chain + blob + isolated
    vertices, both below and above the local threshold."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from error_analysis_spark.extensions import dedup as DD

    edges = spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 3, 10, 11, 10],
        "id_b": [2, 3, 4, 11, 12, 12]})).persist()
    edges.count()
    verts = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3, 4, 10, 11, 12, 99]}))

    def labels(**kw):
        return sorted((r.id, r.component)
                      for r in DD.connected_components(
                          edges, verts, **kw).collect())

    expect = [(1, 1), (2, 1), (3, 1), (4, 1),
              (10, 10), (11, 10), (12, 10), (99, 99)]
    assert labels() == expect
    assert labels(n_edges=6) == expect
    # distributed path (threshold 0 forces it) with n_edges
    assert labels(n_edges=6, local_threshold=0) == expect
    edges.unpersist()
    # an empty edge list labels every vertex as its own component
    none = spark.createDataFrame([], "id_a long, id_b long")
    assert sorted((r.id, r.component) for r in DD.connected_components(
        none, verts, n_edges=0).collect()) == [(v, v) for v, _ in expect]


def test_connected_components_wrong_n_edges_raises(spark):
    """A stated n_edges that disagrees with the collected edge list
    fails loudly on the local path instead of labeling silently."""
    import pandas as pd
    import pytest

    from error_analysis_spark.extensions import dedup as DD

    edges = spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 10], "id_b": [2, 3, 11]})).persist()
    edges.count()
    verts = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 10, 11]}))
    for wrong in (2, 4):
        with pytest.raises(ValueError, match="n_edges"):
            DD.connected_components(edges, verts, n_edges=wrong)
    edges.unpersist()


def test_hyperplane_ndarray_planes_bit_parity(spark):
    """The round-11 ndarray-literal plane fold produces bit-identical
    buckets to the per-element F.lit construction (numpy float64
    round-trips Python floats exactly; same HOF fold on top) on the
    real embeddings table, all four lsh_topk tables."""
    import hashlib

    from pyspark.sql import functions as F

    from error_analysis_spark.extensions import similarity as SIM

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    embc = SIM._as_double(F.col("embedding"))
    dim = len(emb.select("embedding").first()[0])

    def weight(seed, j, i):
        h = hashlib.md5(f"{seed}_{j}_{i}".encode()).hexdigest()
        return int(h[:8], 16) / float(1 << 32) - 0.5

    def bucket_per_element_lits(n_planes, seed):
        out = F.lit(0).cast("long")
        for j in range(n_planes):
            plane = F.array(*[F.lit(weight(seed, j, i))
                              for i in range(dim)])
            proj = SIM.dot(embc, plane)
            out = out + F.when(proj > 0,
                               F.lit(1 << j).cast("long")).otherwise(0)
        return out

    for t in range(4):
        seed = 42 + 1000 * t
        n_diff = emb.where(
            SIM._hyperplane_bucket_expr(embc, 10, seed, dim)
            != bucket_per_element_lits(10, seed)).count()
        assert n_diff == 0, f"table {t}: {n_diff} bucket flips"
