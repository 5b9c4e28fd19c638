"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (JVM-side `aggregate`/
`zip_with` dot products — no Python in the row path). The scale path is
random-hyperplane LSH bucketing: deterministic md5-derived hyperplanes,
sign-bit bucket keys, brute-force only within buckets (plus optional
multi-probe via several independent tables).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (bit-stable across engines)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a constant query
    vector. One scan + one tiny global top-k (TakeOrderedAndProject —
    no full sort at scale). Deterministic tie-break on id."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    emb = _as_double(F.col(vec_col))
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(emb, q), 6).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


def pairwise_cosine_topk(embeddings: DataFrame, k: int = 5,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """All-pairs exact top-k neighbors (small/medium N): normalized
    vectors, self cross join pruned by id ordering, per-id window top-k.
    For 100TB-scale N use `lsh_topk`."""
    from pyspark.sql import Window as W
    normed = embeddings.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))
    a = normed.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                      F.col("n").alias("na"))
    b = normed.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                      F.col("n").alias("nb"))
    pairs = a.join(b, F.col("id_a") != F.col("id_b"))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    scored = pairs.select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    w = W.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k))


def _packed_normed(embeddings: DataFrame, n_blocks: int, vec_col: str,
                   id_col: str) -> DataFrame:
    """Normalize once and pack each vector into a float64 BINARY blob —
    the GEMM side then rebuilds block matrices with one `np.frombuffer`
    per group instead of stacking per-row object arrays (the dominant
    cost at scale: the fan-out ships each vector n_blocks times)."""
    import numpy as np
    import pandas as pd

    def pack(batches):
        for pdf in batches:
            m = np.stack(pdf["varr"].to_numpy()).astype(np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                            1e-300)
            yield pd.DataFrame({
                "id": pdf["id"],
                "v": [row.tobytes() for row in m],
            })

    id_type = dict(embeddings.dtypes)[id_col]
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"blocked-GEMM path requires an integral id column, got "
            f"{id_col}:{id_type} — hash or zip non-integral ids first "
            f"(the expression paths cosine_topk/lsh_topk accept any type)")
    base = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("varr"))
    packed = base.mapInPandas(pack, "id long, v binary")
    return packed.withColumn(
        "b", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)))


def _unpack(col) -> "np.ndarray":
    import numpy as np
    return np.frombuffer(b"".join(col.to_numpy()), dtype=np.float64) \
        .reshape(len(col), -1)


def block_cosine_pairs(embeddings: DataFrame, threshold: float,
                       n_blocks: int = 8, vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """All-pairs cosine above `threshold` via blocked GEMM — the scale
    path for exact near-dup over vectors.

    Row-at-a-time pair joins materialize O(N²) rows each carrying two
    full vectors; instead, vectors are hashed into `n_blocks` groups,
    each unordered block PAIR (ba ≤ bb) gets both blocks' vectors via a
    bounded fan-out (each vector ships to n_blocks block-pairs), and one
    `applyInPandas` call per block pair computes the full similarity
    matrix with a single numpy matmul — ~100× less shuffle volume and
    BLAS instead of per-row expression evaluation. Output matches the
    expression form after round(·, 6) (float sum order differs only in
    the last ulp).

    Choose n_blocks ≈ √(N·dim·8 / executor_mem_target) so two blocks fit
    comfortably per task; for billion-vector corpora prune candidates
    with `hyperplane_buckets` first and run this within buckets.
    """
    import numpy as np
    import pandas as pd

    normed = _packed_normed(embeddings, n_blocks, vec_col, id_col)
    pairs_of = F.array(*[
        F.struct(
            F.least(F.col("b"), F.lit(j)).alias("ba"),
            F.greatest(F.col("b"), F.lit(j)).alias("bb"),
        ) for j in range(n_blocks)
    ])
    fanned = (normed.withColumn("p", F.explode(F.array_distinct(pairs_of)))
              .select(F.col("p.ba").alias("ba"), F.col("p.bb").alias("bb"),
                      "id", "v", "b"))

    _EMPTY = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                           "id_b": pd.Series(dtype="int64"),
                           "sim": pd.Series(dtype="float64")})

    def gemm(key, pdf):
        ba, bb = int(key[0]), int(key[1])
        a = pdf[pdf["b"] == ba]
        if len(a) == 0:
            return _EMPTY
        ids_a = a["id"].to_numpy()
        ma = _unpack(a["v"])
        if ba == bb:
            sims = ma @ ma.T
            iu, ju = np.triu_indices(len(ids_a), k=1)
            id_a, id_b, s = ids_a[iu], ids_a[ju], sims[iu, ju]
        else:
            bdf = pdf[pdf["b"] == bb]
            if len(bdf) == 0:
                return _EMPTY
            ids_b = bdf["id"].to_numpy()
            mb = _unpack(bdf["v"])
            sims = ma @ mb.T
            ii, jj = np.nonzero(np.round(sims, 6) >= threshold)
            id_a, id_b, s = ids_a[ii], ids_b[jj], sims[ii, jj]
        s = np.round(s, 6)
        keep = s >= threshold
        lo = np.minimum(id_a[keep], id_b[keep])
        hi = np.maximum(id_a[keep], id_b[keep])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": s[keep]})

    return (fanned.groupBy("ba", "bb")
            .applyInPandas(gemm, "id_a long, id_b long, sim double"))


def block_cosine_topk(embeddings: DataFrame, k: int = 5,
                      n_blocks: int = 8, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Exact all-pairs k-NN via the blocked-GEMM path: per block pair,
    keep each row's block-local top-k PLUS all boundary ties (every
    global neighbor appears in exactly one block pair, and the adaptive
    ≥-cut can never evict a tied candidate), then one global window
    prunes to k with the (sim desc, id asc) tie-break. Same output
    contract as `pairwise_cosine_topk` (id_a, id_b, sim, rk) at a
    fraction of the shuffle + expression cost."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    normed = _packed_normed(embeddings, n_blocks, vec_col, id_col)
    pairs_of = F.array(*[
        F.struct(
            F.least(F.col("b"), F.lit(j)).alias("ba"),
            F.greatest(F.col("b"), F.lit(j)).alias("bb"),
        ) for j in range(n_blocks)
    ])
    fanned = (normed.withColumn("p", F.explode(F.array_distinct(pairs_of)))
              .select(F.col("p.ba").alias("ba"), F.col("p.bb").alias("bb"),
                      "id", "v", "b"))

    _EMPTY = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                           "id_b": pd.Series(dtype="int64"),
                           "sim": pd.Series(dtype="float64")})

    def gemm(key, pdf):
        ba, bb = int(key[0]), int(key[1])
        a = pdf[pdf["b"] == ba]
        if len(a) == 0:
            return _EMPTY
        ids_a = a["id"].to_numpy()
        ma = _unpack(a["v"])
        if ba == bb:
            ids_b, mb = ids_a, ma
        else:
            bd = pdf[pdf["b"] == bb]
            if len(bd) == 0:
                return _EMPTY
            ids_b = bd["id"].to_numpy()
            mb = _unpack(bd["v"])
        sims = np.round(ma @ mb.T, 6)
        frames = []
        directions = [(ids_a, ids_b, sims)]
        if ba != bb:
            directions.append((ids_b, ids_a, sims.T))
        for rows, cols, s in directions:
            # adaptive tie cut: keep EVERY entry ≥ the kk-th largest sim
            # per row (sims are rounded, so boundary ties are exact) — a
            # fixed margin could evict the candidate the global
            # (sim desc, id asc) tie-break keeps
            kk = min(k + (1 if ba == bb else 0), s.shape[1])
            cut = -np.partition(-s, kk - 1, axis=1)[:, kk - 1]
            ri, ci = np.nonzero(s >= cut[:, None])
            ra = rows[ri]
            cb = cols[ci]
            sv = s[ri, ci]
            keep = ra != cb  # drop self-pairs on the diagonal block
            frames.append(pd.DataFrame(
                {"id_a": ra[keep], "id_b": cb[keep], "sim": sv[keep]}))
        out = pd.concat(frames) if frames else pd.DataFrame(
            columns=["id_a", "id_b", "sim"])
        if ba == bb:
            # symmetric: emit both directions from the one matrix, and
            # dedupe HERE (round 11): a directed pair can only repeat
            # inside this diagonal block (row i's cut emits (i,j) and
            # the swap of row j's cut re-emits it; every unordered pair
            # lives in exactly one (ba, bb) group, and cross blocks
            # emit each direction once), so the pandas drop_duplicates
            # replaces a full Spark dropDuplicates exchange over the
            # candidate stream. Duplicate rows carry the identical
            # rounded sim, so which copy survives is immaterial.
            out = pd.concat([out, out.rename(
                columns={"id_a": "id_b", "id_b": "id_a"})])
            out = out.drop_duplicates(subset=["id_a", "id_b"])
        return out

    cand = (fanned.groupBy("ba", "bb")
            .applyInPandas(gemm, "id_a long, id_b long, sim double"))
    w = W.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b").asc())
    return (cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k))


def hyperplane_buckets(embeddings: DataFrame, n_planes: int = 12, seed: int = 42,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id", dim: int | None = None
                       ) -> DataFrame:
    """Random-hyperplane LSH bucket key per vector: bit_j = sign(v·h_j),
    h_j derived deterministically from md5(seed, j, dim) — reproducible on
    any cluster, no stored model. Output: (id, bucket)."""
    import hashlib

    emb = _as_double(F.col(vec_col))
    # The plane weights are pure functions of (seed, j, i) — md5-hex
    # prefix scaled to [-0.5, 0.5), the same formula the DuckDB oracle
    # evaluates — so they are folded to LITERAL arrays here instead of
    # per-row md5 expressions (which cost N*n_planes*dim JVM md5 calls;
    # folding cut sim_lsh_topk ~3x). A plain `lambda i, j=j:` transform
    # is the wrong fix: PySpark passes the ARRAY INDEX as a second
    # positional arg, shadowing j — every plane came out identical and
    # the index collapsed to 2 buckets until the oracle caught it.
    if dim is None:  # probe once; callers building several tables pass it
        head = embeddings.select(vec_col).first()
        if head is None or head[0] is None:
            raise ValueError(
                "hyperplane_buckets: cannot infer vector dim from an "
                "empty DataFrame / NULL first vector — pass dim=...")
        dim = len(head[0])

    return embeddings.select(
        F.col(id_col).alias("id"),
        _hyperplane_bucket_expr(emb, n_planes, seed, dim).alias("bucket"))


def _hyperplane_bucket_expr(emb: Column, n_planes: int, seed: int,
                            dim: int) -> Column:
    """The bucket COLUMN of `hyperplane_buckets` (factored out in round
    11 so `lsh_topk` can stack all its tables' buckets in one
    projection): bit_j = sign(v·h_j) with the literal-folded md5 plane
    weights.

    Each plane is ONE ndarray literal (round 11, the
    text_contam_bloom r10 pattern): `F.array(*[F.lit(w) ...])` built
    n_planes × dim separate py4j Literal calls plus a CreateArray node
    per plane that Catalyst must constant-fold on EVERY plan build —
    at lsh_topk's 4 tables × 10 planes × 64 dims that was 2,560 nodes
    and a measured ~1.5 s of per-invocation plan cost (interleaved A/B
    mins 3.7 vs 2.2 s for the banding stage). An ndarray crosses py4j
    once per plane and lands pre-folded; the float64 values are
    bit-identical (numpy float64 round-trips Python floats exactly,
    equivalence asserted over the full embeddings table)."""
    import hashlib

    import numpy as np

    def weight(j: int, i: int) -> float:
        h = hashlib.md5(f"{seed}_{j}_{i}".encode()).hexdigest()
        return int(h[:8], 16) / float(1 << 32) - 0.5

    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.lit(np.asarray([weight(j, i) for i in range(dim)],
                                 dtype=np.float64))
        proj = dot(emb, plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(0)
    return bucket


def ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             n_lists: int = 16, n_probe: int = 4, seed: int = 42,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF (inverted-file) approximate top-k for a query vector: MLlib
    KMeans partitions the corpus into `n_lists` cells; the query scans
    only the `n_probe` nearest cells.

    The coarse quantizer is trained once and is deterministic for a
    seed; assignment is a one-time batch column (in production: stored
    with the table, clustered/partitioned by `list_id`, so a probe is a
    partition-pruned scan — the classic IVF-flat layout on Parquet).
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # IVF-cosine trains/assigns/probes on UNIT vectors: with raw
    # vectors KMeans clusters by magnitude and the L2 probe ordering is
    # not the cosine ordering — a large-norm vector pointing at the
    # query can land in a "far" cell and never be scanned
    varr = _as_double(F.col(vec_col))
    # clamp the norm exactly like the numpy paths (_packed_normed,
    # semantic_dedup): an all-zero embedding must yield a zero unit
    # vector, not DIVIDE_BY_ZERO under ANSI mode; compute the norm once
    # so transform doesn't re-aggregate it per element
    ds = (
        embeddings.select(F.col(id_col), varr.alias("varr"))
        .withColumn("_nrm", F.greatest(l2_norm(F.col("varr")),
                                       F.lit(1e-300)))
        .withColumn("uarr", F.transform(
            F.col("varr"), lambda x: x / F.col("_nrm")))
        .drop("_nrm")
        .withColumn("features", array_to_vector("uarr"))
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="features",
                predictionCol="list_id")
    model = km.fit(ds)
    assigned = model.transform(ds)

    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-300)
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    order = np.argsort(((centers - q) ** 2).sum(axis=1))
    probe = [int(i) for i in order[:n_probe]]

    qcol = F.array(*[F.lit(float(v)) for v in q])
    emb = F.col("varr")
    return (
        assigned.where(F.col("list_id").isin(probe))  # partition pruning
        .select(F.col(id_col),
                F.round(cosine(emb, qcol), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lsh_topk(embeddings: DataFrame, k: int = 5, n_planes: int = 10,
             n_tables: int = 4, seed: int = 42, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Approximate all-pairs top-k: candidates = pairs sharing a bucket in
    any of `n_tables` independent hyperplane tables; exact cosine on
    candidates only; per-id top-k. Recall grows with tables; cost stays
    ~N·bucket_size instead of N²."""
    from pyspark.sql import Window as W
    head = embeddings.select(vec_col).first()
    if head is None or head[0] is None:
        raise ValueError("lsh_topk: empty DataFrame / NULL first vector")
    dim = len(head[0])
    # ONE banded frame + ONE self-join (round 11): all n_tables bucket
    # keys stack into a (id, t, bucket) explode and the candidate set
    # is a single self-join on (t, bucket) — identical pairs (a pair
    # is a candidate iff it shares a bucket in SOME table, exactly the
    # per-table-join ∪ distinct), but n_tables joins + union + distinct
    # collapse to one join + distinct and the bucket projection runs
    # once instead of 2×n_tables times.
    from pyspark.storagelevel import StorageLevel

    from error_analysis_spark.cachereg import track

    emb_d = _as_double(F.col(vec_col))
    # Round 12 (VERDICT r11 #3): the banded frame feeds BOTH sides of
    # the candidate self-join and the normed frame BOTH sides of the
    # verify join — left lazy, each executed twice (only exchanges are
    # reused, not the bucket projections / the scan+norm). Both are
    # pinned (cachereg-tracked, released at the next query boundary —
    # the minhash_dedup discipline); the pins are (id, t, bucket) and
    # (id, v, n) rows, far narrower than a corpus of documents, and
    # they exist per-invocation only.
    banded = track(embeddings.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"),
                     _hyperplane_bucket_expr(
                         emb_d, n_planes, seed + 1000 * t, dim)
                     .alias("bucket"))
            for t in range(n_tables)])).alias("tb"))
        .select("id", F.col("tb.t").alias("t"),
                F.col("tb.bucket").alias("bucket"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    a = banded.select(F.col("id").alias("id_a"), "t", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "t", "bucket")
    cand = (a.join(b, ["t", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    normed = track(embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))
        .persist(StorageLevel.MEMORY_AND_DISK))
    va = normed.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                       F.col("n").alias("na"))
    vb = normed.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                       F.col("n").alias("nb"))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    scored = (cand.join(va, "id_a").join(vb, "id_b")
              .select("id_a", "id_b", F.round(sim, 6).alias("sim")))
    # Round 11: the per-id top-k window needs BOTH directions of every
    # scored pair. `scored ∪ swap(scored)` duplicated the whole
    # candidate+verify join subtree in the physical plan — only the
    # exchanges get reused, the joins execute twice. A row-local
    # explode of the (a→b, b→a) mirror emits the identical row multiset
    # from ONE execution of the joins.
    both = (scored.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("id_a"),
                 F.col("id_b").alias("id_b"), F.col("sim").alias("sim")),
        F.struct(F.col("id_b").alias("id_a"),
                 F.col("id_a").alias("id_b"), F.col("sim").alias("sim")),
    )).alias("e")).select("e.id_a", "e.id_b", "e.sim"))
    w = W.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b").asc())
    return both.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def semantic_dedup(embeddings: DataFrame, n_clusters: int = 16,
                   threshold: float = 0.95, seed: int = 42,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   assignments: DataFrame | None = None,
                   quantize: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): KMeans the embedding space into semantic cells,
    compute cosine similarity ONLY within a cell, and greedily drop
    every vector whose similarity to an already-kept lower-id vector in
    the same cell is ≥ `threshold`. The survivor of each duplicate
    family is its minimum id — the same canonical convention as
    `exact_dedup`.

    Returns (id, cluster_id, keep): filter `keep` to materialize the
    deduplicated corpus, or join back for audit.

    Scale shape: the quadratic step is confined to cells — expected
    N²/k work instead of N², and each cell is an independent task. The
    cluster assignment IS the IVF layout (`list_id`-partitioned storage
    at scale), so the per-cell pass becomes a partition-local GEMM with
    no shuffle beyond the one clustering write; cells too large for one
    task take the `block_cosine_pairs` kernel within the cell (same
    math, bounded memory). Misses can only happen across cell
    boundaries — the recall/cost dial is `n_clusters`, exactly as in
    the paper.

    `assignments` injects a precomputed (id, cluster_id) cell table in
    place of the KMeans fit (any coarse quantizer works — SemDeDup's
    greedy drop is agnostic to how cells were formed); `n_clusters`/
    `seed` are ignored then. With `quantize=q`, components are
    fixed-pointed to 1e-q via floor(x·10^q + 0.5) and similarities
    computed as exact-integer dot products divided by sqrt-norms —
    every sim is then a deterministic function of the quantized ints
    (one IEEE sqrt/mul/div chain), reproducible bit-for-bit across
    engines, which is what lets the whole operator be oracle-checked
    in DuckDB (plans/queries_ext.py:SEMANTIC_DEDUP_SQL).
    """
    import numpy as np
    import pandas as pd

    ds = embeddings.select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("varr"),
    )
    if assignments is not None:
        assigned = ds.join(
            assignments.select(F.col("id"),
                               F.col("cluster_id").cast("int")
                               .alias("cluster_id")), "id")
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = ds.withColumn("features", array_to_vector("varr"))
        model = KMeans(k=n_clusters, seed=seed, featuresCol="features",
                       predictionCol="cluster_id").fit(feat)
        assigned = model.transform(feat).select("id", "cluster_id", "varr")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        m = np.stack(pdf["varr"].to_numpy()).astype(np.float64)
        if quantize is None:
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                            1e-300)
            sims = np.round(m @ m.T, 6)
        else:
            # exact-integer dots (|q|<=~1e6, 64 dims → far below 2^53),
            # then ONE IEEE sqrt/mul/div per pair — deterministic
            q = np.floor(m * 10.0 ** quantize + 0.5).astype(np.int64)
            dots = (q @ q.T).astype(np.float64)
            d = np.sqrt(np.diag(dots))
            sims = dots / np.maximum(np.outer(d, d), 1e-300)
        n = len(pdf)
        kept_idx: list[int] = []
        keep = np.zeros(n, dtype=bool)
        for i in range(n):
            if not kept_idx or sims[i, kept_idx].max() < threshold:
                keep[i] = True
                kept_idx.append(i)
        return pd.DataFrame({"id": pdf["id"], "cluster_id": pdf["cluster_id"],
                             "keep": keep})

    return (assigned.groupBy("cluster_id")
            .applyInPandas(greedy, "id long, cluster_id int, keep boolean"))


def seed_cell_assignments(embeddings: DataFrame, n_cells: int = 8,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          quantize: int = 6) -> DataFrame:
    """Deterministic, fully-relational coarse quantizer: the `n_cells`
    vectors with the smallest md5(id) act as seed centroids, and every
    vector joins the seed with the highest fixed-point cosine (ties →
    lowest seed rank). Same cells-as-IVF shape as the KMeans quantizer
    in `semantic_dedup`/`ivf_topk` (broadcast |cells|×dims centroid
    table + one argmax aggregate, no iteration), with worse cell
    quality but zero non-relational steps — which is what makes the
    SemDeDup pipeline oracle-checkable end-to-end in DuckDB.

    Components are fixed-pointed via floor(x·10^q + 0.5) so every dot
    product is an exact integer and every cosine one deterministic IEEE
    sqrt/mul/div chain — bit-equal across engines and partitionings.

    Returns (id, cluster_id) with cluster_id in 1..n_cells."""
    from pyspark.sql import Window

    def fp(c: Column) -> Column:
        return F.transform(c, lambda x: F.floor(
            x.cast("double") * F.lit(10.0 ** quantize) + F.lit(0.5))
            .cast("long"))

    def dot(a: str, b: str) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    from error_analysis_spark.extensions.text import md5_prefix_long
    base = (embeddings
            .select(F.col(id_col).alias("id"), fp(F.col(vec_col)).alias("q"))
            .withColumn("nn", dot("q", "q")))
    seeds = (base.select(F.col("id").alias("seed_id"),
                         F.col("q").alias("sq"), F.col("nn").alias("ns"),
                         md5_prefix_long(F.col("id").cast("string"))
                         .alias("_h"))
             .orderBy("_h", "seed_id").limit(n_cells)
             .withColumn("cluster_id",
                         F.row_number().over(Window.orderBy("_h", "seed_id"))
                         .cast("int"))
             .drop("_h"))
    cos = F.when((F.col("nn") > 0) & (F.col("ns") > 0),
                 dot("q", "sq").cast("double")
                 / (F.sqrt(F.col("nn").cast("double"))
                    * F.sqrt(F.col("ns").cast("double")))) \
        .otherwise(F.lit(0.0))
    pick = F.max(F.struct(F.col("_c").alias("c"),
                          (-F.col("cluster_id")).alias("nr"),
                          F.col("cluster_id").alias("r"))).alias("_m")
    return (base.crossJoin(F.broadcast(seeds))
            .withColumn("_c", cos)
            .groupBy("id").agg(pick)
            .select("id", F.col("_m.r").alias("cluster_id")))


def hard_triplets(embeddings: DataFrame, anchor_mod: int = 25,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  label_col: str = "label",
                  quantize: int = 6) -> DataFrame:
    """Hard-example mining for contrastive / metric training: for each
    anchor vector, the HARDEST POSITIVE (same label, MINIMUM cosine —
    the in-class example the model currently separates worst) and the
    HARDEST NEGATIVE (different label, MAXIMUM cosine — the impostor
    closest to crossing the margin). The (anchor, pos, neg) triplets
    feed a triplet/InfoNCE loss; mining them over the full corpus is
    the standard offline step between training epochs (FaceNet,
    arXiv:1503.03832 §3.2).

    Scale shape: anchors (every `anchor_mod`-th id) form a bounded
    BROADCAST table; the corpus is scanned ONCE, each row scored
    against all anchors row-locally, and the per-anchor argmin/argmax
    reduce via min/max(struct) with map-side partial combine — the
    shuffle carries one candidate row per (anchor, partition), never
    the corpus. Cosines use the same exact-integer fixed-point dots as
    `seed_cell_assignments` (floor(x·10^q + 0.5) components), so the
    argmin/argmax decisions are bit-reproducible across engines and
    partitionings — which is what lets DuckDB restate the whole mine.

    Returns (anchor_id, label, pos_id, pos_cos, neg_id, neg_cos);
    pos columns are NULL when an anchor's class has no other member."""
    def fp(c: Column) -> Column:
        return F.transform(c, lambda x: F.floor(
            x.cast("double") * F.lit(10.0 ** quantize) + F.lit(0.5))
            .cast("long"))

    def dot(a: str, b: str) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    base = (embeddings
            .select(F.col(id_col).alias("id"),
                    F.col(label_col).cast("long").alias("label"),
                    fp(F.col(vec_col)).alias("q"))
            .withColumn("nn", dot("q", "q")))
    anchors = (base.where(F.col("id") % anchor_mod == 0)
               .select(F.col("id").alias("anchor_id"),
                       F.col("label").alias("anchor_label"),
                       F.col("q").alias("aq"), F.col("nn").alias("ann")))
    cos = F.when((F.col("nn") > 0) & (F.col("ann") > 0),
                 dot("q", "aq").cast("double")
                 / (F.sqrt(F.col("nn").cast("double"))
                    * F.sqrt(F.col("ann").cast("double")))) \
        .otherwise(F.lit(0.0))
    scored = (base.crossJoin(F.broadcast(anchors))
              .where(F.col("id") != F.col("anchor_id"))
              .withColumn("_c", cos))
    same = F.col("label") == F.col("anchor_label")
    pos = F.min(F.when(same, F.struct(F.col("_c").alias("c"),
                                      F.col("id").alias("i")))) \
        .alias("_p")
    neg = F.max(F.when(~same, F.struct(F.col("_c").alias("c"),
                                       (-F.col("id")).alias("ni"),
                                       F.col("id").alias("i")))) \
        .alias("_n")
    return (scored.groupBy("anchor_id", "anchor_label").agg(pos, neg)
            .select(F.col("anchor_id"),
                    F.col("anchor_label").alias("label"),
                    F.col("_p.i").alias("pos_id"),
                    F.round(F.col("_p.c"), 6).alias("pos_cos"),
                    F.col("_n.i").alias("neg_id"),
                    F.round(F.col("_n.c"), 6).alias("neg_cos")))


def label_centroids(embeddings: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-class embedding centroids in long (label, dim, mean) format —
    the building block for IVF list seeding, SemDeDup cell statistics,
    and class-prototype (nearest-centroid) classification.

    posexplode is a narrow fan-out; one hash aggregate on (label, dim)
    with map-side partial combine, and the reduce-side key space is
    |classes| × dims — tiny regardless of corpus size, so the shuffle
    carries only partial sums. Cross-engine determinism: elements are
    fixed-pointed to 1e-9 BEFORE summing (integer sums commute; double
    sums don't), then the mean divides exactly once.
    """
    expl = embeddings.select(
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"))
    fp = F.round(F.col("val").cast("double") * 1e9).cast("long")
    return (expl.groupBy("label", "dim")
            .agg(F.count("*").alias("n_vecs"), F.sum(fp).alias("_s"))
            .select("label", F.col("dim").cast("long").alias("dim"),
                    "n_vecs",
                    F.round(F.col("_s").cast("double")
                            / F.col("n_vecs") / 1e9, 6).alias("mean_val")))


def nearest_centroid_eval(embeddings: DataFrame,
                          label_col: str = "label",
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Nearest-centroid (Rocchio) classifier evaluation: predict each
    vector's label by maximum cosine to the per-class centroid, report
    per-class accuracy — the standard embedding-quality probe for a
    labeled eval slice.

    Scale shape: the centroid table is |classes| × dims (BROADCAST);
    the corpus side posexplodes, repartitions ONCE on the vector id,
    and the per-(vec,label) dot product, the per-vec argmax, and the
    vector norm all reuse that distribution (stacked aggregates, no
    extra exchange). Since the vector norm is constant within a vec,
    argmax cosine = argmax dot/|centroid| — |v| never needs computing.
    Determinism: dot terms fixed-pointed to 1e-9 before the integer
    sum (order-independent); centroid norms are sqrt of a fixed-point
    sum (IEEE sqrt is correctly rounded, so identical cross-engine);
    the score is one multiply+divide of identical doubles; ties break
    to the smaller label via max(struct(score, −label)).

    Returns (label, n_vecs, n_correct, accuracy)."""
    cents = label_centroids(embeddings, label_col, vec_col) \
        .select(F.col("label").alias("_cl"), "dim", "mean_val")
    cnorm = (cents.groupBy("_cl")
             .agg(F.sqrt(F.sum(F.round(F.col("mean_val")
                                       * F.col("mean_val") * 1e12)
                               .cast("long")).cast("double") / 1e12)
                  .alias("_cn")))
    expl = (embeddings
            .select(F.col(id_col),
                    F.col(label_col).cast("long").alias("_true"),
                    F.posexplode(F.col(vec_col)).alias("dim", "val"))
            .repartition(id_col))
    term = F.round(F.col("val").cast("double")
                   * F.col("mean_val") * 1e9).cast("long")
    scored = (expl
              .join(F.broadcast(cents), "dim")
              .groupBy(id_col, "_true", "_cl")
              .agg(F.sum(term).alias("_dot")))
    score = (F.col("_dot").cast("double") / 1e9) / F.col("_cn")
    pred = (scored
            .join(F.broadcast(cnorm), "_cl")
            .groupBy(id_col, "_true")
            .agg(F.max(F.struct(score.alias("_s"),
                                (-F.col("_cl")).alias("_nl"))).alias("_m"))
            .select(F.col("_true"), (-F.col("_m._nl")).alias("_pred")))
    return (pred.groupBy("_true")
            .agg(F.count("*").alias("n_vecs"),
                 F.sum(F.when(F.col("_true") == F.col("_pred"), 1)
                       .otherwise(0)).alias("n_correct"))
            .select(F.col("_true").alias("label"), "n_vecs", "n_correct",
                    F.round(F.col("n_correct")
                            / F.col("n_vecs").cast("double"), 6)
                    .alias("accuracy")))


def random_project(embeddings: DataFrame, out_dim: int = 8,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   seed: int = 3, in_dim: int | None = None) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    deterministic Rademacher (±1) projection matrix.

    y_j = (1/sqrt(out_dim)) * sum_i sign(i, j) * x_i, where sign is the
    parity of an md5 hash of (seed, i, j) — Achlioptas 2003 shows ±1
    entries preserve pairwise distances with the same JL guarantee as
    Gaussian ones, and a hash-derived matrix needs no stored state:
    any worker (or the DuckDB oracle) regenerates any entry on demand.

    Scale shape: the matrix is in_dim × out_dim rows — a few thousand
    entries even at embedding widths of 4096 — built once and
    BROADCAST; the corpus side posexplodes to (id, dim, val) and the
    only shuffle is the (id, out_j) partial-aggregating sum, i.e. the
    same cost as one groupBy over the corpus. Products are summed in
    1e-6 fixed point so the result is order-independent and bit-equal
    across engines.

    Returns (vec_id, out_j, proj) long-form — the narrow layout feeds
    the downstream ANN/bucketing operators without an array rebuild.
    """
    spark = embeddings.sparkSession
    if in_dim is None:
        # width probe must be max(size): a limit-1 row is partition-
        # dependent and silently truncates ragged tables (or yields
        # NULL on a NULL vector). Pass `in_dim` explicitly to skip
        # this aggregate and keep plan construction fully lazy.
        in_dim = embeddings.select(
            F.max(F.size(vec_col)).alias("d")).first()["d"]
    dims = spark.range(int(in_dim)).select(F.col("id").alias("dim"))
    outs = spark.range(int(out_dim)).select(F.col("id").alias("out_j"))
    parity = F.conv(F.substring(
        F.md5(F.concat_ws("_", F.lit(str(seed)), F.col("dim"),
                          F.col("out_j"))), 1, 15), 16, 10) \
        .cast("long") % 2
    proj = dims.crossJoin(outs).select(
        "dim", "out_j",
        F.when(parity == 0, F.lit(1)).otherwise(F.lit(-1))
        .cast("long").alias("sign"))
    exploded = embeddings.select(
        F.col(id_col),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "val"))
    fp = (exploded
          .join(F.broadcast(proj), "dim")
          .withColumn("_term",
                      F.round(F.col("val") * 1e6).cast("long")
                      * F.col("sign")))
    inv_root = 1.0 / float(out_dim) ** 0.5
    # + 0.0 canonicalizes IEEE -0.0 (Spark's BigDecimal HALF_UP round
    # drops the sign of a tiny negative; DuckDB's round keeps it)
    return (fp.groupBy(id_col, "out_j")
            .agg(F.sum("_term").alias("_s"))
            .select(id_col, "out_j",
                    (F.round(F.col("_s") / 1e6 * F.lit(inv_root), 6)
                     + F.lit(0.0)).alias("proj")))


def embedding_covariance(embeddings: DataFrame,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """Population covariance matrix of the embedding columns — the
    distributed Gram-accumulation pass that feeds PCA / whitening
    (eigendecomposition of the d x d result is a driver-side
    post-step; d is tiny next to N).

    Relational form: posexplode to (id, dim, value), self-join on the
    id (co-partitioned — both sides shuffle once on the same key),
    aggregate per (i, j) upper triangle. Products and marginals are
    summed in 1e-6 fixed point (products exact in 1e-12), so the
    moment sums are order-independent and engine-exact; the covariance
    assembles from them in one deterministic float expression.

    This exact form is the right plan for d up to a few hundred (the
    d^2 blow-up per row is the cost of SQL-exactness); past that, the
    blocked-GEMM kernel (`_packed_normed` machinery) computes X^T X
    per block and tree-merges — same result, numpy throughput.

    Returns (i, j, n, cov) for i <= j.
    """
    ex = embeddings.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_as_double(F.col(vec_col))).alias("i", "x"))
    ex = ex.withColumn("xf", F.round(F.col("x") * 1e6).cast("long"))
    a = ex.select("_id", F.col("i"), F.col("xf").alias("xa"))
    b = ex.select("_id", F.col("i").alias("j"), F.col("xf").alias("xb"))
    # products are ~1e12 each: an int64 accumulator overflows past
    # ~9M vectors (ANSI abort), so the product sum runs in
    # decimal(38,0) — the 128-bit accumulator DuckDB's HUGEINT sum
    # uses; the 1e6-scale marginals stay exact in int64 to ~9e12 rows
    m = (a.join(b, "_id").where(F.col("i") <= F.col("j"))
         .groupBy("i", "j")
         .agg(F.count("*").alias("n"),
              F.sum((F.col("xa") * F.col("xb")).cast("decimal(38,0)"))
              .alias("_sxy"),
              F.sum("xa").alias("_sx"), F.sum("xb").alias("_sy")))
    cov = (F.col("_sxy").cast("double") / 1e12
           - (F.col("_sx").cast("double") / 1e6)
           * (F.col("_sy").cast("double") / 1e6) / F.col("n")) / F.col("n")
    # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0 on
    # one engine and 0.0 on the other; the driver hash compares strings)
    return m.select("i", "j", "n",
                    (F.round(cov, 6) + F.lit(0.0)).alias("cov"))


# --------------------------------------------------------------------------
# Product quantization (PQ): deterministic codebooks + ADC top-k
# --------------------------------------------------------------------------

def _fp_arr(c: Column, quantize: int = 6) -> Column:
    """1e-q fixed-point array<long> — every subsequent squared-L2 is an
    exact integer, bit-equal across engines/partitionings (same trick as
    `seed_cell_assignments`)."""
    return F.transform(c, lambda x: F.floor(
        x.cast("double") * F.lit(10.0 ** quantize) + F.lit(0.5))
        .cast("long"))


def _pq_encode(frame: DataFrame, book: list[list[list[int]]], cw: int,
               qfp: list[int] | None = None,
               passthrough: tuple[str, ...] = ("id",)) -> DataFrame:
    """Arrow-batched PQ encode: one mapInPandas over (…, q) emitting the
    per-block combined argmin keys ks[b] = min-dist(block, centroid)·cw
    + code0 (np.argmin ties → first index = lowest code, matching the
    relational min(key) decomposition exactly), plus — when `qfp` is
    given — the ADC distance Σ_b qd[b][code_b] and the exact query
    distance, all in int64 (every value bounded ≪ 2^62, bit-equal to
    the SQL restatement).

    Why a kernel and not expressions: the argmin over n_codes·n_blocks
    centroids is a ~3k-node expression tree either unrolled or as
    higher-order functions, and Catalyst re-pays seconds of
    analysis/codegen PER ACTION on a tree that size (measured 5-10× the
    actual scan cost at sf0.1), while HOF evaluation is interpreted
    row-at-a-time anyway. This is the blocked-GEMM/k-means precedent:
    a numpy int64 einsum per Arrow batch IS the FAISS-style PQ scan
    shape — one plan node, vectorized, map-only, linear in corpus
    size, codebook rides in the closure (O(KB))."""
    import numpy as np
    import pandas as pd

    nb, nc, bd = len(book), len(book[0]), len(book[0][0])
    C = np.asarray(book, dtype=np.int64)               # (nb, nc, bd)
    csq = (C * C).sum(-1)                              # (nb, nc)
    # int64 headroom (ADVICE r08): key = dist·cw + code needs
    # dist ≤ bd·(2·max|fp|)² to stay ≪ 2^62. At quantize=6 this allows
    # |x| ≈ 148 for bd=16 — unit-scale embeddings are far inside, but
    # a silently overflowing input must fail loudly, not corrupt ranks.
    fp_max = int(math.isqrt((2 ** 62 // cw - 1) // (4 * bd)))
    if int(np.abs(C).max(initial=0)) > fp_max:
        raise ValueError(
            f"pq codebook magnitude exceeds the int64 key bound "
            f"(max |fp| {int(np.abs(C).max())} > {fp_max}); lower "
            "`quantize` or rescale the embeddings")
    qv = np.asarray(qfp, dtype=np.int64) if qfp is not None else None
    qd = (((qv.reshape(nb, 1, bd) - C) ** 2).sum(-1)
          if qv is not None else None)                 # (nb, nc)
    cols = list(passthrough)
    ftypes = {f.name: f.dataType.simpleString()
              for f in frame.schema.fields}
    out_schema = ", ".join(
        [f"{c} {ftypes[c]}" for c in cols]
        + ["ks array<long>"]
        + (["exact_dist long", "adc_dist long"] if qfp is not None else []))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (n, D)
            if int(np.abs(Q).max(initial=0)) > fp_max:
                raise ValueError(
                    f"pq input magnitude exceeds the int64 key bound "
                    f"(max |fp| {int(np.abs(Q).max())} > {fp_max} at "
                    "this quantize); rescale the embeddings")
            B = Q.reshape(len(pdf), nb, bd)
            # ‖sub‖² − 2·sub·c + ‖c‖² via int64 einsum — exact, no
            # (n, nb, nc, bd) temp
            d = ((B * B).sum(-1)[:, :, None]
                 - 2 * np.einsum("nbd,bcd->nbc", B, C) + csq[None])
            codes = d.argmin(-1)                        # (n, nb)
            ks = d.min(-1) * cw + codes
            out = {c: pdf[c].to_numpy() for c in cols}
            out["ks"] = list(ks)
            if qv is not None:
                out["exact_dist"] = ((Q - qv) ** 2).sum(-1)
                out["adc_dist"] = qd[np.arange(nb)[None, :], codes].sum(-1)
            yield pd.DataFrame(out)

    inp = frame.select(*dict.fromkeys(cols + ["q"]))
    return inp.mapInPandas(kernel, schema=out_schema)


def _pq_lloyd_partials(frame: DataFrame, book: list[list[list[int]]],
                       cw: int) -> DataFrame:
    """Assign + per-batch partial Lloyd statistics in one Arrow pass:
    emits (b 1-based, code 1-based, pos 0-based, s, cnt) with s = Σ of
    the assigned sub-vector components and cnt = member count, per
    batch — ≤ n_blocks·n_codes·bd rows per batch regardless of batch
    size (the numpy map-side combine). int64 partial sums are exact
    and order-independent, so the final Σs/Σcnt reduce is bit-stable."""
    import numpy as np
    import pandas as pd

    nb, nc, bd = len(book), len(book[0]), len(book[0][0])
    C = np.asarray(book, dtype=np.int64)
    csq = (C * C).sum(-1)
    fp_max = int(math.isqrt((2 ** 62 // cw - 1) // (4 * bd)))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            if int(np.abs(Q).max(initial=0)) > fp_max:
                raise ValueError(
                    f"pq training input magnitude exceeds the int64 "
                    f"key bound (max |fp| {int(np.abs(Q).max())} > "
                    f"{fp_max} at this quantize); rescale the "
                    "embeddings")
            B = Q.reshape(len(pdf), nb, bd)
            d = ((B * B).sum(-1)[:, :, None]
                 - 2 * np.einsum("nbd,bcd->nbc", B, C) + csq[None])
            codes = d.argmin(-1)                       # (n, nb)
            sums = np.zeros((nb, nc, bd), dtype=np.int64)
            cnts = np.zeros((nb, nc), dtype=np.int64)
            for b in range(nb):
                np.add.at(sums[b], codes[:, b], B[:, b, :])
                cnts[b] = np.bincount(codes[:, b], minlength=nc)
            b_i, c_i = np.nonzero(cnts)
            yield pd.DataFrame({
                "b": np.repeat(b_i + 1, bd),
                "code": np.repeat(c_i + 1, bd),
                "pos": np.tile(np.arange(bd), len(b_i)),
                "s": sums[b_i, c_i].reshape(-1),
                "cnt": np.repeat(cnts[b_i, c_i], bd),
            })

    return frame.select("q").mapInPandas(
        kernel, schema="b int, code int, pos int, s long, cnt long")


def pq_train(embeddings: DataFrame, n_blocks: int = 8, n_codes: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id",
             quantize: int = 6, train_mod: int = 1) -> list[list[list[int]]]:
    """Train a product-quantization codebook: split each vector into
    `n_blocks` contiguous sub-vectors and learn `n_codes` centroids per
    block (Jégou et al. 2011, "Product quantization for nearest
    neighbor search" — public TPAMI paper; the reference engine has no
    ANN surface, this is part of the training-data-pipeline extension).

    Fully deterministic k-means — seeds are the sub-vectors of the
    `n_codes` vectors with the smallest md5(id) (the
    `seed_cell_assignments` convention), refined by ONE Lloyd step:
    argmin assignment on exact fixed-point integer squared-L2 (ties →
    lowest code), then element-wise mean re-rounded to the fixed-point
    grid. One step keeps every arithmetic step relational/IEEE-exact so
    a SQL oracle can restate training bit-for-bit.

    Scale shape: training reads only `id % train_mod == 0` (codebooks
    train on a bounded sample at 100 TB; pass train_mod so the sample
    is a few 100k rows), and the Lloyd aggregation groups on
    (block, code, pos) — a key space of n_blocks × n_codes × block_dim
    regardless of corpus size, fully map-side-combinable. The returned
    codebook is n_blocks × n_codes × block_dim longs — driver-bounded
    (the Bloom-bitset precedent) and re-broadcast as literals by
    `pq_topk`.

    The argmin rides ONE integer key `dist * 2^ceil(log2(n_codes)) +
    (code-1)`: min(key) decomposes into (min dist, lowest tied code) in
    a single aggregate with no float comparisons — the same key both
    engines minimize.
    """
    probe = embeddings.select(vec_col).head()
    if probe is None or probe[0] is None:
        raise ValueError(
            f"pq_train: input frame is empty or {vec_col!r} is NULL in "
            "its first row — cannot infer the vector dimension")
    dim = len(probe[0])
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by n_blocks {n_blocks}")
    bd = dim // n_blocks
    cw = max(n_codes, 32)  # code-slot width in the combined key
    from error_analysis_spark.extensions.text import md5_prefix_long

    base = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        _fp_arr(F.col(vec_col), quantize).alias("q"))
    from pyspark.sql import Window
    seeds = [(int(r["code"]), list(r["sq"])) for r in (
        base.select(F.col("q").alias("sq"),
                    md5_prefix_long(F.col("id").cast("string")).alias("_h"),
                    F.col("id"))
        .orderBy("_h", "id").limit(n_codes)
        .select(F.col("sq"), F.row_number().over(
            Window.orderBy("_h", "id")).alias("code"))
        .collect())]
    # list position must equal code-1 no matter what order collect()
    # returned the window rows in (ADVICE r08: relying on the
    # single-partition WindowExec's row order would silently permute
    # centroids under any future plan change)
    seeds.sort(key=lambda t: t[0])

    train = base.where(F.col("id") % train_mod == 0) if train_mod > 1 \
        else base
    seed_book = [[sq[b * bd:(b + 1) * bd] for _, sq in seeds]
                 for b in range(n_blocks)]
    # one Arrow pass: assign + PARTIAL Lloyd sums per batch (the numpy
    # map-side combine — ≤ n_blocks·n_codes·bd rows per batch instead
    # of a ×dim explode of the sample), then a bounded final reduce.
    # Mean as exact-int sum / count (a float avg would be partial-sum
    # order-dependent; the long sums are order-independent and their
    # double cast exact below 2^53), re-rounded to the fixed-point grid
    partials = _pq_lloyd_partials(train, seed_book, cw)
    refined = (partials.groupBy("b", "code", "pos")
               .agg(F.floor(F.sum("s").cast("double") / F.sum("cnt")
                            + 0.5).cast("long").alias("cv"))
               .collect())
    book: dict[tuple[int, int], dict[int, int]] = {}
    for r in refined:
        book.setdefault((r["b"], r["code"]), {})[r["pos"]] = int(r["cv"])
    out: list[list[list[int]]] = []
    for b in range(1, n_blocks + 1):
        row = []
        for code, sq in seeds:
            got = book.get((b, code))
            if got is None:  # empty code (possible when train_mod > 1)
                row.append([int(v) for v in
                            sq[(b - 1) * bd:b * bd]])
            else:
                row.append([got[p] for p in range(bd)])
        out.append(row)
    return out


def pq_topk(embeddings: DataFrame, query_vec: list[float],
            codebook: list[list[list[int]]], k: int = 10,
            vec_col: str = "embedding", id_col: str = "vec_id",
            quantize: int = 6) -> DataFrame:
    """PQ-encode every vector against the literal `codebook` and rank by
    asymmetric-distance (ADC): approx dist = Σ_b table[b][code_b] where
    table is the query-block→centroid exact integer squared-L2,
    precomputed driver-side (n_blocks × n_codes entries, broadcast as
    literals inside the plan).

    Map-only over the corpus — encode + ADC are ONE Arrow-batched numpy
    kernel (`_pq_encode`, the FAISS-style vectorized PQ scan) with zero
    joins/shuffles; the only non-map stages are the TakeOrdered top-k
    and one bounded (block, code) histogram aggregate (≤
    n_blocks·n_codes groups, map-side combined). This is the plan that
    survives 100 TB: the codebook rides in the kernel closure (O(KB)),
    the scan is linear, nothing exchanges on a corpus key.

    Returns the labeled union
      ('topk', rank, vec_id, exact_dist, adc_dist)  k rows
      ('hist', block, code, n_assigned, distortion) ≤ n_blocks·n_codes
    with i/j BIGINT, m BIGINT, v DOUBLE — distortion (Σ min squared-L2
    to the chosen centroid) is the PQ quality metric and makes every
    row's code assignment hash-visible, not just the top k."""
    n_blocks = len(codebook)
    n_codes = len(codebook[0])
    bd = len(codebook[0][0])
    cw = max(n_codes, 32)
    scale = 10.0 ** quantize
    import math
    qfp = [int(math.floor(float(x) * scale + 0.5)) for x in query_vec]

    base = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        _fp_arr(F.col(vec_col), quantize).alias("q"))
    enc = _pq_encode(base, codebook, cw, qfp=qfp)

    from pyspark.sql import Window
    topk = (enc.orderBy("adc_dist", "id").limit(k)
            .select(
                F.lit("topk").alias("part"),
                F.row_number().over(Window.orderBy("adc_dist", "id"))
                .cast("long").alias("i"),
                F.col("id").alias("j"),
                F.col("exact_dist").alias("m"),
                F.col("adc_dist").cast("double").alias("v")))
    hist = (enc.select(F.posexplode("ks").alias("pos", "kv"))
            .groupBy((F.col("pos") + 1).cast("long").alias("i"),
                     (F.col("kv") % cw + 1).alias("j"))
            .agg(F.count("*").alias("m"),
                 # exact long integer division (ADVICE r08: `/` casts
                 # both sides to double first, exact only below 2^53;
                 # `div` stays in int64 like the oracle's k // cw)
                 F.sum(F.expr(f"(kv - kv % {cw}L) div {cw}L")
                       .cast("decimal(38,0)"))
                 .cast("double").alias("v"))
            .select(F.lit("hist").alias("part"), "i", "j", "m", "v"))
    return topk.unionByName(hist)
