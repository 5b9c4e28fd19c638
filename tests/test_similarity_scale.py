"""Scale-path similarity tests: LSH ANN recall vs exact k-NN; variogram
sampling determinism under repartitioning (SURVEY §7 hard part #2)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.extensions import similarity as SIM
from error_analysis_spark.operators.variogram import (
    VariogramParams, sample_pixels_multi,
)


@pytest.fixture(scope="module")
def vectors(spark):
    """Clustered vectors (10 centers × 30 members) — ANN-friendly data."""
    rs = np.random.RandomState(11)
    centers = rs.standard_normal((10, 32)) * 3.0
    rows = []
    for i in range(300):
        v = centers[i % 10] + rs.standard_normal(32) * 0.5
        rows.append((i, [float(x) for x in v], i % 10))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])).cache()


def test_lsh_recall_vs_exact(vectors):
    k = 5
    exact = SIM.pairwise_cosine_topk(vectors, k=k).toPandas()
    approx = SIM.lsh_topk(vectors, k=k, n_planes=8, n_tables=6,
                          seed=7).toPandas()
    e = {(r.id_a, r.id_b) for r in exact.itertuples()}
    a = {(r.id_a, r.id_b) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    # clustered data + 6 tables: most true neighbors share a bucket
    assert recall > 0.8, recall
    # approximate sims are exact cosines (only the candidate set differs)
    merged = exact.merge(approx, on=["id_a", "id_b"], suffixes=("_e", "_a"))
    np.testing.assert_allclose(merged["sim_e"], merged["sim_a"], atol=1e-9)


def test_lsh_deterministic(vectors):
    a = SIM.lsh_topk(vectors, k=3, n_planes=8, n_tables=2, seed=7).toPandas()
    b = SIM.lsh_topk(vectors.repartition(13), k=3, n_planes=8, n_tables=2,
                     seed=7).toPandas()
    a = a.sort_values(["id_a", "rk"]).reset_index(drop=True)
    b = b.sort_values(["id_a", "rk"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_sampling_partition_independent(spark):
    """Same seed ⇒ identical variogram sample set under any partitioning
    (the xxhash64 restatement of the reference's single-seed thread)."""
    n = 4000
    pdf = pd.DataFrame({
        "row": np.arange(n) // 80, "col": np.arange(n) % 80,
        "x": (np.arange(n) % 80) * 1.0, "y": (np.arange(n) // 80) * 1.0,
        "value": np.random.RandomState(3).standard_normal(n),
    })
    df1 = spark.createDataFrame(pdf)
    df8 = spark.createDataFrame(pdf).repartition(8)
    params = VariogramParams(samples_per_area=500.0, area_side=80.0, seed=42)
    key = ["run", "sample_id"]
    frames = []
    for df in (df1, df8):
        s = sample_pixels_multi(df, params, res=1.0, n_runs=2,
                                n_valid=df.count()).toPandas()
        frames.append(s.sort_values(key).reset_index(drop=True)[key])
    pd.testing.assert_frame_equal(frames[0], frames[1])


def test_ivf_recall_vs_exact(vectors, spark):
    """IVF with 8 lists / 3 probes finds most true top-k for clustered
    data; sims on returned candidates are exact cosines."""
    from error_analysis_spark.extensions.similarity import cosine_topk, ivf_topk
    qrow = vectors.where(F.col("vec_id") == 0).first()
    q = [float(v) for v in qrow["embedding"]]
    rest = vectors.where(F.col("vec_id") > 0)
    exact = cosine_topk(rest, q, k=10).toPandas()
    approx = ivf_topk(rest, q, k=10, n_lists=8, n_probe=3, seed=5).toPandas()
    recall = len(set(exact["vec_id"]) & set(approx["vec_id"])) / 10
    assert recall >= 0.8, recall
    merged = exact.merge(approx, on="vec_id", suffixes=("_e", "_a"))
    np.testing.assert_allclose(merged["sim_e"], merged["sim_a"], atol=1e-9)


def test_block_topk_equals_pairwise(vectors):
    from error_analysis_spark.extensions.similarity import (
        block_cosine_topk, pairwise_cosine_topk,
    )
    a = pairwise_cosine_topk(vectors, k=4).toPandas() \
        .sort_values(["id_a", "rk"]).reset_index(drop=True)
    b = block_cosine_topk(vectors, k=4, n_blocks=5).toPandas() \
        .sort_values(["id_a", "rk"]).reset_index(drop=True)
    assert len(a) == len(b)
    pd.testing.assert_frame_equal(
        a[["id_a", "id_b", "rk"]], b[["id_a", "id_b", "rk"]])
    np.testing.assert_allclose(a["sim"], b["sim"], atol=2e-6)


def test_sigma_a_by_zone_matches_driver(spark):
    from error_analysis_spark.operators.uncertainty import (
        estimate_analytical, estimate_fft, estimate_monte_carlo,
        polygon_area, sigma_a_by_zone,
    )
    import pandas as pd
    zones = []
    for i in range(6):
        x0, y0 = i * 100.0, 0.0
        w, h = 40.0 + 10 * i, 30.0 + 5 * i
        zones.append({
            "zone_id": f"z{i}",
            "wkt": (f"POLYGON (({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+h}, "
                    f"{x0} {y0+h}, {x0} {y0}))"),
        })
    zdf = spark.createDataFrame(pd.DataFrame(zones))
    model = ([0.04], [25.0], 0.002)
    kernels = {
        "fft": (dict(grid_points=80),
                lambda wkt: estimate_fft(wkt, *model, grid_points=80)),
        "analytical": (dict(num_steps=500),
                       lambda wkt: estimate_analytical(
                           polygon_area(wkt), *model, num_steps=500)),
        "monte_carlo": (dict(n_pairs=5_000, seed=7),
                        lambda wkt: estimate_monte_carlo(
                            wkt, *model, n_pairs=5_000, seed=7)),
    }
    for method, (kw, kernel) in kernels.items():
        got = sigma_a_by_zone(zdf, *model, method=method, **kw) \
            .set_index("zone_id")["sigma_a"]
        assert sorted(got.index) == [z["zone_id"] for z in zones]
        for z in zones:
            np.testing.assert_allclose(got[z["zone_id"]], kernel(z["wkt"]),
                                       rtol=1e-12, err_msg=method)


def test_jaccard_max_df_pruning(spark):
    """max_df drops ultra-common tokens from the posting join; pairs
    whose overlap includes rarer tokens still surface with EXACT jaccard
    (sizes/intersections computed on the full token sets)."""
    from error_analysis_spark.extensions.dedup import jaccard_pairs
    rows = [
        (0, "alpha beta gamma delta common"),
        (1, "alpha beta gamma delta common"),   # J=1.0 with doc 0
        (2, "epsilon zeta eta theta common"),   # shares only 'common' w/ 0,1
        (3, "iota kappa lam mu common"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    # 'common' appears in 4 docs -> pruned at max_df=3; the (0,1) pair
    # still found via its rare tokens, and its jaccard is the TRUE 1.0
    out = jaccard_pairs(docs, threshold=0.5, max_df=3).toPandas()
    assert set(zip(out["id_a"], out["id_b"])) == {(0, 1)}
    assert out["jaccard"].iloc[0] == 1.0


def test_hyperplane_buckets_use_all_planes(vectors):
    """Regression (r03): a 2-arg transform lambda made PySpark pass the
    ARRAY INDEX as the second arg, shadowing the plane id — every plane
    was identical and n_planes buckets collapsed to {0, 2^n - 1},
    turning LSH candidate generation into a near-all-pairs join. With
    distinct planes the bucket space must actually be used."""
    bk = SIM.hyperplane_buckets(vectors, n_planes=10, seed=7).toPandas()
    n_buckets = bk["bucket"].nunique()
    assert n_buckets > 10, f"index collapsed to {n_buckets} buckets"
    # and candidate volume is subquadratic: sum of C(bucket_size, 2)
    # must be far below the all-pairs count
    sizes = bk.groupby("bucket").size()
    cand = int((sizes * (sizes - 1) // 2).sum())
    n = len(bk)
    assert cand < 0.2 * n * (n - 1) // 2, cand


def test_semantic_dedup_drops_planted_dups(spark):
    """SemDeDup over well-separated clusters: every planted near-copy is
    dropped, every family survives exactly once via its min id, and the
    result equals the brute-force greedy over the FULL similarity matrix
    (cluster confinement loses nothing when cells are separated)."""
    rs = np.random.RandomState(23)
    centers = rs.standard_normal((6, 16)) * 10.0
    rows, rid = [], 0
    families = []
    for c in range(6):
        fam = []
        for m in range(5):  # 5 distinct base vectors per cluster
            v = centers[c] + rs.standard_normal(16) * 0.8
            fam.append(rid)
            rows.append((rid, [float(x) for x in v]))
            rid += 1
            for _ in range(2):  # 2 planted near-copies of each base
                w = v * (1 + rs.standard_normal(16) * 1e-4)
                fam.append(rid)
                rows.append((rid, [float(x) for x in w]))
                rid += 1
        families.append(fam)
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["vec_id", "embedding"]))
    out = SIM.semantic_dedup(df, n_clusters=6, threshold=0.999,
                             seed=5).toPandas().sort_values("id")
    kept = set(out[out["keep"]]["id"])

    # brute-force greedy reference over the full matrix
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 6)
    ref_kept: list[int] = []
    for i in range(len(rows)):
        if not ref_kept or sims[i, ref_kept].max() < 0.999:
            ref_kept.append(i)
    assert kept == set(ref_kept)
    # exactly one survivor per (base-vector) dup family: its min id
    assert len(kept) == 6 * 5
    for fam in families:
        for base_pos in range(0, len(fam), 3):
            trio = fam[base_pos:base_pos + 3]
            assert set(trio) & kept == {min(trio)}


def test_seed_cells_partitioning_independent(spark):
    from error_analysis_spark.extensions.similarity import \
        seed_cell_assignments
    from tests.conftest import SF_DIR
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = {r["id"]: r["cluster_id"]
         for r in seed_cell_assignments(emb, n_cells=8).collect()}
    b = {r["id"]: r["cluster_id"]
         for r in seed_cell_assignments(
             emb.repartition(13, "label"), n_cells=8).collect()}
    assert a == b and len(set(a.values())) == 8
