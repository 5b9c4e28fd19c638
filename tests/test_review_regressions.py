"""Regression tests for the round-1 code-review findings (crashes and
silent-wrong-result bugs in edge cases)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.functions.geometry import polygon_area


def test_multipolygon_area():
    two_squares = ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
                   "((2 0, 3 0, 3 1, 2 1, 2 0)))")
    assert polygon_area(two_squares) == pytest.approx(2.0)
    with_hole = ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
                 "(1 1, 2 1, 2 2, 1 2, 1 1))")
    assert polygon_area(with_hole) == pytest.approx(16.0 - 1.0)
    part_with_hole = ("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), "
                      "(1 1, 2 1, 2 2, 1 2, 1 1)), "
                      "((10 0, 11 0, 11 1, 10 1, 10 0)))")
    assert polygon_area(part_with_hole) == pytest.approx(16.0)


def test_fingerprint_short_documents(spark):
    from error_analysis_spark.extensions.text import fingerprint
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["one", "two words", "three word doc",
                 "four word document here"],
    }))
    out = fingerprint(docs, n_shingles=3).toPandas().set_index("doc_id")
    assert pd.isna(out.loc[1, "fingerprint"])
    assert pd.isna(out.loc[2, "fingerprint"])
    assert not pd.isna(out.loc[3, "fingerprint"])
    assert not pd.isna(out.loc[4, "fingerprint"])


def test_block_cosine_small_corpus(spark):
    """More blocks than occupied hash buckets must not crash."""
    from error_analysis_spark.extensions.similarity import (
        block_cosine_pairs, block_cosine_topk,
    )
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": [0, 1, 2],
        "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]],
    }))
    pairs = block_cosine_pairs(emb, threshold=0.9, n_blocks=8).toPandas()
    assert set(zip(pairs["id_a"], pairs["id_b"])) == {(0, 1)}
    topk = block_cosine_topk(emb, k=1, n_blocks=8).toPandas()
    assert len(topk) == 3  # every vector has a nearest neighbor


def test_fill_nodata_keeps_unreachable_cells(spark):
    from error_analysis_spark.fixtures import GridSpec
    from error_analysis_spark.operators.pointcloud import fill_nodata_idw
    n = 30
    rr, cc = np.mgrid[0:n, 0:n]
    vals = np.ones((n, n))
    vals[5:25, 5:25] = np.nan  # 20-wide hole, max_dist 3 → interior unreachable
    pdf = pd.DataFrame({"row": rr.ravel().astype(np.int32),
                        "col": cc.ravel().astype(np.int32),
                        "value": vals.ravel()})
    g = GridSpec("g", width=n, height=n, x0=0.0, y0=float(n), res=1.0)
    out = fill_nodata_idw(spark.createDataFrame(pdf), g, max_dist=3.0).toPandas()
    assert len(out) == n * n  # full pixel set preserved
    center = out[(out["row"] == 15) & (out["col"] == 15)]
    assert len(center) == 1 and pd.isna(center["value"].iloc[0])
    edge = out[(out["row"] == 5) & (out["col"] == 15)]
    assert edge["value"].iloc[0] == pytest.approx(1.0)


def test_derive_join_no_phantom_rows(spark):
    from error_analysis_spark.operators.focal import derive_join_all
    n = 12
    rr, cc = np.mgrid[0:n, 0:n]
    pdf = pd.DataFrame({"row": rr.ravel().astype(np.int32),
                        "col": cc.ravel().astype(np.int32),
                        "value": np.ones(n * n)})
    px = spark.createDataFrame(pdf)
    out = derive_join_all(px, 1.0).toPandas()
    assert len(out) == n * n  # exactly the source key set, no (-1, *) rows
    assert out["row"].min() == 0 and out["col"].min() == 0
    assert out["row"].max() == n - 1


def test_cross_validate_tiny_variogram(spark):
    from error_analysis_spark.operators.fitting import cross_validate
    vario = pd.DataFrame({
        "lag": [5.0, 10.0, 15.0, 20.0, 25.0, 30.0],
        "gamma_mean": [0.01, 0.02, 0.03, 0.035, 0.04, 0.04],
        "gamma_std": [0.002] * 6,
    })
    # 3 components + nugget needs 9 params; 4-5 training bins per fold
    out = cross_validate(spark, vario, n_comp=3, nugget=True, k_folds=5)
    assert len(out) == 5  # no crash; undersized folds report NaN
    assert out["rmse"].isna().all()


def test_simplify_wkt_douglas_peucker():
    from error_analysis_spark.functions.geometry import (
        polygon_area, simplify_wkt,
    )
    # collinear midpoints collapse; area preserved
    w = "POLYGON ((0 0, 5 0, 10 0, 10 5, 10 10, 5 10, 0 10, 0 5, 0 0))"
    s = simplify_wkt(w, 0.01)
    assert s == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert polygon_area(s) == pytest.approx(100.0)
    # jag below tolerance flattened, above kept
    w2 = "POLYGON ((0 0, 5 0.4, 10 0, 10 10, 0 10, 0 0))"
    assert simplify_wkt(w2, 0.5) == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert "5 0.4" in simplify_wkt(w2, 0.3)
    # holes simplified independently, MULTIPOLYGON round-trips
    hole = ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
            "(2 2, 4 2, 6 2, 6 6, 2 6, 2 2))")
    hs = simplify_wkt(hole, 0.01)
    assert hs == ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                  "(2 2, 6 2, 6 6, 2 6, 2 2))")
    multi = ("MULTIPOLYGON (((0 0, 1 0, 2 0, 2 2, 0 2, 0 0)), "
             "((5 5, 6 5, 6 6, 5 6, 5 5)))")
    ms = simplify_wkt(multi, 0.01)
    assert ms == ("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
                  "((5 5, 6 5, 6 6, 5 6, 5 5)))")


def test_w2_positional_pick_stays_jvm_only(spark):
    """r2→r3 regression guard: the two-phase positional pick must not
    reintroduce Python stages (the r2 form paid two repartition(1) +
    mapInPandas rounds, 7.75× the r1 floor) and must not funnel the
    full orders table through an unbounded global window — the only
    window inputs are the per-date count table and the pruned head."""
    from error_analysis_spark.plans.queries_core import w2_positional_pick
    df = w2_positional_pick(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "PythonMapInPandas" not in plan
    assert "EvalPython" not in plan
    rows = {r["rn"]: r for r in df.collect()}
    assert 1 in rows


def test_registry_window_policy():
    """The driver oracle-checks only the FIRST 50 declared queries, so
    declaration order is a verification budget (COVERAGE.md). Pin the
    policy: the _CHANGED queries lead in their listed order, the rest
    follow in registry order, and nothing is dropped or duplicated."""
    import __spark_entry__ as E
    names = list(E.queries())
    assert len(names) == len(set(names)) == len(E._MERGED)
    k = len(E._CHANGED)
    assert names[:k] == E._CHANGED
    assert names[k:] == [n for n in E._MERGED if n not in E._CHANGED]
    assert k <= 50
    # r05: sim_semantic_dedup gained a full oracle (seed cells +
    # recursive-CTE greedy) — the contract carries ZERO rows-only rows
    rows_only = set(names) - set(E.oracle_sql())
    assert rows_only == set(), rows_only
    # consolidation invariant: every packed member is absent from the
    # declared registry but still owns its standalone function
    from error_analysis_spark.plans.queries_packs import PACKED_MEMBERS
    assert not (set(PACKED_MEMBERS) & set(names)), \
        set(PACKED_MEMBERS) & set(names)
    assert set(PACKED_MEMBERS.values()) <= set(names)


def test_minhash_signature_plan_has_no_exchange(spark):
    """r03 optimization guard: MinHash signatures are pure row-local
    expressions (array_min over token-hash transforms) — the physical
    plan must contain no Exchange (the earlier tokens×perms crossJoin
    and groupBy forms both shuffled)."""
    import pandas as pd

    from error_analysis_spark.extensions import dedup as DD
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "c d"]}))
    sigs = DD.minhash_signatures(df, num_perm=8)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert sigs.count() == 16


def test_banded_signatures_match_long_form(spark):
    """Row-local banding (banded_signatures) is byte-identical to
    grouping the long `minhash_signatures` format by band: same
    (id, band, sig) set, so both forms yield the same candidates."""
    import pandas as pd

    from error_analysis_spark.extensions import dedup as DD
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a b c d", "a b c d", "x y z w", "p q r s"]}))
    fast = set(map(tuple, DD.banded_signatures(
        df, num_perm=8, bands=4).collect()))
    sigs = DD.minhash_signatures(df, num_perm=8)
    rows_per_band = 8 // 4
    from pyspark.sql import functions as F
    slow = set(map(tuple, (
        sigs.withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
        .groupBy("id", "band")
        .agg(F.md5(F.concat_ws(",", F.array_sort(F.collect_list(
            F.concat_ws(":", "perm", "minhash"))))).alias("sig"))
    ).collect()))
    assert fast == slow


def test_membership_empty_zone_set(spark):
    """derive_stable on a zones table with NO unstable rows must return
    every valid pixel as stable (not crash on empty-schema inference)."""
    import pandas as pd

    from error_analysis_spark.fixtures import GridSpec
    from error_analysis_spark.operators import zones as Z
    px = spark.createDataFrame(pd.DataFrame({
        "row": [0, 1], "col": [0, 1],
        "x": [0.5, 1.5], "y": [-0.5, -1.5]}))
    g = GridSpec("g", width=2, height=2, x0=0.0, y0=0.0, res=1.0)
    zn = spark.createDataFrame(
        [("z1", "stable", "a", "POLYGON((0 0,2 0,2 -2,0 -2,0 0))")],
        "zone_id string, kind string, name string, wkt string")
    out = Z.derive_stable(px, Z.membership(px, zn, g))
    assert out.count() == 2  # nothing unstable -> everything stable
    # and a zone table with no rows at all gives an empty membership
    empty = zn.where("false")
    assert Z.membership(px, empty, g).count() == 0
    assert Z.derive_stable(px, Z.membership(px, empty, g)).count() == 2


def test_align_treats_nan_as_nodata(spark):
    """A NaN pixel value (numpy-ingested nodata) must be excluded from
    regrid/align exactly like NULL — not poison dz downstream."""
    import numpy as np
    import pandas as pd

    from error_analysis_spark.fixtures import GridSpec
    from error_analysis_spark.operators import align as AL
    g = GridSpec("g", width=2, height=1, x0=0.0, y0=0.0, res=1.0)
    a = spark.createDataFrame(pd.DataFrame({
        "row": [0, 0], "col": [0, 1],
        "x": [0.5, 1.5], "y": [-0.5, -0.5],
        "value": [1.0, np.nan]}))
    b = spark.createDataFrame(pd.DataFrame({
        "row": [0, 0], "col": [0, 1],
        "x": [0.5, 1.5], "y": [-0.5, -0.5],
        "value": [2.0, 5.0]}))
    got = AL.align_pair(a, b, g, g).toPandas()
    assert list(got["col"]) == [0]  # the NaN cell pairs with nothing
    assert float(got["value_a"].iloc[0]) == 1.0
    # same-grid pair must skip the regrid shuffle entirely
    plan = AL.align_pair(a, b, g, g)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "min_by" not in plan  # no nearest-regrid aggregate


def test_derive_join_matches_tiled_on_nodata_rows(spark):
    """R2 must emit one row per source row when the source carries
    nodata-valued rows (NULL value) — the join path used to silently
    drop them — with NULL at the nodata centre and wherever the numpy
    kernel's stencil is incomplete."""
    import numpy as np
    import pandas as pd

    from error_analysis_spark.operators import focal as FO
    n = 8
    rr, cc = np.mgrid[0:n, 0:n]
    vals = (rr * 0.3 + cc * 0.7).astype(float)
    vals[3, 4] = np.nan  # one nodata cell, long-table row present
    pdf = pd.DataFrame({"row": rr.ravel(), "col": cc.ravel(),
                        "value": vals.ravel()})
    pdf["value"] = pdf["value"].astype(object).where(pdf["value"].notna(),
                                                    None)
    px = spark.createDataFrame(pdf)
    j = FO.derive_join_all(px, 1.0).select("row", "col", "slope") \
        .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    assert len(j) == n * n
    want = FO.derive_np(np.pad(vals, 1, constant_values=np.nan), 1.0,
                        "slope")
    # GDAL: a nodata centre is nodata out, though Horn slope skips it
    want[3, 4] = np.nan
    want = want.ravel()
    jn = j["slope"].isna().to_numpy()
    assert jn[3 * n + 4]
    np.testing.assert_array_equal(jn, ~np.isfinite(want))
    np.testing.assert_allclose(j["slope"][~jn], want[~jn], rtol=1e-9)
