"""Streaming incremental-DoD tests: the micro-batched result must equal
the batch computation exactly (merge-exact moment aggregation)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from error_analysis_spark.fixtures import GridSpec, make_dem_fixture
from error_analysis_spark.operators.zones import membership
from error_analysis_spark.streaming import incremental as INC


@pytest.fixture(scope="module")
def fx():
    return make_dem_fixture(n_rows=96, n_cols=96, seed=17)


def _grid(fx) -> GridSpec:
    t = fx.truth
    return GridSpec("g", 96, 96, t["x0"], t["y0"], t["res"])


def test_incremental_equals_batch(spark, fx, tmp_path_factory):
    stream_dir = tmp_path_factory.mktemp("stream")
    px = spark.createDataFrame(fx.pixels)
    ref = px.where(F.col("dataset_id") == "reference_dem").cache()
    cmp_ = px.where(F.col("dataset_id") == "compare_dem")

    # deliver the compare survey as 4 separate tile files (micro-batches)
    for i in range(4):
        chunk = cmp_.where(F.col("row") % 4 == i)
        chunk.coalesce(1).write.parquet(f"{stream_dir}/batch_{i}")
    # move part files up so the file source sees 4 arrivals
    import glob
    import shutil
    files = []
    for i in range(4):
        part = glob.glob(f"{stream_dir}/batch_{i}/part-*.parquet")[0]
        dst = f"{stream_dir}/survey_{i}.parquet"
        shutil.copy(part, dst)
        files.append(dst)
        shutil.rmtree(f"{stream_dir}/batch_{i}")

    zones = spark.createDataFrame(fx.zones)
    member = membership(
        px.select("row", "col", "x", "y").distinct(), zones,
        _grid(fx)).cache()

    stream = INC.stream_pixels(spark, str(stream_dir), max_files_per_trigger=1)
    dod = INC.incremental_dod(stream, ref)
    stats = INC.running_zonal_stats(dod, member)
    q = INC.run_to_memory(stats, "zonal_running")
    q.processAllAvailable()
    q.stop()
    got = spark.table("zonal_running").toPandas() \
        .sort_values("zone_id").reset_index(drop=True)

    # batch oracle over the same data
    dod_b = (cmp_.where(F.col("value").isNotNull())
             .join(ref.where(F.col("value").isNotNull())
                   .select("row", "col", F.col("value").alias("rv")),
                   ["row", "col"])
             .withColumn("dz", F.col("value") - F.col("rv")))
    want = (dod_b.join(member.select("row", "col", "zone_id"), ["row", "col"])
            .groupBy("zone_id")
            .agg(F.count("*").alias("n"),
                 F.avg("dz").alias("mean_dz"),
                 F.stddev_pop("dz").alias("std_dz"),
                 F.sqrt(F.avg(F.col("dz") ** 2)).alias("rms_dz"))
            .toPandas().sort_values("zone_id").reset_index(drop=True))
    assert list(got["zone_id"]) == list(want["zone_id"])
    np.testing.assert_array_equal(got["n"].to_numpy(), want["n"].to_numpy())
    np.testing.assert_allclose(got["mean_dz"], want["mean_dz"], rtol=1e-9)
    np.testing.assert_allclose(got["std_dz"], want["std_dz"], rtol=1e-6)
    np.testing.assert_allclose(got["rms_dz"], want["rms_dz"], rtol=1e-9)
    # all three zones got updates (stream covered the full grid)
    assert len(got) == 3


def test_stateful_operator_matches_sql_path(spark, fx, tmp_path_factory):
    """applyInPandasWithState running stats ≡ the SQL streaming agg."""
    stream_dir = tmp_path_factory.mktemp("stream2")
    px = spark.createDataFrame(fx.pixels)
    ref = px.where(F.col("dataset_id") == "reference_dem").cache()
    cmp_ = px.where(F.col("dataset_id") == "compare_dem")
    import glob
    import shutil
    for i in range(3):
        chunk = cmp_.where(F.col("col") % 3 == i)
        chunk.coalesce(1).write.parquet(f"{stream_dir}/b{i}")
        part = glob.glob(f"{stream_dir}/b{i}/part-*.parquet")[0]
        shutil.copy(part, f"{stream_dir}/survey_{i}.parquet")
        shutil.rmtree(f"{stream_dir}/b{i}")

    zones = spark.createDataFrame(fx.zones)
    member = membership(
        px.select("row", "col", "x", "y").distinct(), zones,
        _grid(fx)).cache()

    stream = INC.stream_pixels(spark, str(stream_dir), max_files_per_trigger=1)
    dod = INC.incremental_dod(stream, ref)
    stats = INC.stateful_zone_stats(dod, member)
    q = (stats.writeStream.outputMode("update")
         .format("memory").queryName("zonal_stateful").start())
    q.processAllAvailable()
    q.stop()
    # update mode appends one row per zone per batch; the LAST row per
    # zone is the final running value
    got = (spark.table("zonal_stateful").toPandas()
           .groupby("zone_id").last().sort_index())

    dod_b = (cmp_.where(F.col("value").isNotNull())
             .join(ref.where(F.col("value").isNotNull())
                   .select("row", "col", F.col("value").alias("rv")),
                   ["row", "col"])
             .withColumn("dz", F.col("value") - F.col("rv")))
    want = (dod_b.join(member.select("row", "col", "zone_id"), ["row", "col"])
            .groupBy("zone_id")
            .agg(F.count("*").alias("n"), F.avg("dz").alias("mean_dz"),
                 F.sqrt(F.avg(F.col("dz") ** 2)).alias("rms_dz"))
            .toPandas().set_index("zone_id").sort_index())
    np.testing.assert_array_equal(got["n"].to_numpy(), want["n"].to_numpy())
    np.testing.assert_allclose(got["mean_dz"], want["mean_dz"], rtol=1e-9)
    np.testing.assert_allclose(got["rms_dz"], want["rms_dz"], rtol=1e-9)


def test_stream_chunking_matches_batch(spark, tmp_path_factory):
    """chunk_windows is stateless row-local algebra (sequence →
    posexplode → slice), so the SAME operator runs unchanged on a
    stream: chunks collected over micro-batched arrivals equal the
    batch run over the union of arrivals, chunk hashes included (the
    append-mode no-state contract — no watermark, no dedup, pure map)."""
    import glob
    import shutil

    import pandas as pd

    from error_analysis_spark.extensions.text import chunk_windows
    from error_analysis_spark.streaming import dedup as SD

    d = tmp_path_factory.mktemp("chunkstream")
    import datetime as dt
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    mk = lambda n, w: " ".join(f"{w}{i}" for i in range(n))  # noqa: E731
    batches = [[(1, mk(40, "a"), "web")], [(2, mk(17, "b"), "web")],
               [(3, "", "web"), (4, mk(16, "c"), "book")]]
    rows_all = []
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            [(i_, t, s, t0 + dt.timedelta(minutes=i)) for i_, t, s in rows],
            columns=["doc_id", "text", "source", "ingest_time"])
        rows_all.append(pdf)
        (spark.createDataFrame(pdf, SD.DOC_SCHEMA).coalesce(1)
         .write.parquet(str(d / f"b{i}"), mode="overwrite"))
        part = glob.glob(str(d / f"b{i}" / "part-*.parquet"))[0]
        shutil.copy(part, str(d / f"arrival_{i}.parquet"))
        shutil.rmtree(str(d / f"b{i}"))

    stream = SD.stream_documents(spark, str(d), max_files_per_trigger=1)
    chunks = chunk_windows(stream, window=16, stride=12)
    q = (chunks.writeStream.outputMode("append")
         .format("memory").queryName("stream_chunks").start())
    q.processAllAvailable()
    q.stop()
    got = spark.table("stream_chunks").toPandas()

    batch_df = spark.createDataFrame(
        pd.concat(rows_all, ignore_index=True), SD.DOC_SCHEMA)
    want = chunk_windows(batch_df, window=16, stride=12).toPandas()
    key = ["doc_id", "chunk_idx", "chunk_tokens", "chunk_hash"]
    assert sorted(map(tuple, got[key].values.tolist())) \
        == sorted(map(tuple, want[key].values.tolist()))
    assert 3 not in set(got["doc_id"])          # empty doc: no chunks
    assert got[got.doc_id == 1].shape[0] == 4   # starts 0,12,24,36
