"""The benchmark's three workloads: seeded input builders, the timed
operation ("op"), and an output check against an oracle that does not
share code with the engine path it checks.

Each workload builds its inputs as files under the run's work
directory and reads them back through the engine's `sources` layer, so
the program only ever receives generated inputs. Engine functions are
always called through their module attribute (`PL.analyze_pair`,
`PC.dem_pipeline`, ...) so that the traced run's patches see every
call the benchmark makes.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from error_analysis_spark import cachereg
from error_analysis_spark import pipeline as PL
from error_analysis_spark.extensions import curation as CU
from error_analysis_spark.extensions import text as TX
from error_analysis_spark.fixtures import GridSpec, make_dem_fixture, make_pointcloud
from error_analysis_spark.operators import align as AL
from error_analysis_spark.operators import pointcloud as PC
from error_analysis_spark.operators import stats as ST
from error_analysis_spark.plans import queries_ext as QX
from error_analysis_spark.sources import pixel_store as PS
from error_analysis_spark.sources import tables as TB


def _hive_write(df: pd.DataFrame, root: str, parts: list[str]) -> None:
    """Write `df` as a Hive-partitioned parquet dataset (the layout
    `pixel_store.write_pixels` / `write_points` produce) without running
    a Spark job, so input building stays out of the status store."""
    if os.path.exists(root):  # write_to_dataset would add, not replace
        raise FileExistsError(root)
    pq.write_to_dataset(pa.Table.from_pandas(df, preserve_index=False),
                        root, partition_cols=parts)


# --------------------------------------------------------------------------
# pair_analysis: the paper's per-DEM-pair chain, same-grid join path
# --------------------------------------------------------------------------

@dataclass
class PairInput:
    seed: int
    path: str
    grid: GridSpec
    zones: pd.DataFrame
    dz: np.ndarray          # compare - reference, NaN where either is nodata
    zone_masks: dict        # zone_id -> boolean raster
    want: dict | None = None


class PairAnalysis:
    """One op = `pipeline.analyze_pair` on a fresh `make_dem_fixture`
    pair (default `VariogramParams`, monte-carlo σ_A), read through
    `pixel_store.read_pixels`, plus reading the zonal table it returns.

    The oracle recomputes bias (median of stable Δz), RMS and the
    zonal means with numpy from the fixture's own arrays, so those
    checks are exact; σ_A presence and range follow
    tests/test_pipeline.py. (That test's statistical tolerances around
    the generating parameters miss on about one seed in five at this
    size, so they would flag the fixture, not the program.)"""

    name = "pair_analysis"
    size = 96                  # raster side, pixels
    nominal_op_s = 6.5         # op count per run = seconds / nominal

    def build(self, seed: int, work: str) -> PairInput:
        n = self.size
        fx = make_dem_fixture(n_rows=n, n_cols=n, range_m=32.0,
                              bias=0.15, sill=0.04, noise_std=0.05,
                              feature_dz=-1.2, seed=seed)
        px = fx.pixels.assign(ty=fx.pixels["row"] // PS.TILE,
                              tx=fx.pixels["col"] // PS.TILE)
        path = os.path.join(work, "pixels")
        _hive_write(px, path, ["dataset_id", "ty", "tx"])
        grid = GridSpec("g", n, n, fx.truth["x0"], fx.truth["y0"],
                        fx.truth["res"])
        rasters = {d: g.pivot(index="row", columns="col",
                              values="value").to_numpy(float)
                   for d, g in fx.pixels.groupby("dataset_id")}
        masks = {}
        for z, g in fx.membership.groupby("zone_id"):
            m = np.zeros((n, n), bool)
            m[g["row"], g["col"]] = True
            masks[z] = m
        return PairInput(seed, path, grid, fx.zones,
                         rasters["compare_dem"] - rasters["reference_dem"],
                         masks)

    def oracle(self, inp: PairInput) -> None:
        valid = ~np.isnan(inp.dz)
        unstable = np.zeros_like(valid)
        for z, m in inp.zone_masks.items():
            if z.startswith("unstable"):
                unstable |= m
        stable = inp.dz[valid & ~unstable]
        bias = float(np.median(stable))
        inp.want = {
            "bias": bias,
            "rms": float(np.sqrt(np.mean((stable - bias) ** 2))),
            "zone_mean": {z: float(np.mean(inp.dz[m & valid]) - bias)
                          for z, m in inp.zone_masks.items()},
        }

    def run(self, spark, inp: PairInput) -> Any:
        ref = PS.read_pixels(spark, inp.path, "reference_dem")
        cmp_ = PS.read_pixels(spark, inp.path, "compare_dem")
        res = PL.analyze_pair(ref, cmp_, inp.grid, inp.grid,
                              spark.createDataFrame(inp.zones),
                              seed=inp.seed)
        return res, res.zonal.toPandas()

    def check(self, inp: PairInput, out: Any) -> list[str]:
        res, zonal = out
        want, bad = inp.want, []
        for key in ("bias", "rms"):
            if not np.isclose(getattr(res, key), want[key], rtol=1e-9,
                              atol=1e-12):
                bad.append(f"{key} {getattr(res, key)!r} != {want[key]!r}")
        got = dict(zip(zonal["zone_id"], zonal["mean"]))
        if set(got) != set(want["zone_mean"]) or not all(
                np.isclose(got[z], v, rtol=1e-9, atol=1e-12)
                for z, v in want["zone_mean"].items()):
            bad.append(f"zonal means {got} != {want['zone_mean']}")
        if set(res.sigma_a) != {"unstable1", "unstable2"} or not all(
                0 < v < 0.5 for v in res.sigma_a.values()):
            bad.append(f"sigma_a {res.sigma_a}")
        if not res.bias_std > 0:
            bad.append(f"bias_std {res.bias_std}")
        return bad

    def release(self, out: Any) -> None:
        res, _ = out
        res.zonal.unpersist()
        res.dod.unpersist()


# --------------------------------------------------------------------------
# lidar_dod: two point-cloud epochs -> DTMs -> regrid-path DoD -> stats
# --------------------------------------------------------------------------

@dataclass
class LidarInput:
    path_a: str
    path_b: str
    grid_a: GridSpec
    grid_b: GridSpec
    block: tuple        # (x_lo, y_lo, x_hi, y_hi) of the planted change
    overlap_cells: int = -1  # epoch-A cells the DoD covers (oracle)


class LidarDod:
    """One op = two `make_pointcloud` epochs -> `pointcloud.dem_pipeline`
    DTMs -> `align.align_pair` + `align.difference` -> per-zone
    `stats.zonal_stats` (the `stats.describe` block per zone). Epoch B's
    grid is offset by a quarter cell and larger, so `align_pair` takes
    its regrid (shuffle) path; epoch B carries a +0.5 m ground change in
    one block."""

    name = "lidar_dod"
    extent = 120.0      # epoch A side, metres
    res = 1.5
    density = 2.8       # points per m² (250k points over 300 m)
    grow = 6            # epoch B is this many cells wider and taller
    change_m = 0.5
    nominal_op_s = 3.3

    def build(self, seed: int, work: str) -> LidarInput:
        x0, y0, res = 500_000.0, 4_000_000.0, self.res
        n_a = int(round(self.extent / res))
        ext_b = self.extent + self.grow * res
        grid_a = GridSpec("epoch_a", n_a, n_a, x0, y0, res)
        # quarter-cell offset: every epoch-B cell centre falls strictly
        # inside one epoch-A cell, never on a cell edge
        grid_b = GridSpec("epoch_b", n_a + self.grow, n_a + self.grow,
                          x0 - 0.25 * res, y0 + 0.25 * res, res)
        ss = np.random.SeedSequence(seed).generate_state(2)
        pts_a = make_pointcloud(int(self.density * self.extent ** 2),
                                seed=int(ss[0]), x0=x0, y0=y0,
                                extent=self.extent)
        pts_b = make_pointcloud(int(self.density * ext_b ** 2),
                                seed=int(ss[1]), x0=x0, y0=y0, extent=ext_b)
        q = self.extent / 4
        block = (x0 + q, y0 - 2 * q, x0 + 2 * q, y0 - q)
        inside = ((pts_b["x"] >= block[0]) & (pts_b["x"] < block[2])
                  & (pts_b["y"] >= block[1]) & (pts_b["y"] < block[3]))
        pts_b.loc[inside, "z"] += self.change_m
        paths = []
        for tag, pts in (("a", pts_a), ("b", pts_b)):
            p = os.path.join(work, f"points_{tag}")
            _hive_write(pts.assign(px=np.floor(pts["x"] / 1024.0).astype(int),
                                   py=np.floor(pts["y"] / 1024.0).astype(int)),
                        p, ["px", "py"])
            paths.append(p)
        return LidarInput(paths[0], paths[1], grid_a, grid_b, block)

    def oracle(self, inp: LidarInput) -> None:
        """Epoch-A cells that receive an epoch-B cell centre (the grids
        are axis-aligned, so rows and columns count separately)."""
        a, b = inp.grid_a, inp.grid_b
        cx = b.x0 + (np.arange(b.width) + 0.5) * b.res
        cy = b.y0 - (np.arange(b.height) + 0.5) * b.res
        cols = np.floor((cx - a.x0) / a.res)
        rows = np.floor((a.y0 - cy) / a.res)
        n_c = np.unique(cols[(cols >= 0) & (cols < a.width)]).size
        n_r = np.unique(rows[(rows >= 0) & (rows < a.height)]).size
        inp.overlap_cells = int(n_c * n_r)

    def run(self, spark, inp: LidarInput) -> Any:
        from pyspark.sql import functions as F
        dtm_a = PC.dem_pipeline(PS.read_points(spark, inp.path_a), inp.grid_a)
        dtm_b = PC.dem_pipeline(PS.read_points(spark, inp.path_b), inp.grid_b)
        dod = AL.difference(AL.align_pair(dtm_a, dtm_b, inp.grid_a,
                                          inp.grid_b))
        # the block's interior, eroded by the IDW radius plus one cell
        m = 3 * inp.grid_a.res
        xl, yl, xh, yh = inp.block
        in_block = ((F.col("x") > xl + m) & (F.col("x") < xh - m)
                    & (F.col("y") > yl + m) & (F.col("y") < yh - m))
        edge = ((F.col("x") > xl - m) & (F.col("x") < xh + m)
                & (F.col("y") > yl - m) & (F.col("y") < yh + m))
        zone = (F.when(in_block, "block").when(edge, "edge")
                .otherwise("rest"))
        return ST.zonal_stats(dod.withColumn("zone", zone), "zone",
                              "dz").toPandas()

    def check(self, inp: LidarInput, out: pd.DataFrame) -> list[str]:
        z, bad = out.set_index("zone"), []
        if int(z["n"].sum()) != inp.overlap_cells:
            bad.append(f"overlap cells {int(z['n'].sum())} "
                       f"!= {inp.overlap_cells}")
        if "block" not in z.index or not (
                abs(z.loc["block", "median"] - self.change_m) < 0.1):
            bad.append("planted block median off")
        if "rest" not in z.index or not abs(z.loc["rest", "median"]) < 0.1:
            bad.append("unchanged area median off")
        return bad

    def release(self, out: Any) -> None:
        pass


# --------------------------------------------------------------------------
# doc_curation: the LLM-data funnel (text, dedup, curation layers)
# --------------------------------------------------------------------------

# content words are pseudo-words built from these syllables; stopwords
# come from the engine's own language profiles so the language filter
# has real work to do
_SYLLABLES = ("ka to ri mu se na lo pe vi da ge zu ba fo ki ne ru so "
              "ta me li go pa du").split()
_LANG_P = {"en": 0.46, "fr": 0.14, "de": 0.14, "es": 0.14, "zh": 0.12}
_CJK = ["数据", "模型", "训练", "文本", "质量", "语言", "过滤", "重复"]


@dataclass
class DocInput:
    root: str
    funnel: list   # [(stage, rows_in, rows_out)] from the DuckDB oracle


class DocCuration:
    """One op = `curation.curate_documents` with the `curation_funnel`
    config on a fresh seeded corpus read through `tables.load_table`,
    collecting the per-stage funnel. The oracle is
    `queries_ext.CURATION_SQL` run by DuckDB on the same file."""

    name = "doc_curation"
    n_docs = 1200
    vocab = 600
    nominal_op_s = 4.5

    def corpus(self, seed: int) -> pa.Table:
        """A seeded corpus in the `documents` schema: Zipf content words,
        language-specific stopwords, ~7% junk (fails the quality gate),
        ~3% exact and ~6% near duplicates (one token appended, chains
        allowed). Content words carry a per-corpus alphabetic salt
        (the token-salting scheme of bench_scale.py, stopwords exempt so
        language ID still works), so no two corpora share a token."""
        rs = np.random.RandomState(seed)
        salt = "".join(rs.choice(list("abcdefghijklmnopqrstuvwxyz"), 3))
        words = np.array(sorted({
            "".join(rs.choice(_SYLLABLES, rs.randint(2, 4))) + salt
            for _ in range(self.vocab)}))
        zipf = 1.0 / np.arange(1, words.size + 1)
        zipf /= zipf.sum()
        langs = rs.choice(list(_LANG_P), self.n_docs, p=list(_LANG_P.values()))
        texts = []
        for i, lg in enumerate(langs):
            r = rs.rand()
            if r < 0.07:        # junk: one numeric token repeated
                texts.append(" ".join([str(rs.randint(0, 99))]
                                      * rs.randint(3, 9)))
                continue
            if i and r < 0.10:  # exact duplicate of an earlier doc
                texts.append(texts[rs.randint(0, i)])
                continue
            if i and r < 0.16:  # near duplicate: append one fresh word
                texts.append(texts[rs.randint(0, i)] + " " +
                             words[rs.randint(0, words.size)])
                continue
            n = rs.randint(15, 120)
            toks = list(rs.choice(words, n, p=zipf))
            stop = _CJK if lg == "zh" else TX.STOPWORDS[lg]
            for j in rs.choice(n, n // 4, replace=False):
                toks[j] = stop[rs.randint(0, len(stop))]
            texts.append(" ".join(toks))
        return pa.table({
            "doc_id": pa.array(np.arange(self.n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(langs.astype(str)),
            "source": [f"src{i % 20}" for i in range(self.n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })

    def build(self, seed: int, work: str) -> DocInput:
        table = self.corpus(seed)
        os.makedirs(work, exist_ok=True)
        # several row groups so the scan splits across cores
        pq.write_table(table, os.path.join(work, "documents.parquet"),
                       row_group_size=256)
        return DocInput(work, None)

    def oracle(self, inp: DocInput) -> None:
        import duckdb
        # evaluate each CTE once: the oracle re-reads s1..s3 and the
        # reachability CTE several times, which DuckDB otherwise
        # re-computes (30 s instead of 1 s at this size, same rows)
        sql = re.sub(r"(?m)^(WITH )?(\w+) AS \(",
                     lambda m: f"{m.group(1) or ''}{m.group(2)} AS MATERIALIZED (",
                     QX.CURATION_SQL)
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{os.path.join(inp.root, 'documents.parquet')}'")
            rows = con.execute(sql).fetchall()
        finally:
            con.close()
        inp.funnel = sorted((s, int(a), int(b)) for s, a, b in rows)

    def run(self, spark, inp: DocInput) -> Any:
        cfg = CU.CurationConfig(min_quality=QX._CF_MINQ, keep_langs=("en",),
                                near_dup_threshold=QX._CF_THRESH,
                                num_perm=QX._CF_PERM, bands=QX._CF_BANDS)
        docs = TB.load_table(spark, inp.root, "documents")
        _kept, stats = CU.curate_documents(docs, cfg)
        return stats.collect()

    def check(self, inp: DocInput, out: Any) -> list[str]:
        got = sorted((r["stage"], r["rows_in"], r["rows_out"]) for r in out)
        return [] if got == inp.funnel else [f"funnel {got} != {inp.funnel}"]

    def release(self, out: Any) -> None:
        cachereg.release_tracked()


WORKLOADS = {w.name: w for w in (PairAnalysis(), LidarDod(), DocCuration())}
