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
# order is a verification budget: the queries whose code changed since
# the last verified run lead, then the registry's own order follows.
_CHANGED = [
    "a13_zone_pixel_counts",    # zone membership: scanline raster + join
    "r2_focal_all",             # R2: one stencil operator
]

_ALL: dict[str, tuple] = {n: _MERGED[n] for n in _CHANGED}
_ALL.update(_MERGED)  # keys already in _ALL keep their leading slot
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
