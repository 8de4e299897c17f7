"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: README cone search (129.4, 43.7, 0.5°, HTM L7)
                 as a two-phase filter over sf0.001 orders with derived sky
                 positions (FIXTURES.md §3 derivation).
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — ANSI-SQL oracle per query for the DuckDB cross-check.

Sky positions derive deterministically from integer keys so the oracle can
recompute the exact geometric predicate in SQL:
    ra  = (key * 0.618034) % 360
    dec = degrees(asin(2 * ((key * 0.381966) % 1) - 1))
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from spatialindex_spark.functions.constraints import SpatialIndex
from spatialindex_spark.functions.cover import polygon_normals
from spatialindex_spark.functions.geometry import RAD_PER_DEG, sc_to_v3
from spatialindex_spark.functions.udfs import htm_udf, hpx_udf, with_xyz

SI = SpatialIndex()

# ---------------------------------------------------------------------------
# shared fixtures (regions used by both engines)
# ---------------------------------------------------------------------------

CONE = dict(ra=129.4, dec=43.7, radius=12.0)          # README region, widened
CONE2 = dict(ra=34.0, dec=45.0, radius=9.0)           # test.py region
POLY_RA = [120.0, 150.0, 150.0, 120.0]
POLY_DEC = [30.0, 30.0, 55.0, 55.0]
KNN_QUERIES = [(1, 129.4, 43.7), (2, 34.0, 45.0), (3, 250.0, -45.0)]


def _make_ellipse():
    from spatialindex_spark.functions.regions import SphericalEllipse

    return SphericalEllipse.from_center(sc_to_v3(200.0, 10.0), 8.0, 4.0, 30.0)


_ELLIPSE = None


def _ellipse():
    global _ELLIPSE
    if _ELLIPSE is None:
        _ELLIPSE = _make_ellipse()
    return _ELLIPSE
KNN_K = 5
TILES = [
    dict(tile_id=1, ra=[100.0, 130.0, 130.0, 100.0], dec=[-20.0, -20.0, 10.0, 10.0]),
    dict(tile_id=2, ra=[200.0, 245.0, 245.0, 200.0], dec=[20.0, 20.0, 60.0, 60.0]),
]


def _cone_vec(ra: float, dec: float, radius: float):
    v = sc_to_v3(ra, dec)
    return v.x, v.y, v.z, math.cos(radius * RAD_PER_DEG)


def _poly_planes(ra_list, dec_list):
    return [(n.x, n.y, n.z) for n in polygon_normals(ra_list, dec_list)]


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------

def _orders_sky(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with derived ra/dec/x/y/z + htm7 + hpx7 cell keys."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = (
        orders.withColumn("ra", (F.col("o_orderkey") * F.lit(0.618034)) % 360)
        .withColumn("dec", F.degrees(F.asin(2 * ((F.col("o_custkey") * F.lit(0.381966)) % 1) - 1)))
    )
    df = with_xyz(df)
    return (df.withColumn("htm7", htm_udf(7)("x", "y", "z"))
              .withColumn("hpx7", hpx_udf(7)("ra", "dec")))

def _customer_sky(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (c.withColumn("ra", (F.col("c_custkey") * F.lit(0.618034)) % 360)
             .withColumn("dec", F.degrees(F.asin(2 * ((F.col("c_custkey") * F.lit(0.381966)) % 1) - 1))))


def _supplier_sky(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (s.withColumn("ra", (F.col("s_suppkey") * F.lit(0.618034)) % 360)
             .withColumn("dec", F.degrees(F.asin(2 * ((F.col("s_suppkey") * F.lit(0.381966)) % 1) - 1))))


_SKY_SQL_O = (
    "(o_orderkey * 0.618034e0) % 360 AS ra, "
    "degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1)) AS dec"
)


def _geom_sql(prefix: str, planes) -> str:
    """AND of half-space dot products over SQL xyz expressions."""
    parts = []
    for nx, ny, nz, thr in planes:
        parts.append(
            f"(({nx!r})*{prefix}x + ({ny!r})*{prefix}y + ({nz!r})*{prefix}z >= {thr!r})")
    return " AND ".join(parts)


_XYZ_SQL = (
    "cos(radians(ra)) * cos(radians(dec)) AS x, "
    "sin(radians(ra)) * cos(radians(dec)) AS y, "
    "sin(radians(dec)) AS z"
)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: two-phase cone search over sf0.001 orders."""
    df = _orders_sky(spark, "/root/testdata/sf0.001")
    c = SI.cone_search(**CONE, mode=SpatialIndex.HTM, level=7, encoding=0,
                       colname="htm7", as_constraints=True)
    return c.filter(df).select("o_orderkey", "ra", "dec")


def _q_cone_htm(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_sky(spark, sf_dir)
    c = SI.cone_search(**CONE, mode=SpatialIndex.HTM, level=7, encoding=0,
                       colname="htm7", as_constraints=True)
    return c.filter(df).select("o_orderkey")


def _q_cone_hpx(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_sky(spark, sf_dir)
    c = SI.cone_search(**CONE2, mode=SpatialIndex.HPX, level=7, encoding=0,
                       colname="hpx7", as_constraints=True)
    return c.filter(df).select("o_orderkey")


def _q_cone_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cone search over the TRUE-S2 Hilbert cell column: s2_cap_ranges
    covering (two-phase: biased BETWEEN on the uint64-ordered ids — xor
    with the sign bit makes signed compare match unsigned order — then the
    exact dot-product geometry). Same oracle as cone_htm: the cells are
    engine-side pruning only."""
    import math

    from spatialindex_spark.functions.h3s2 import s2_cap_ranges
    from spatialindex_spark.functions.udfs import s2_udf

    df = _orders_sky(spark, sf_dir).withColumn(
        "s2h_7", s2_udf(7, curve="hilbert")("x", "y", "z"))
    ranges = s2_cap_ranges(CONE["ra"], CONE["dec"], CONE["radius"], 7)
    BIAS = -1 << 63
    b = F.col("s2h_7").bitwiseXOR(F.lit(BIAS))
    pred = None
    for lo, hi in ranges:
        c = b.between(lo ^ BIAS, hi ^ BIAS)
        pred = c if pred is None else (pred | c)
    cx, cy, cz, cosr = _cone_vec(CONE["ra"], CONE["dec"], CONE["radius"])
    geom = (F.col("x") * cx + F.col("y") * cy + F.col("z") * cz) >= cosr
    return df.filter(pred).filter(geom).select("o_orderkey")


def _q_cone_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cone search over the TRUE aperture-7 hex-H3 cell column (two-phase:
    explicit cell-list covering — hex cells have no geometric subtree
    nesting, so the covering is an equality InSet, never a range — then
    the exact dot-product geometry). h3s2.h3_cone_cells is the
    level-synchronous covering in the sptQueryLib.c:1311-1630 role,
    realized as a vectorized per-face disk enumeration. Same oracle as
    cone_htm: the cells are engine-side pruning only, so a covering hole
    shows up as missing rows."""
    from spatialindex_spark.functions.h3s2 import h3_cone_cells
    from spatialindex_spark.functions.udfs import h3_udf

    df = _orders_sky(spark, sf_dir).withColumn(
        "h3_3", h3_udf(3)("ra", "dec"))
    cells = [int(c) for c in
             h3_cone_cells(CONE["ra"], CONE["dec"], CONE["radius"], 3)]
    cx, cy, cz, cosr = _cone_vec(CONE["ra"], CONE["dec"], CONE["radius"])
    geom = (F.col("x") * cx + F.col("y") * cy + F.col("z") * cz) >= cosr
    return df.filter(F.col("h3_3").isin(cells)).filter(geom) \
             .select("o_orderkey")


def _q_polygon_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex-polygon search over the hex-H3 cell column
    (h3_polygon_cells covering + exact half-space geometry); same oracle
    as polygon_htm."""
    from spatialindex_spark.functions.h3s2 import h3_polygon_cells
    from spatialindex_spark.functions.udfs import h3_udf

    df = _orders_sky(spark, sf_dir).withColumn(
        "h3_3", h3_udf(3)("ra", "dec"))
    cells = [int(c) for c in h3_polygon_cells(POLY_RA, POLY_DEC, 3)]
    geom = F.lit(True)
    for nx, ny, nz in _poly_planes(POLY_RA, POLY_DEC):
        geom = geom & ((F.col("x") * nx + F.col("y") * ny
                        + F.col("z") * nz) >= 0)
    return df.filter(F.col("h3_3").isin(cells)).filter(geom) \
             .select("o_orderkey")


def _q_polygon_htm(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_sky(spark, sf_dir)
    c = SI.polygon_search(POLY_RA, POLY_DEC, mode=SpatialIndex.HTM, level=7,
                          encoding=0, colname="htm7", as_constraints=True)
    return c.filter(df).select("o_orderkey")


def _q_polygon_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex-polygon search over the TRUE-S2 Hilbert cell column
    (s2_polygon_ranges covering + exact half-space geometry); same oracle
    as polygon_htm."""
    from spatialindex_spark.functions.h3s2 import s2_polygon_ranges
    from spatialindex_spark.functions.udfs import s2_udf

    df = _orders_sky(spark, sf_dir).withColumn(
        "s2h_7", s2_udf(7, curve="hilbert")("x", "y", "z"))
    ranges = s2_polygon_ranges(POLY_RA, POLY_DEC, 7)
    BIAS = -1 << 63
    b = F.col("s2h_7").bitwiseXOR(F.lit(BIAS))
    pred = None
    for lo, hi in ranges:
        c = b.between(lo ^ BIAS, hi ^ BIAS)
        pred = c if pred is None else (pred | c)
    geom = F.lit(True)
    for nx, ny, nz in _poly_planes(POLY_RA, POLY_DEC):
        geom = geom & ((F.col("x") * nx + F.col("y") * ny
                        + F.col("z") * nz) >= 0)
    return df.filter(pred).filter(geom).select("o_orderkey")


def _q_hull_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 convex hull queried through the TRUE-S2 Hilbert index (hull ->
    s2_polygon_ranges covering on the biased ids -> exact half-space
    conjunction); same oracle as hull_htm — the covering is pruning only."""
    from spatialindex_spark.functions.geometry import xyz_to_radec
    from spatialindex_spark.functions.h3s2 import s2_polygon_ranges
    from spatialindex_spark.functions.udfs import s2_udf

    hull = _hull()
    hra, hdec = zip(*[xyz_to_radec(v.x, v.y, v.z) for v in hull.verts])
    df = _orders_sky(spark, sf_dir).withColumn(
        "s2h_7", s2_udf(7, curve="hilbert")("x", "y", "z"))
    ranges = s2_polygon_ranges(list(hra), list(hdec), 7)
    BIAS = -1 << 63
    b = F.col("s2h_7").bitwiseXOR(F.lit(BIAS))
    pred = None
    for lo, hi in ranges:
        c = b.between(lo ^ BIAS, hi ^ BIAS)
        pred = c if pred is None else (pred | c)
    geom = None
    for e in hull.edges:
        g = (F.lit(e.x) * F.col("x") + F.lit(e.y) * F.col("y")
             + F.lit(e.z) * F.col("z")) >= 0.0
        geom = g if geom is None else (geom & g)
    return df.filter(pred).filter(geom).select("o_orderkey")


def _q_hull_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 convex hull queried through the hex-H3 cell-list index
    (h3_polygon_cells covering + exact half-spaces); same oracle as
    hull_htm."""
    from spatialindex_spark.functions.geometry import xyz_to_radec
    from spatialindex_spark.functions.h3s2 import h3_polygon_cells
    from spatialindex_spark.functions.udfs import h3_udf

    hull = _hull()
    hra, hdec = zip(*[xyz_to_radec(v.x, v.y, v.z) for v in hull.verts])
    df = _orders_sky(spark, sf_dir).withColumn(
        "h3_3", h3_udf(3)("ra", "dec"))
    cells = [int(c) for c in h3_polygon_cells(list(hra), list(hdec), 3)]
    geom = None
    for e in hull.edges:
        g = (F.lit(e.x) * F.col("x") + F.lit(e.y) * F.col("y")
             + F.lit(e.z) * F.col("z")) >= 0.0
        geom = g if geom is None else (geom & g)
    return df.filter(F.col("h3_3").isin(cells)).filter(geom) \
             .select("o_orderkey")


def _q_region_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 region count: indexed count == brute count."""
    df = _orders_sky(spark, sf_dir)
    c = SI.cone_search(**CONE, mode=SpatialIndex.HTM, level=7, encoding=0,
                       colname="htm7", as_constraints=True)
    return c.filter(df).agg(F.count(F.lit(1)).alias("n"))


def _q_region_count_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 with the reference's INSIDE fast path (htm.c:1666-1669): interior
    cells counted from the per-cell counts table with zero row reads, exact
    geometry only over the boundary shell; must equal the brute count."""
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_fast_frame)

    df = _orders_sky(spark, sf_dir)
    counts = cell_count_tree(df, "htm7", level=7)
    return region_count_fast_frame(df, counts, CONE["ra"], CONE["dec"],
                                   CONE["radius"], level=7, cell_col="htm7")


def _q_region_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.joins import region_join

    df = _orders_sky(spark, sf_dir).withColumn("spt_ind", F.col("htm7"))
    regions = [
        {"region_id": 1, "kind": "cone", **CONE},
        {"region_id": 2, "kind": "cone", **CONE2},
        {"region_id": 3, "kind": "poly", "ra": POLY_RA, "dec": POLY_DEC},
    ]
    out = region_join(df, regions, level=7)
    return out.select("region_id", "o_orderkey")


def _q_crossmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.joins import crossmatch

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    supp = _supplier_sky(spark, sf_dir).select("s_suppkey", "ra", "dec")
    cm = crossmatch(cust, supp, radius_deg=1.5)
    return cm.select("c_custkey_l", "s_suppkey_r")


def _q_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-counterpart crossmatch (catalog best-match): closest
    supplier within 1.5 deg per customer, ties on supplier id. Value-
    oracled against the identical SQL window over the all-pairs join."""
    from spatialindex_spark.operators.joins import best_match

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    supp = _supplier_sky(spark, sf_dir).select("s_suppkey", "ra", "dec")
    bm = best_match(cust, supp, 1.5, left_id="c_custkey",
                    right_id="s_suppkey")
    # emit the cos-scale separation: acos near 1 amplifies a 1e-16 dot
    # difference into ~1e-6 deg (engines' fp rounding differs there), so
    # sep_deg cannot hash-match; the dot itself is rounding-stable
    return bm.select("c_custkey_l", "s_suppkey_r",
                     F.round(F.cos(F.radians("sep_deg")), 9)
                     .alias("match_dot"))


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.knn import knn

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    q = spark.createDataFrame(KNN_QUERIES, "query_id long, ra double, dec double")
    # level 1: ring-1 verified radius ~30 deg >> 5th-NN distance even at
    # sf0.001 (150 customers) — completeness holds at every test scale
    out = knn(q, cust, k=KNN_K, level=1, rings=1, tiebreak="c_custkey")
    return out.select("query_id", F.col("c_custkey").alias("c_custkey"),
                      F.col("knn_rank"))


def _q_knn_starved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 widening path under oracle check: at level 7 a ring-1 disc holds
    ~0.07 customers on average, so EVERY query is starved and the iterative
    shell widening (x4 radius per round, probe-level coarsening under the
    cell budget) must converge to the exact top-k — verified against the
    same SQL window oracle as the dense-path knn."""
    from spatialindex_spark.operators.knn import knn

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    q = spark.createDataFrame(KNN_QUERIES, "query_id long, ra double, dec double")
    out = knn(q, cust, k=10, level=7, rings=1, tiebreak="c_custkey")
    return out.select("query_id", "c_custkey", "knn_rank")


def _q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 at table scale: k nearest suppliers for EVERY customer — both
    sides are tables, neither is broadcast (the candidate join is a
    shuffled cell equi-join; the left side's ring disc is a JVM Column
    expression).
    Sparse-tail rows fall through the per-level verified-radius passes to
    the labeled exact fallback, so the result is total at every sf."""
    from spatialindex_spark.operators.knn import knn_join

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    supp = _supplier_sky(spark, sf_dir).select("s_suppkey", "ra", "dec")
    return knn_join(cust, supp, k=3, level=2,
                    left_id="c_custkey", right_id="s_suppkey",
                    on_starved="exact")


def _q_knn_join_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_join's density-adaptive mode (the skew fix): per-row probe
    levels chosen from a broadcast right-side density profile, starved
    rows cascading to the level their observed k-th distance proves
    sufficient. Same total-result contract — and the SAME oracle — as
    the fixed-ladder knn_join: the level assignment must never change
    the answer."""
    from spatialindex_spark.operators.knn import knn_join

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    supp = _supplier_sky(spark, sf_dir).select("s_suppkey", "ra", "dec")
    return knn_join(cust, supp, k=3, auto_levels=True,
                    left_id="c_custkey", right_id="s_suppkey",
                    on_starved="exact")


CUTOUT_SCALE = 0.01   # deg / pixel of the synthetic pointing model
CUTOUT_SIZE = 12      # cutout window size in pixels


def _img_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders-sky as an image-pointing metadata table: each order is an
    image centered at its sky position with deterministic w/h (the same
    derive-from-key pattern as image_filter's metadata)."""
    df = _orders_sky(spark, sf_dir)
    w = (F.when(F.col("o_orderkey") % 3 == 0, 16)
         .when(F.col("o_orderkey") % 3 == 1, 32).otherwise(64))
    h = (F.when(F.expr("o_orderkey div 3") % 3 == 0, 16)
         .when(F.expr("o_orderkey div 3") % 3 == 1, 32).otherwise(64))
    return df.select(F.col("o_orderkey").alias("image_id"), "ra", "dec",
                     w.alias("w"), h.alias("h"), "hpx7")


def _q_cutout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image cutout windows (the cutout-service primitive): every
    (target, image) pair where the target lands inside the image's
    gnomonic footprint, with the clipped CUTOUT_SIZE window. Candidates
    ride crossmatch's ring-disc equi-join keyed on the ingest-time hpx7
    column (image side all-JVM, metadata-only); the oracle replays the
    TAN projection + floor/clip arithmetic over an exact cross join."""
    from spatialindex_spark.operators.cutouts import cutout_windows

    imgs = _img_meta(spark, sf_dir)
    targets = (_customer_sky(spark, sf_dir)
               .filter(F.col("c_custkey") <= 1500)
               .select(F.col("c_custkey").alias("target_id"), "ra", "dec"))
    return cutout_windows(targets, imgs, CUTOUT_SCALE, CUTOUT_SIZE,
                          max_dim_px=64, cell_col="hpx7", cell_level=7)


def _synth_image_payload(spark: SparkSession, sf_dir: str,
                         max_id: int = 3000) -> DataFrame:
    """Deterministic image+pointing payload table shared by the mosaic
    and pyramid queries.  Pixels are synth_image_photometric — EVERY
    pixel an integer formula of (id, x, y, c) — behind lossless codecs
    (raw/z alternating), so the coadd's sampled sums are replayable
    exactly by the DuckDB value oracle (the lossy dct path is exercised
    by the rng-payload pytest twins in tests/test_cutouts.py instead)."""
    from spatialindex_spark.sources import imaging

    meta = _img_meta(spark, sf_dir).filter(F.col("image_id") <= max_id)

    def gen(batches):
        for b in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [],
                   "fmt": [], "ra": [], "dec": [], "hpx7": []}
            for r in b.itertuples(index=False):
                fmt = ("raw", "z")[int(r.image_id) % 2]
                img = imaging.synth_image_photometric(
                    int(r.image_id), int(r.w), int(r.h))
                out["image_id"].append(int(r.image_id))
                out["bytes"].append(imaging.encode(img, fmt))
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(fmt)
                out["ra"].append(float(r.ra))
                out["dec"].append(float(r.dec))
                out["hpx7"].append(int(r.hpx7))
            yield pd.DataFrame(out)

    return meta.mapInPandas(
        gen, "image_id long, bytes binary, w int, h int, fmt string, "
             "ra double, dec double, hpx7 long")


def _wsum_col(col: str):
    """Position-weighted integer checksum of a binary column:
    sum over bytes of value[p] * (p + 1) — order-sensitive (detects
    permutations, unlike a plain sum), integer-exact, and replayable in
    SQL from the per-position byte values the oracle reconstructs."""
    @F.pandas_udf("long")
    def _wsum(data: pd.Series) -> pd.Series:
        import numpy as np

        def one(b):
            a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            return int((a * (np.arange(a.size, dtype=np.int64) + 1)).sum())
        return data.map(one)
    return _wsum(F.col(col))


MOSAIC_LEVEL = 2
MOSAIC_TILE_PX = 16
MOSAIC_SCALE = 0.05


def _q_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mosaic coaddition: every synthetic image overlapping each L2
    HEALPix cell resampled onto the cell's 16x16 gnomonic grid and
    mean-coadded.  Fully value-oracled: the payload pixels are an
    integer formula of (id, x, y, c) behind lossless codecs, the grid
    is scalar-libm (bit-identical to DuckDB trig), and the gated
    data_wsum is a position-weighted integer checksum of the output
    mean bytes — so the oracle replays grid -> TAN sampling -> integer
    sums -> mean -> round-half-even byte, end to end in SQL."""
    from spatialindex_spark.operators.cutouts import coadd_mosaic

    imgs = _synth_image_payload(spark, sf_dir)
    out = coadd_mosaic(imgs, level=MOSAIC_LEVEL, tile_px=MOSAIC_TILE_PX,
                       scale_deg_px=MOSAIC_SCALE,
                       cell_col="hpx7", cell_level=7, max_dim_px=64)
    return out.select("tile", "n_images", "covered_px",
                      _wsum_col("data").alias("data_wsum"))


def _q_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiPS-style tile pyramid: the L2 mosaic rolled up through L0 (4
    children -> 1 parent per step, SURVEY A5's rollup re-expressed over
    image tiles).  Fully value-oracled like mosaic: the oracle replays
    the base coadd AND both rollup steps (parent-grid resample of child
    mean bytes under the child coverage mask) as a SQL CTE ladder,
    gating weighted integer checksums of data and mask per tile."""
    from spatialindex_spark.operators.cutouts import (coadd_mosaic,
                                                      mosaic_pyramid)

    imgs = _synth_image_payload(spark, sf_dir)
    tiles = coadd_mosaic(imgs, level=MOSAIC_LEVEL, tile_px=MOSAIC_TILE_PX,
                         scale_deg_px=MOSAIC_SCALE,
                         cell_col="hpx7", cell_level=7, with_mask=True,
                         max_dim_px=64)
    out = mosaic_pyramid(tiles, level=MOSAIC_LEVEL, tile_px=MOSAIC_TILE_PX,
                         min_level=0)
    return out.select("level", "tile", "n_images", "covered_px",
                      _wsum_col("data").alias("data_wsum"),
                      _wsum_col("mask").alias("mask_wsum"))


def _dlit(x: float) -> str:
    """Exact DOUBLE literal for DuckDB: bare decimal literals parse as
    DECIMAL (whose arithmetic differs), while exponent-form literals
    parse directly as DOUBLE; repr() round-trips every bit."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


def _mosaic_consts():
    """Exact double constants of the mosaic/pyramid configuration,
    computed the same way the operator computes them (embedding them in
    the oracle SQL via repr preserves every bit)."""
    import numpy as np
    from spatialindex_spark.functions.healpix import max_pix_rad

    tp = MOSAIC_TILE_PX
    tscale = {lvl: 2.0 * max_pix_rad(lvl) / tp for lvl in (0, 1, 2)}
    # tan_pix_np's s = np.radians(scale_deg): the base sampling scale and
    # the per-step child sampling scale (degrees() round trip included,
    # exactly as mosaic_pyramid computes c_scale_deg)
    s_img = float(np.radians(MOSAIC_SCALE))
    s_child = {cl: float(np.radians(math.degrees(tscale[cl])))
               for cl in (1, 2)}
    reach = {lvl: max_pix_rad(lvl) * math.sqrt(2.0) + 0.02
             for lvl in (0, 1, 2)}
    return tscale, s_img, s_child, reach


def _tile_center_values(lvl: int) -> str:
    """(tile, tra, tdec) VALUES rows at HEALPix level ``lvl`` — the
    exact doubles _tile_center_map broadcasts (pure config constants:
    12*4^lvl rows, data-independent)."""
    import numpy as np
    from spatialindex_spark.functions.healpix import pix2vec

    npix = 12 << (2 * lvl)
    pix = np.arange(npix, dtype=np.int64)
    x, y, z = pix2vec(lvl, pix)
    tra = np.degrees(np.arctan2(y, x)) % 360.0
    tdec = np.degrees(np.arcsin(np.clip(z, -1.0, 1.0)))
    return ", ".join(f"({int(p)}, {_dlit(a)}, {_dlit(d)})"
                     for p, a, d in zip(pix, tra, tdec))


def _grid_ctes(lvl: int, tag: str) -> str:
    """CTE text computing the scalar-libm tile grid of every level-
    ``lvl`` tile in SQL: tile tangent basis from the embedded centers,
    then the inverse gnomonic per (j, i) — op-for-op the float sequence
    of operators/cutouts.py:tile_grid_radec (DuckDB trig == libm, which
    is why the grid helper is deliberately scalar)."""
    tp = MOSAIC_TILE_PX
    ts = _dlit(_mosaic_consts()[0][lvl])
    half = _dlit(tp / 2.0)
    return f"""tiles{tag}(tile, tra, tdec) AS (VALUES {_tile_center_values(lvl)}),
tilec{tag} AS (
  SELECT tile, tra, tdec,
         cos(radians(tdec)) * cos(radians(tra)) AS cx,
         cos(radians(tdec)) * sin(radians(tra)) AS cy,
         sin(radians(tdec)) AS cz,
         -sin(radians(tra)) AS ex, cos(radians(tra)) AS ey,
         -sin(radians(tdec)) * cos(radians(tra)) AS nx,
         -sin(radians(tdec)) * sin(radians(tra)) AS ny,
         cos(radians(tdec)) AS nz
  FROM tiles{tag}),
gvec{tag} AS (
  SELECT tile, j, i, xi, eta, sqrt(1.0 + xi * xi + eta * eta) AS den,
         cx, cy, cz, ex, ey, nx, ny, nz
  FROM (SELECT tile, j, i,
               ({half} - (i + 0.5)) * {ts} AS xi,
               ((j + 0.5) - {half}) * {ts} AS eta,
               cx, cy, cz, ex, ey, nx, ny, nz
        FROM tilec{tag}, unnest(range(0, {tp})) t1(j),
             unnest(range(0, {tp})) t2(i))),
gsky{tag} AS (
  SELECT tile, j, i,
         CASE WHEN fmod(graw, 360.0) < 0 THEN fmod(graw, 360.0) + 360.0
              ELSE fmod(graw, 360.0) END AS gra,
         degrees(asin(LEAST(1.0, GREATEST(-1.0,
                                          (cz + eta * nz) / den)))) AS gdec
  FROM (SELECT tile, j, i,
               degrees(atan2((cy + xi * ey + eta * ny) / den,
                             (cx + xi * ex + eta * nx) / den)) AS graw,
               eta, nz, cz, den
        FROM gvec{tag}))"""


def _mosaic_base_ctes() -> str:
    """CTE ladder reproducing the level-2 coadd: candidate pairs by a
    sound center-distance bound (the operator's disc prune + slack, so
    FP drift can never drop a contributing pair — pairs kept that the
    operator's ring-1 candidate set pruned contribute zero samples and
    cancel out), TAN sampling per grid pixel (tan_pix_np replayed
    op-for-op), the integer-formula pixel values, integer sums, and the
    round-half-even mean byte (np.rint replayed as an explicit CASE)."""
    tp = MOSAIC_TILE_PX
    tscale, s_img, _, reach = _mosaic_consts()
    half_scale = _dlit(math.radians(MOSAIC_SCALE) / 2.0)
    return f"""imgs AS (
  SELECT o_orderkey AS image_id,
         (o_orderkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1)) AS dec,
         CASE o_orderkey % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (o_orderkey // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64
           END AS h
  FROM orders WHERE o_orderkey <= 3000),
{_grid_ctes(2, '2')},
pairs AS (
  SELECT t.tile, i.image_id, i.ra, i.dec, i.w, i.h
  FROM tiles2 t, imgs i
  WHERE sin(radians(t.tdec)) * sin(radians(i.dec))
        + cos(radians(t.tdec)) * cos(radians(i.dec))
          * cos(radians(i.ra) - radians(t.tra))
        >= cos(LEAST(pi(), sqrt(i.w * i.w + i.h * i.h) * {half_scale}
                           + {_dlit(reach[2])}))),
sampr AS (
  SELECT p.tile, g.j, g.i, p.image_id, p.w, p.h,
    sin(radians(p.dec)) * sin(radians(g.gdec))
      + cos(radians(p.dec)) * cos(radians(g.gdec))
        * cos(radians(g.gra) - radians(p.ra)) AS den,
    p.w / 2.0 - ((cos(radians(g.gdec)) * sin(radians(g.gra) - radians(p.ra))
      / (sin(radians(p.dec)) * sin(radians(g.gdec))
         + cos(radians(p.dec)) * cos(radians(g.gdec))
           * cos(radians(g.gra) - radians(p.ra)))) / {_dlit(s_img)}) AS px,
    p.h / 2.0 + (((cos(radians(p.dec)) * sin(radians(g.gdec))
      - sin(radians(p.dec)) * cos(radians(g.gdec))
        * cos(radians(g.gra) - radians(p.ra)))
      / (sin(radians(p.dec)) * sin(radians(g.gdec))
         + cos(radians(p.dec)) * cos(radians(g.gdec))
           * cos(radians(g.gra) - radians(p.ra)))) / {_dlit(s_img)}) AS py
  FROM pairs p JOIN gsky2 g USING (tile)),
sampf AS (
  SELECT tile, j, i, image_id,
         CAST(FLOOR(px) AS BIGINT) AS ix, CAST(FLOOR(py) AS BIGINT) AS iy
  FROM sampr
  WHERE den > 0 AND FLOOR(px) >= 0 AND FLOOR(px) < w
    AND FLOOR(py) >= 0 AND FLOOR(py) < h),
l2px AS (
  SELECT tile, j, i, c.c, SUM((image_id * 31 + ix * 7 + iy * 13
                               + c.c * 29) % 251) AS acc,
         COUNT(*) AS cnt
  FROM sampf, (VALUES (0), (1), (2)) c(c)
  GROUP BY tile, j, i, c.c),
l2b AS (
  SELECT tile, j, i, c,
         CAST(CASE WHEN fr > 0.5 THEN fl + 1
                   WHEN fr < 0.5 THEN fl
                   ELSE fl + CAST(CAST(fl AS BIGINT) % 2 AS DOUBLE)
              END AS BIGINT) AS byte
  FROM (SELECT tile, j, i, c, FLOOR(mean) AS fl,
               mean - FLOOR(mean) AS fr
        FROM (SELECT tile, j, i, c, acc::DOUBLE / cnt::DOUBLE AS mean
              FROM l2px))),
l2n AS (
  SELECT tile, COUNT(DISTINCT image_id) AS n_images FROM sampf
  GROUP BY tile),
l2agg AS (
  SELECT n.tile, n.n_images, cov.covered_px, b.data_wsum, cov.mask_wsum
  FROM l2n n
  JOIN (SELECT tile, COUNT(*) AS covered_px,
               SUM(j * {tp} + i + 1) AS mask_wsum
        FROM (SELECT DISTINCT tile, j, i FROM sampf) GROUP BY tile) cov
    ON cov.tile = n.tile
  JOIN (SELECT tile, SUM(byte * ((j * {tp} + i) * 3 + c + 1)) AS data_wsum
        FROM l2b GROUP BY tile) b ON b.tile = n.tile)"""


def _mosaic_sql() -> str:
    return f"""WITH {_mosaic_base_ctes()}
SELECT tile::BIGINT AS tile, n_images::INT AS n_images,
       covered_px::INT AS covered_px, data_wsum::BIGINT AS data_wsum
FROM l2agg"""


def _pyramid_roll_ctes(pl: int, ptag: str, ctag: str) -> str:
    """One rollup step: parent grid pixels at level ``pl`` sample every
    child tile's mean bytes (under the child coverage mask) through the
    same TAN projection the operator uses, then mean + round-half-even
    again.  Children come from the previous rung's l{ctag}b/l{ctag}agg."""
    tp = MOSAIC_TILE_PX
    _, _, s_child, _ = _mosaic_consts()
    s = _dlit(s_child[pl + 1])
    return f"""{_grid_ctes(pl, ptag)},
roll{ptag}r AS (
  SELECT g.tile AS ptile, g.j, g.i, c.tile AS ctile, c.tra, c.tdec,
    sin(radians(c.tdec)) * sin(radians(g.gdec))
      + cos(radians(c.tdec)) * cos(radians(g.gdec))
        * cos(radians(g.gra) - radians(c.tra)) AS den,
    {tp} / 2.0 - ((cos(radians(g.gdec))
      * sin(radians(g.gra) - radians(c.tra))
      / (sin(radians(c.tdec)) * sin(radians(g.gdec))
         + cos(radians(c.tdec)) * cos(radians(g.gdec))
           * cos(radians(g.gra) - radians(c.tra)))) / {s}) AS px,
    {tp} / 2.0 + (((cos(radians(c.tdec)) * sin(radians(g.gdec))
      - sin(radians(c.tdec)) * cos(radians(g.gdec))
        * cos(radians(g.gra) - radians(c.tra)))
      / (sin(radians(c.tdec)) * sin(radians(g.gdec))
         + cos(radians(c.tdec)) * cos(radians(g.gdec))
           * cos(radians(g.gra) - radians(c.tra)))) / {s}) AS py
  FROM gsky{ptag} g
  JOIN tiles{ctag} c ON (c.tile // 4) = g.tile
  WHERE c.tile IN (SELECT tile FROM l{ctag}agg)),
roll{ptag}f AS (
  SELECT r.ptile, r.j, r.i, r.ctile,
         CAST(FLOOR(r.px) AS BIGINT) AS ix, CAST(FLOOR(r.py) AS BIGINT) AS iy
  FROM roll{ptag}r r
  JOIN (SELECT DISTINCT tile, j, i FROM l{ctag}px) cov
    ON cov.tile = r.ctile AND cov.j = CAST(FLOOR(r.py) AS BIGINT)
       AND cov.i = CAST(FLOOR(r.px) AS BIGINT)
  WHERE r.den > 0 AND FLOOR(r.px) >= 0 AND FLOOR(r.px) < {tp}
    AND FLOOR(r.py) >= 0 AND FLOOR(r.py) < {tp}),
l{ptag}px AS (
  SELECT f.ptile AS tile, f.j, f.i, b.c, SUM(b.byte) AS acc,
         COUNT(*) AS cnt
  FROM roll{ptag}f f
  JOIN l{ctag}b b ON b.tile = f.ctile AND b.j = f.iy AND b.i = f.ix
  GROUP BY f.ptile, f.j, f.i, b.c),
l{ptag}b AS (
  SELECT tile, j, i, c,
         CAST(CASE WHEN fr > 0.5 THEN fl + 1
                   WHEN fr < 0.5 THEN fl
                   ELSE fl + CAST(CAST(fl AS BIGINT) % 2 AS DOUBLE)
              END AS BIGINT) AS byte
  FROM (SELECT tile, j, i, c, FLOOR(mean) AS fl,
               mean - FLOOR(mean) AS fr
        FROM (SELECT tile, j, i, c, acc::DOUBLE / cnt::DOUBLE AS mean
              FROM l{ptag}px))),
l{ptag}n AS (
  SELECT u.ptile AS tile, SUM(a.n_images) AS n_images
  FROM (SELECT DISTINCT ptile, ctile FROM roll{ptag}f) u
  JOIN l{ctag}agg a ON a.tile = u.ctile GROUP BY u.ptile),
l{ptag}agg AS (
  SELECT n.tile, n.n_images, cov.covered_px, b.data_wsum, cov.mask_wsum
  FROM l{ptag}n n
  JOIN (SELECT tile, COUNT(*) AS covered_px,
               SUM(j * {tp} + i + 1) AS mask_wsum
        FROM (SELECT DISTINCT tile, j, i FROM l{ptag}px) GROUP BY tile) cov
    ON cov.tile = n.tile
  JOIN (SELECT tile, SUM(byte * ((j * {tp} + i) * 3 + c + 1)) AS data_wsum
        FROM l{ptag}b GROUP BY tile) b ON b.tile = n.tile)"""


def _pyramid_sql() -> str:
    lvl_row = ("SELECT {lv}::INT AS level, tile::BIGINT AS tile, "
               "n_images::INT AS n_images, covered_px::INT AS covered_px, "
               "data_wsum::BIGINT AS data_wsum, mask_wsum::BIGINT AS "
               "mask_wsum FROM l{tag}agg")
    return (f"WITH {_mosaic_base_ctes()},\n"
            f"{_pyramid_roll_ctes(1, '1', '2')},\n"
            f"{_pyramid_roll_ctes(0, '0', '1')}\n"
            + lvl_row.format(lv=2, tag='2')
            + "\nUNION ALL " + lvl_row.format(lv=1, tag='1')
            + "\nUNION ALL " + lvl_row.format(lv=0, tag='0'))


def _q_source_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source extraction + astrometry (the pipeline stage that PRODUCES
    the reference's position catalogs): planted single-pixel spikes are
    recovered from lossless-codec payloads by threshold detection in
    mapInPandas batches, then placed on the sky with JVM inverse-TAN
    trig. The planted positions are integer-derived from the image id,
    so the oracle replays detection arithmetic AND the astrometry in
    SQL — a fully value-oracled pixel operator."""
    from spatialindex_spark.operators.detect import detect_sources
    from spatialindex_spark.sources import imaging

    meta = _img_meta(spark, sf_dir).filter(F.col("image_id") <= 2000)

    def gen(batches):
        for b in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [],
                   "fmt": [], "ra": [], "dec": []}
            for r in b.itertuples(index=False):
                fmt = ("raw", "z")[int(r.image_id) % 2]   # lossless only
                img = imaging.synth_image_sources(int(r.image_id),
                                                  int(r.w), int(r.h))
                out["image_id"].append(int(r.image_id))
                out["bytes"].append(imaging.encode(img, fmt))
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(fmt)
                out["ra"].append(float(r.ra))
                out["dec"].append(float(r.dec))
            yield pd.DataFrame(out)

    imgs = meta.mapInPandas(
        gen, "image_id long, bytes binary, w int, h int, fmt string, "
             "ra double, dec double")
    return detect_sources(imgs, CUTOUT_SCALE)


PHOT_APERTURE = 2     # forced-photometry aperture half-width (5x5 window)
PHOT_MAX_ID = 3000


def _q_photometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forced aperture photometry: summed 5x5-window channel-0 flux at
    every catalog position inside every containing image footprint. The
    payload is imaging.synth_image_photometric — EVERY pixel is an
    integer formula of (id, x, y, c) — so the oracle replays the full
    pixel integral (TAN window arithmetic + a lateral range x range sum
    of the same formula) in SQL: a fully value-oracled pixel-AGGREGATION
    operator (source_detect oracles pixel POSITIONS; this oracles pixel
    VALUES)."""
    from spatialindex_spark.operators.detect import forced_photometry
    from spatialindex_spark.sources import imaging

    meta = _img_meta(spark, sf_dir).filter(F.col("image_id") <= PHOT_MAX_ID)

    def gen(batches):
        for b in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [],
                   "fmt": [], "ra": [], "dec": [], "hpx7": []}
            for r in b.itertuples(index=False):
                fmt = ("raw", "z")[int(r.image_id) % 2]   # lossless only
                img = imaging.synth_image_photometric(
                    int(r.image_id), int(r.w), int(r.h))
                out["image_id"].append(int(r.image_id))
                out["bytes"].append(imaging.encode(img, fmt))
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(fmt)
                out["ra"].append(float(r.ra))
                out["dec"].append(float(r.dec))
                out["hpx7"].append(int(r.hpx7))
            yield pd.DataFrame(out)

    imgs = meta.mapInPandas(
        gen, "image_id long, bytes binary, w int, h int, fmt string, "
             "ra double, dec double, hpx7 long")
    targets = (_customer_sky(spark, sf_dir)
               .filter(F.col("c_custkey") <= 1500)
               .select(F.col("c_custkey").alias("target_id"), "ra", "dec"))
    ph = forced_photometry(targets, imgs, CUTOUT_SCALE, PHOT_APERTURE,
                           max_dim_px=64, cell_col="hpx7", cell_level=7)
    return ph.select("target_id", "image_id", "npix", "flux")


SHAPE_MAX_ID = 2000
SHAPE_MAX_TGT = 1200


def _q_source_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed image-moment shape measurement
    (operators/detect.py:source_moments): flux-weighted centroid +
    central second moments in a 5x5 window at fixed catalog positions
    over formula-pixel payloads. The oracle replays the TAN window
    arithmetic, the six integer moment sums, AND the derived IEEE
    moment trees in SQL — pixel morphology, fully value-oracled."""
    from spatialindex_spark.operators.detect import source_moments
    from spatialindex_spark.sources import imaging

    meta = _img_meta(spark, sf_dir).filter(F.col("image_id") <= SHAPE_MAX_ID)

    def gen(batches):
        for b in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [],
                   "fmt": [], "ra": [], "dec": [], "hpx7": []}
            for r in b.itertuples(index=False):
                fmt = ("raw", "z")[int(r.image_id) % 2]   # lossless only
                img = imaging.synth_image_photometric(
                    int(r.image_id), int(r.w), int(r.h))
                out["image_id"].append(int(r.image_id))
                out["bytes"].append(imaging.encode(img, fmt))
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(fmt)
                out["ra"].append(float(r.ra))
                out["dec"].append(float(r.dec))
                out["hpx7"].append(int(r.hpx7))
            yield pd.DataFrame(out)

    imgs = meta.mapInPandas(
        gen, "image_id long, bytes binary, w int, h int, fmt string, "
             "ra double, dec double, hpx7 long")
    targets = (_customer_sky(spark, sf_dir)
               .filter(F.col("c_custkey") <= SHAPE_MAX_TGT)
               .select(F.col("c_custkey").alias("target_id"), "ra", "dec"))
    sm = source_moments(targets, imgs, CUTOUT_SCALE, PHOT_APERTURE,
                        max_dim_px=64, cell_col="hpx7", cell_level=7)
    return sm.select("target_id", "image_id", "s_v", "s_vx", "s_vy",
                     "s_vxx", "s_vxy", "s_vyy", "xbar", "ybar",
                     "cxx", "cyy", "cxy")


def _source_shape_sql() -> str:
    srad = repr(math.radians(CUTOUT_SCALE))
    psize = 2 * PHOT_APERTURE + 1
    return f"""
WITH imgs AS (
  SELECT o_orderkey AS image_id,
         (o_orderkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1)) AS dec,
         CASE o_orderkey % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (o_orderkey // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64
           END AS h
  FROM orders WHERE o_orderkey <= {SHAPE_MAX_ID}),
tgts AS (
  SELECT c_custkey AS target_id,
         (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer WHERE c_custkey <= {SHAPE_MAX_TGT}),
pix AS (
  SELECT t.target_id, i.image_id, i.w, i.h,
    sin(radians(i.dec)) * sin(radians(t.dec))
      + cos(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)) AS den,
    i.w / 2.0 - ((cos(radians(t.dec)) * sin(radians(t.ra) - radians(i.ra))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS px,
    i.h / 2.0 + (((cos(radians(i.dec)) * sin(radians(t.dec))
      - sin(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS py
  FROM tgts t CROSS JOIN imgs i),
winr AS (
  SELECT target_id, image_id, w, h,
         CAST(FLOOR(px) AS INT) - {PHOT_APERTURE} AS x0r,
         CAST(FLOOR(py) AS INT) - {PHOT_APERTURE} AS y0r
  FROM pix WHERE den > 0 AND px >= 0 AND px < w AND py >= 0 AND py < h),
win AS (
  SELECT target_id, image_id,
         GREATEST(0, x0r) AS x0, LEAST(w, x0r + {psize}) AS x1,
         GREATEST(0, y0r) AS y0, LEAST(h, y0r + {psize}) AS y1
  FROM winr),
sums AS (
  SELECT target_id, image_id,
         SUM(v)::BIGINT AS s_v,
         SUM(v * xs)::BIGINT AS s_vx,
         SUM(v * ys)::BIGINT AS s_vy,
         SUM(v * xs * xs)::BIGINT AS s_vxx,
         SUM(v * xs * ys)::BIGINT AS s_vxy,
         SUM(v * ys * ys)::BIGINT AS s_vyy
  FROM (SELECT target_id, image_id, xs, ys,
               (image_id * 31 + xs * 7 + ys * 13) % 251 AS v
        FROM win, unnest(range(win.x0, win.x1)) AS t1(xs),
             unnest(range(win.y0, win.y1)) AS t2(ys))
  GROUP BY target_id, image_id)
SELECT target_id, image_id, s_v, s_vx, s_vy, s_vxx, s_vxy, s_vyy,
  round(CASE WHEN s_v > 0 THEN s_vx / s_v END, 9) AS xbar,
  round(CASE WHEN s_v > 0 THEN s_vy / s_v END, 9) AS ybar,
  round(CASE WHEN s_v > 0 THEN
    s_vxx / s_v - (s_vx / s_v) * (s_vx / s_v) END, 9) AS cxx,
  round(CASE WHEN s_v > 0 THEN
    s_vyy / s_v - (s_vy / s_v) * (s_vy / s_v) END, 9) AS cyy,
  round(CASE WHEN s_v > 0 THEN
    s_vxy / s_v - (s_vx / s_v) * (s_vy / s_v) END, 9) AS cxy
FROM sums"""


ANNULUS_RADII = (1, 2, 4)   # aperture / annulus-in / annulus-out half-widths


def _q_annulus_phot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Background-subtracted aperture photometry
    (operators/detect.py:annulus_photometry): 3x3 aperture flux minus
    the local sky from the 5x5..9x9 square annulus, one decode per
    (target, image). The oracle replays the three nested clipped
    windows (from the shared 1e-6-rounded pixel coordinate), the three
    integer sums, and the subtraction tree in SQL."""
    from spatialindex_spark.operators.detect import annulus_photometry
    from spatialindex_spark.sources import imaging

    meta = _img_meta(spark, sf_dir).filter(F.col("image_id") <= SHAPE_MAX_ID)

    def gen(batches):
        for b in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [],
                   "fmt": [], "ra": [], "dec": [], "hpx7": []}
            for r in b.itertuples(index=False):
                fmt = ("raw", "z")[int(r.image_id) % 2]   # lossless only
                img = imaging.synth_image_photometric(
                    int(r.image_id), int(r.w), int(r.h))
                out["image_id"].append(int(r.image_id))
                out["bytes"].append(imaging.encode(img, fmt))
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(fmt)
                out["ra"].append(float(r.ra))
                out["dec"].append(float(r.dec))
                out["hpx7"].append(int(r.hpx7))
            yield pd.DataFrame(out)

    imgs = meta.mapInPandas(
        gen, "image_id long, bytes binary, w int, h int, fmt string, "
             "ra double, dec double, hpx7 long")
    targets = (_customer_sky(spark, sf_dir)
               .filter(F.col("c_custkey") <= SHAPE_MAX_TGT)
               .select(F.col("c_custkey").alias("target_id"), "ra", "dec"))
    ap, r_in, r_out = ANNULUS_RADII
    ph = annulus_photometry(targets, imgs, CUTOUT_SCALE, ap, r_in, r_out,
                            max_dim_px=64, cell_col="hpx7", cell_level=7)
    return ph.select("target_id", "image_id", "n_ap", "flux_ap", "n_in",
                     "flux_in", "n_out", "flux_out", "bkg_mean",
                     "net_flux")


def _annulus_phot_sql() -> str:
    srad = repr(math.radians(CUTOUT_SCALE))
    ap, r_in, r_out = ANNULUS_RADII

    def wsum(r, nk, fk):
        return (
            f"SELECT target_id, image_id, count(*)::BIGINT AS {nk}, "
            f"SUM((image_id * 31 + xs * 7 + ys * 13) % 251)::BIGINT "
            f"AS {fk} FROM ("
            "SELECT target_id, image_id, w, h, "
            f"CAST(FLOOR(ROUND(px, 6)) AS INT) - {r} AS x0r, "
            f"CAST(FLOOR(ROUND(py, 6)) AS INT) - {r} AS y0r "
            "FROM pix WHERE den > 0 AND px >= 0 AND px < w "
            "AND py >= 0 AND py < h) wr, "
            f"unnest(range(GREATEST(0, wr.x0r), "
            f"LEAST(wr.w, wr.x0r + {2 * r + 1}))) AS t1(xs), "
            f"unnest(range(GREATEST(0, wr.y0r), "
            f"LEAST(wr.h, wr.y0r + {2 * r + 1}))) AS t2(ys) "
            "GROUP BY target_id, image_id")

    return f"""
WITH imgs AS (
  SELECT o_orderkey AS image_id,
         (o_orderkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1)) AS dec,
         CASE o_orderkey % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (o_orderkey // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64
           END AS h
  FROM orders WHERE o_orderkey <= {SHAPE_MAX_ID}),
tgts AS (
  SELECT c_custkey AS target_id,
         (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer WHERE c_custkey <= {SHAPE_MAX_TGT}),
pix AS (
  SELECT t.target_id, i.image_id, i.w, i.h,
    sin(radians(i.dec)) * sin(radians(t.dec))
      + cos(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)) AS den,
    i.w / 2.0 - ((cos(radians(t.dec)) * sin(radians(t.ra) - radians(i.ra))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS px,
    i.h / 2.0 + (((cos(radians(i.dec)) * sin(radians(t.dec))
      - sin(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS py
  FROM tgts t CROSS JOIN imgs i),
a AS ({wsum(ap, 'n_ap', 'flux_ap')}),
i AS ({wsum(r_in, 'n_in', 'flux_in')}),
o AS ({wsum(r_out, 'n_out', 'flux_out')})
SELECT a.target_id, a.image_id, n_ap, flux_ap, n_in, flux_in, n_out,
  flux_out,
  round(CASE WHEN n_out - n_in > 0 THEN
    (flux_out - flux_in) / (n_out - n_in) END, 9) AS bkg_mean,
  round(CASE WHEN n_out - n_in > 0 THEN
    flux_ap - n_ap * ((flux_out - flux_in) / (n_out - n_in)) END, 9)
    AS net_flux
FROM a JOIN i ON a.target_id = i.target_id AND a.image_id = i.image_id
JOIN o ON a.target_id = o.target_id AND a.image_id = o.image_id"""


DIFF_MAX_ID = 600
DIFF_EPOCH_OFFSET = 7777
DIFF_THRESHOLD = 10


def _photometric_epoch(spark: SparkSession, sf_dir: str, max_id: int,
                       offset: int) -> DataFrame:
    """Image table whose pixels follow synth_image_photometric(id +
    offset): two offsets = two epochs of the same pointings with
    different (but SQL-replayable) pixels."""
    from spatialindex_spark.sources import imaging

    meta = _img_meta(spark, sf_dir).filter(F.col("image_id") <= max_id)

    def gen(batches):
        for b in batches:
            out = {"image_id": [], "bytes": [], "w": [], "h": [],
                   "fmt": []}
            for r in b.itertuples(index=False):
                fmt = ("raw", "z")[int(r.image_id) % 2]   # lossless only
                img = imaging.synth_image_photometric(
                    int(r.image_id) + offset, int(r.w), int(r.h))
                out["image_id"].append(int(r.image_id))
                out["bytes"].append(imaging.encode(img, fmt))
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(fmt)
            yield pd.DataFrame(out)

    return meta.mapInPandas(
        gen, "image_id long, bytes binary, w int, h int, fmt string")


def _q_diff_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference imaging (operators/detect.py:diff_image): two
    photometric-formula epochs of the same pointings subtracted per
    pair; every residual statistic is an exact integer the oracle
    replays as a lateral range x range aggregation of the two pixel
    formulas."""
    from spatialindex_spark.operators.detect import diff_image

    a = _photometric_epoch(spark, sf_dir, DIFF_MAX_ID, 0)
    b = _photometric_epoch(spark, sf_dir, DIFF_MAX_ID, DIFF_EPOCH_OFFSET)
    return diff_image(a, b, threshold=DIFF_THRESHOLD)


def _diff_image_sql() -> str:
    return f"""
WITH imgs AS (
  SELECT o_orderkey AS image_id,
         CASE o_orderkey % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (o_orderkey // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64
           END AS h
  FROM orders WHERE o_orderkey <= {DIFF_MAX_ID}),
px AS (
  SELECT image_id, w, h,
         (image_id * 31 + xs * 7 + ys * 13) % 251 AS da,
         ((image_id + {DIFF_EPOCH_OFFSET}) * 31 + xs * 7 + ys * 13) % 251
           AS db
  FROM imgs, unnest(range(0, w)) AS t1(xs), unnest(range(0, h)) AS t2(ys))
SELECT image_id, TRUE AS shape_ok, (w * h)::BIGINT AS npix,
  SUM(CASE WHEN ABS(da - db) > {DIFF_THRESHOLD} THEN 1 ELSE 0 END)::BIGINT
    AS n_above,
  SUM(ABS(da - db))::BIGINT AS sum_abs,
  MAX(ABS(da - db))::BIGINT AS max_abs,
  SUM(da - db)::BIGINT AS flux_diff
FROM px GROUP BY image_id, w, h"""


DETECT_XMATCH_RADIUS = 1.5


def _q_detect_xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end alert pipeline (stage INTERACTION gate, like
    train_pipeline): pixels -> detected sources (source_detect) ->
    crossmatch (J3) against the customer catalog. The oracle replays
    the full chain in SQL — planted-spike arithmetic, inverse-TAN
    astrometry, then the exact dot-product distance filter."""
    from spatialindex_spark.operators.joins import crossmatch

    det = _q_source_detect(spark, sf_dir).select(
        "image_id", "src_x", "src_y",
        F.col("src_ra").alias("ra"), F.col("src_dec").alias("dec"))
    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    cm = crossmatch(det, cust, radius_deg=DETECT_XMATCH_RADIUS)
    return cm.select(F.col("image_id_l").alias("image_id"),
                     F.col("src_x_l").alias("src_x"),
                     F.col("src_y_l").alias("src_y"),
                     F.col("c_custkey_r").alias("c_custkey"))


def _q_transients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transient detection (anti-crossmatch): suppliers with NO customer
    counterpart within 1.5 deg — the complement of J3's matched-id set,
    i.e. 'new sources absent from the master catalog'. Scale shape:
    ring-keyed crossmatch -> distinct matched ids -> one left_anti join;
    no all-pairs anywhere. Oracle: NOT EXISTS over the same dot cut."""
    from spatialindex_spark.operators.joins import anti_crossmatch

    # shift the detection field 2.5 deg in ra: the supplier/customer key
    # derivations coincide for equal keys, so the unshifted field would
    # match trivially (sep 0) and gate nothing — shifted, each supplier's
    # key-twin customer sits 2.5 deg away (> radius at most decs) and
    # membership depends on real geometry at every sf
    supp = (_supplier_sky(spark, sf_dir)
            .select("s_suppkey", ((F.col("ra") + 2.5) % 360).alias("ra"),
                    "dec"))
    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    return (anti_crossmatch(supp, cust, 1.5, left_id="s_suppkey")
            .select("s_suppkey"))


# moving-object synthesis: each supplier becomes an object detected at 4
# nightly epochs, drifting at a per-object integer-derived velocity (deg/
# day per axis). Integer mods keep every constant exactly reproducible in
# SQL; the explicit ((x % 360) + 360) % 360 normalization is the same fp
# op sequence in both engines.
TRACKLET_EPOCHS = 4
TRACKLET_SPEED = 0.5          # deg/day pair-linking bound
TRACKLET_DT_MAX = 1.5         # days


def _det_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    e = F.explode(F.array(*[F.lit(i) for i in range(TRACKLET_EPOCHS)]))
    det = s.select("s_suppkey", e.alias("epoch"))
    base_ra = (F.col("s_suppkey") * F.lit(0.618034)) % 360
    base_dec = F.degrees(F.asin(
        2 * ((F.col("s_suppkey") * F.lit(0.381966)) % 1) - 1))
    vra = ((F.col("s_suppkey") * 37) % 21 - 10) * F.lit(0.02)
    vdec = ((F.col("s_suppkey") * 53) % 21 - 10) * F.lit(0.02)
    ra = ((base_ra + vra * F.col("epoch")) % 360 + 360) % 360
    dec = F.least(F.lit(89.9999), F.greatest(
        F.lit(-89.9999), base_dec + vdec * F.col("epoch")))
    return det.select(
        (F.col("s_suppkey") * 10 + F.col("epoch")).alias("det_id"),
        ra.alias("ra"), dec.alias("dec"),
        F.col("epoch").cast("double").alias("t_days"))


def _q_tracklets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-object tracklet seeds: ordered detection pairs within
    dt <= 1.5 days whose separation a <= 0.5 deg/day mover could cover.
    One ring-keyed crossmatch at the max reach (0.75 deg) + pure-Column
    cos-domain speed residual — the spatiotemporal pair-finding primitive
    of an asteroid pipeline, no all-pairs join anywhere. The oracle
    replays the epoch synthesis and the predicate over all pairs."""
    from spatialindex_spark.operators.timedomain import tracklets

    det = _det_moving(spark, sf_dir)
    return tracklets(det, TRACKLET_SPEED, TRACKLET_DT_MAX,
                     det_id="det_id", time_col="t_days")


LC_RADIUS = 0.01


def _q_lightcurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object photometric lightcurves: each order is a 'detection' of
    its parent customer (position = parent sky position + an integer-
    derived sub-arcsec jitter, flux = o_totalprice, epoch = o_orderdate);
    detections best_match into the customer catalog, then one partial-agg
    groupBy folds them into n_det / exact-integer flux stats / span_days.
    Gates the J3-window-agg interaction; flux sums are quantized to cents
    before aggregation so the mean is order-independent and the DuckDB
    oracle hash-matches bit-for-bit."""
    from spatialindex_spark.operators.timedomain import lightcurves

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base_ra = (F.col("o_custkey") * F.lit(0.618034)) % 360
    base_dec = F.degrees(F.asin(
        2 * ((F.col("o_custkey") * F.lit(0.381966)) % 1) - 1))
    jra = ((F.col("o_orderkey") % 1000) - 500) * F.lit(1e-6)
    jdec = ((F.expr("o_orderkey div 7") % 1000) - 500) * F.lit(1e-6)
    det = o.select(
        F.col("o_orderkey").alias("det_id"),
        (((base_ra + jra) % 360 + 360) % 360).alias("ra"),
        F.least(F.lit(89.9999), F.greatest(F.lit(-89.9999),
                                           base_dec + jdec)).alias("dec"),
        F.col("o_totalprice").alias("flux"),
        F.col("o_orderdate").alias("t"))
    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    lc = lightcurves(det, cust, LC_RADIUS, det_id="det_id",
                     obj_id="c_custkey", flux_col="flux", time_col="t")
    return lc.select("c_custkey", "n_det", "flux_mean", "flux_min",
                     "flux_max", "flux_amp",
                     F.col("span_days").cast("long").alias("span_days"))


def _q_pm_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Associate-then-fit proper motions
    (operators/timedomain.py:proper_motions): detections drift linearly
    from their parent object (integer micro-deg per epoch tick, +-1
    quantum dither so the LSQ is genuine), best_match associates them,
    one shared-statistics groupBy fits BOTH coordinates. The oracle
    replays synthesis, the association window, and both fits; the
    planted mu must come back as the slope."""
    from spatialindex_spark.operators.timedomain import proper_motions

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base_ra = (F.col("o_custkey") * F.lit(0.618034)) % 360
    base_dec = F.degrees(F.asin(
        2 * ((F.col("o_custkey") * F.lit(0.381966)) % 1) - 1))
    tick = F.col("o_orderkey") % 12
    mu_a = (F.col("o_custkey") % 21) - 10            # micro-deg / tick
    mu_d = (F.expr("o_custkey div 3") % 21) - 10
    dith_a = (F.col("o_orderkey") * 7) % 3 - 1
    dith_d = (F.col("o_orderkey") * 11) % 3 - 1
    det = o.select(
        F.col("o_orderkey").alias("det_id"),
        (((base_ra + (mu_a * tick + dith_a) * F.lit(1e-6)) % 360 + 360)
         % 360).alias("ra"),
        F.least(F.lit(89.9999), F.greatest(
            F.lit(-89.9999),
            base_dec + (mu_d * tick + dith_d) * F.lit(1e-6))).alias("dec"),
        (tick * F.lit(3_600_000_000)).cast("long").alias("t_us"))
    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    pm = proper_motions(det, cust, LC_RADIUS, det_id="det_id",
                        obj_id="c_custkey", time_col="t_us")
    return pm.select(F.col("obj").alias("c_custkey"), "n_obs",
                     "pm_ra", "pm_dec", "ra0", "dec0")


def _pm_fit_sql() -> str:
    dot = ("cos(radians(d.dec))*cos(radians(c.dec))"
           "*cos(radians(d.ra)-radians(c.ra))"
           " + sin(radians(d.dec))*sin(radians(c.dec))")
    return f"""
WITH det AS (
  SELECT o_orderkey AS det_id,
    ((((o_custkey * 0.618034e0) % 360)
      + (((o_custkey % 21) - 10) * (o_orderkey % 12)
         + ((o_orderkey * 7) % 3 - 1)) * 0.000001) % 360 + 360) % 360
      AS ra,
    LEAST(89.9999, GREATEST(-89.9999,
      degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1))
      + ((((o_custkey // 3) % 21) - 10) * (o_orderkey % 12)
         + ((o_orderkey * 11) % 3 - 1)) * 0.000001)) AS dec,
    (o_orderkey % 12) * 3600000000 AS t_us
  FROM orders),
csky AS (
  SELECT c_custkey, (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer),
bm AS (
  SELECT c_custkey, ra, dec, t_us FROM (
    SELECT d.det_id, c.c_custkey, d.ra, d.dec, d.t_us,
      row_number() OVER (PARTITION BY d.det_id ORDER BY
        degrees(acos(least(greatest({dot}, -1.0), 1.0))) ASC,
        c.c_custkey ASC) AS rk
    FROM det d CROSS JOIN csky c
    WHERE {dot} >= cos(radians({LC_RADIUS}))
  ) WHERE rk = 1),
q AS (SELECT c_custkey, t_us // 3600000000 AS t,
        CAST(round(ra * 1000000) AS BIGINT) AS yra,
        CAST(round(dec * 1000000) AS BIGINT) AS ydec FROM bm),
g AS (SELECT c_custkey, count(*) AS n, sum(t) AS st, sum(t * t) AS stt,
        sum(yra) AS sra, sum(t * yra) AS stra,
        sum(ydec) AS sdec, sum(t * ydec) AS stdec
      FROM q GROUP BY c_custkey),
g2 AS (SELECT c_custkey, n, n::DOUBLE AS nd, st::DOUBLE AS std,
        stt::DOUBLE AS sttd, sra::DOUBLE AS srad, stra::DOUBLE AS strad,
        sdec::DOUBLE AS sdecd, stdec::DOUBLE AS stdecd FROM g),
g3 AS (SELECT *, (nd * sttd - std * std) AS den,
        (nd * strad - std * srad) AS numa,
        (nd * stdecd - std * sdecd) AS numd FROM g2)
SELECT c_custkey, n AS n_obs,
  CASE WHEN den != 0 THEN round((numa / den) / 1000000.0, 9) END AS pm_ra,
  CASE WHEN den != 0 THEN round((numd / den) / 1000000.0, 9) END
    AS pm_dec,
  CASE WHEN den != 0 THEN
    round(((srad - (numa / den) * std) / nd) / 1000000.0, 9) END AS ra0,
  CASE WHEN den != 0 THEN
    round(((sdecd - (numd / den) * std) / nd) / 1000000.0, 9) END AS dec0
FROM g3"""


def _q_minhash_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup with transitive clustering: verified near-dup
    pairs are collapsed with distributed connected components and one
    representative (min id) survives per component. Oracle replicates the
    full pipeline plus a recursive-CTE component closure."""
    from spatialindex_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (minhash_lsh_dedup(docs, threshold=0.9, transitive=True)
            .select("doc_id"))


def _q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.joins import region_join

    df = _orders_sky(spark, sf_dir).withColumn("spt_ind", F.col("htm7"))
    regions = [{"region_id": t["tile_id"], "kind": "poly",
                "ra": t["ra"], "dec": t["dec"]} for t in TILES]
    out = region_join(df, regions, level=7)
    return (out.groupBy(F.col("region_id").alias("tile_id"))
               .agg(F.count(F.lit(1)).alias("n_rows")))


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over the tile assignment (the aggregate consumer of
    the J5 raster<->vector join): per-tile count, mean/min/max of a row
    metric, distinct contributing cells — one broadcast region join + one
    partial-aggregated groupBy, the canonical two-stage raster rollup."""
    from spatialindex_spark.operators.joins import region_join

    df = _orders_sky(spark, sf_dir).withColumn("spt_ind", F.col("htm7"))
    regions = [{"region_id": t["tile_id"], "kind": "poly",
                "ra": t["ra"], "dec": t["dec"]} for t in TILES]
    out = region_join(df, regions, level=7)
    return (out.groupBy(F.col("region_id").alias("tile_id"))
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.round(F.avg("o_totalprice"), 6).alias("mean_price"),
                    F.min("o_orderkey").alias("min_key"),
                    F.max("o_orderkey").alias("max_key"))
               .orderBy("tile_id"))


def _q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 counts rollup: total rows + distinct cells at L7 (oracle checks the
    aggregate invariants; cell math itself is fixture-tested)."""
    df = _orders_sky(spark, sf_dir)
    from spatialindex_spark.operators.joins import cell_counts

    cc = cell_counts(df, "htm7")
    return cc.agg(F.sum("cnt").alias("total_rows"),
                  F.count(F.lit(1)).alias("n_cells_bound")).select(
        "total_rows")


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs).select("doc_id")


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_dedup(docs, threshold=0.9).select("doc_id")


def _q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.dedup import simhash_dedup

    # word-bag documents share vocabulary, so short shingles collapse
    # everything; 12-char shingles (~2 words) discriminate properly
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_dedup(docs, max_hamming=1, k=12).select("doc_id")


def _q_train_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline COMPOSITION gate: token-count
    filter (>= 20 ws tokens) -> test-set decontamination (8-gram vs the
    doc_id%50 eval split) -> sequence packing (ctx 256, doc_id%4 shards).
    The single-op gates prove each stage; this one proves the
    interactions — e.g. pack offsets depend on exactly which docs the
    upstream filters dropped. All stages stay JVM on the corpus side."""
    from spatialindex_spark.operators.packing import pack_sequences
    from spatialindex_spark.operators.text import (decontaminate,
                                                   with_token_count)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    toks = with_token_count(train).filter(F.col("ws_tokens") >= 20)
    clean = decontaminate(toks, eval_df, n=8)
    packed = pack_sequences(clean.withColumn("shard", F.col("doc_id") % 4),
                            tokens_col="ws_tokens", ctx_len=256,
                            shard_col="shard")
    return packed.select("doc_id", "shard", "pack_offset", "bin_start",
                         "bin_end", "bin_offset")


def _q_image_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata quality gate over a deterministically-synthesized
    (w, h, nbytes) table: too-small / too-elongated / truncated-payload
    rows flagged, all JVM Column math (oracle = the same arithmetic in
    SQL). The image bytes never enter the plan — the 100-TB shape is a
    metadata-only scan."""
    from spatialindex_spark.operators.multimodal import image_quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    imgs = docs.select(
        "doc_id",
        (32 + (F.col("doc_id") * 37) % 2000).alias("w"),
        (32 + (F.col("doc_id") * 91) % 3000).alias("h"),
        # ~0.8 bytes/pixel normally; every 13th image truncated to 1%
        F.floor(F.when(F.col("doc_id") % 13 == 0,
                       ((32 + (F.col("doc_id") * 37) % 2000)
                        * (32 + (F.col("doc_id") * 91) % 3000)) / 100)
                .otherwise(((32 + (F.col("doc_id") * 37) % 2000)
                            * (32 + (F.col("doc_id") * 91) % 3000)) * 0.8))
        .cast("long").alias("nbytes"))
    out = image_quality_filter(imgs, mark_only=True)
    return out.select("doc_id", "w", "h", "nbytes", "image_ok")


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction gate: deterministic PII (emails, IPs, long numbers)
    is appended to each doc, scrubbed with the JVM regexp chain, and the
    oracle replays the identical RE2-compatible patterns in DuckDB — the
    scrubbed text AND per-pattern counts must match byte-for-byte."""
    from spatialindex_spark.operators.text import pii_scrub

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" ref "), (F.col("doc_id") * 1000003 + 123456789)
            .cast("string")).alias("text"))
    out = pii_scrub(seeded, with_counts=True)
    return out.select("doc_id", "text", "n_email", "n_ipv4", "n_longnum")


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (13-gram collision rule): docs sharing any
    word 8-gram with the deterministic eval split (doc_id % 50 == 0) are
    flagged. Big side pure JVM (higher-order-function grams + broadcast
    probe); the oracle replays the gram join on the strings themselves, so
    the hash-probe default is value-gated end-to-end (a mismatch would
    need an xxhash64 gram collision)."""
    from spatialindex_spark.operators.text import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    out = decontaminate(train, eval_df, n=8, mark_only=True)
    return out.select("doc_id", "contaminated")


def _q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class gate for perceptual-hash IMAGE near-dup dedup
    (operators/multimodal.phash_image_dedup — banded Hamming + exact
    bit_count(xor) verify, the simhash core applied to the phash column).

    The image table is synthesized deterministically from `documents`:
    each doc becomes an image row whose 64-bit phash is two LCG halves
    (pure int64 arithmetic, no overflow — a < 2^31 so (a<<32)|b stays
    positive), and every 20th doc plants a lossy-re-encode TWIN whose
    phash differs in exactly 1-2 low-significance bits (what a JPEG
    re-encode does to a real phash, per test_phash_similarity_property).
    The oracle replays the full banded algorithm in SQL, so both the
    candidate generation and the Hamming verify are value-gated."""
    from spatialindex_spark.operators.multimodal import phash_image_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    base = docs.select(
        (F.col("doc_id") * 2).alias("image_id"),
        (F.expr("shiftleft((doc_id * 1103515245 + 12345) % 2147483647, 32)")
         .bitwiseOR(F.expr("(doc_id * 69069 + 1) % 4294967291"))
         ).alias("ph"))
    twins = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") * 2 + 1).alias("image_id"),
        (F.expr("shiftleft((doc_id * 1103515245 + 12345) % 2147483647, 32)")
         .bitwiseOR(F.expr("(doc_id * 69069 + 1) % 4294967291"))
         .bitwiseXOR(F.expr(
             "shiftleft(cast(1 as bigint), cast(doc_id % 31 as int)) + "
             "shiftleft(cast(1 as bigint), cast((doc_id + 7) % 31 as int))"))
         ).alias("ph"))
    images = base.unionAll(twins)
    out = phash_image_dedup(images, phash_col="ph", id_col="image_id",
                            band_bits=16, max_hamming=3)
    return out.select("image_id", "ph")


def _q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.similarity import brute_force_topk

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = (emb.filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = brute_force_topk(q, emb, k=5)
    return out.select("query_id", "vec_id", "rank")


#: embeddings.parquet is dim-64 at every sf (TESTDATA.md); hardcoding the
#: dim keeps oracle SQL and engine planes in lockstep and avoids an extra
#: driver-side .first() job per query.
_EMB_DIM = 64
_ANN_K = 5
_LSH_BITS = 8
_LSH_PROBE = 3


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with a machine-checked recall signal: each approximate
    top-k row carries a ``hit`` flag marking membership in the exact
    top-k (the brute-force twin, computed in-query). The DuckDB oracle
    replicates the ENTIRE pipeline — integer-quantized ternary-plane
    bucketing (exact int64 arithmetic), Hamming<=3 multiprobe, cosine
    re-rank — so a green hash certifies both bucket-spec parity and the
    measured recall@k."""
    from spatialindex_spark.operators.similarity import (
        brute_force_topk, lsh_topk)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = (emb.filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    approx = lsh_topk(q, emb, k=_ANN_K, dim=_EMB_DIM,
                      bits=_LSH_BITS, hamming_probe=_LSH_PROBE)
    exact = (brute_force_topk(q, emb, k=_ANN_K)
             .select("query_id", "vec_id", F.lit(1).alias("hit")))
    return (approx.join(exact, ["query_id", "vec_id"], "left")
            .select("query_id", "vec_id", "rank",
                    F.coalesce("hit", F.lit(0)).alias("hit")))


def _q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over INT8-quantized embeddings (the 4x-compressed store path):
    integer-dot ranking is EXACTLY replicated by the oracle (floor-based
    codes + integer dot, no float compares), and each row carries a hit
    flag vs the in-query float brute-force top-k — machine-checked
    recall@k for the quantized path."""
    from spatialindex_spark.operators.similarity import (brute_force_topk,
                                                         int8_topk)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = (emb.filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    approx = int8_topk(q, emb, k=_ANN_K)
    exact = (brute_force_topk(q, emb, k=_ANN_K)
             .select("query_id", "vec_id", F.lit(1).alias("hit")))
    return (approx.join(exact, ["query_id", "vec_id"], "left")
            .select("query_id", "vec_id", "qdot", "rank",
                    F.coalesce("hit", F.lit(0)).alias("hit")))


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over product-quantized embeddings (the 32x-compressed store
    path: m=8 one-byte codes per 64-d vector): codes, distance tables and
    ADC ranking are all integer after floor(x*1024) quantization, so the
    oracle replays them bit-exactly; each row carries a hit flag vs the
    in-query float brute-force top-k (machine-checked recall@k — low on
    the uniform-random fixture by design, see the clustered pytest for
    the recall regime PQ is built for)."""
    from spatialindex_spark.operators.similarity import (brute_force_topk,
                                                         pq_topk)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = (emb.filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    approx = pq_topk(q, emb, k=_ANN_K, dim=64)
    exact = (brute_force_topk(q, emb, k=_ANN_K)
             .select("query_id", "vec_id", F.lit(1).alias("hit")))
    return (approx.join(exact, ["query_id", "vec_id"], "left")
            .select("query_id", "vec_id", "adist", "rank",
                    F.coalesce("hit", F.lit(0)).alias("hit")))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.text import with_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_quality(docs)
    return out.select("doc_id", "n_words",
                      F.round("punct_ratio", 6).alias("punct_ratio"),
                      F.round("stopword_ratio", 6).alias("stopword_ratio"))


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.text import with_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_token_count(docs).select("doc_id", "ws_tokens", "bpe_tokens_est")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min gap):
    lag -> boundary -> running-sum windows, deterministic event_id
    tiebreak; value-oracled against the identical SQL windows."""
    from spatialindex_spark.operators.asof import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize(ev, gap_minutes=30.0)
    return (s.groupBy("user_id", "session_seq")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.min("event_id").alias("first_event"))
             .orderBy("user_id", "session_seq"))


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap (dedup-priority rate limit): keep at most 15 docs
    per source in deterministic id order. Window rank, value-oracled
    against the identical SQL window."""
    from spatialindex_spark.operators.sampling import cap_per_source

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (cap_per_source(docs, n=15)
            .select("doc_id", "source"))


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold stratified sampling per source
    (Spark 4 DataFrame.sample redraws per plan reuse — a pure id-hash
    threshold is reproducible and SQL-replayable)."""
    from spatialindex_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fr = {"src0": 0.5, "src1": 0.9, "src2": 0.25}
    return (stratified_sample(docs, fr, default_fraction=0.1)
            .select("doc_id", "source"))


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-balancing (operators/sampling.py:
    temperature_mix — the XLM-R/mT5 data-mixing sampler): T=0.5 boosts
    low-resource sources' share of a 300-row budget; the oracle replays
    the integer-quantized weight -> threshold arithmetic and the
    deterministic id-hash keep rule exactly."""
    from spatialindex_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (temperature_mix(docs, temperature=0.5, target_rows=300)
            .select("doc_id", "source"))


def _temperature_mix_sql() -> str:
    return (
        "WITH c AS (SELECT source, count(*) AS n FROM documents "
        "  GROUP BY source), "
        "w AS (SELECT source, n, "
        "  CAST(round(sqrt(n) * 1e6) AS BIGINT) AS wq FROM c), "
        "t AS (SELECT sum(wq) AS tot FROM w), "
        "thr AS (SELECT source, least(10000, CAST(round("
        "  10000 * 300 * wq / (tot * n)) AS BIGINT)) AS thr "
        "  FROM w, t) "
        "SELECT d.doc_id, d.source FROM documents d "
        "JOIN thr USING (source) "
        "WHERE ((((d.doc_id % 1000003) * 2654435761) % 999999937 "
        "  % 10000) + 10000) % 10000 < thr.thr"
    )


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics (dup lines, dup word
    5-grams, top word-2-gram share) with the documented thresholds;
    fractions rounded for float-stable oracle comparison."""
    from spatialindex_spark.operators.text import with_repetition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = with_repetition(docs)
    return r.select(
        "doc_id",
        F.round("dup_line_frac", 9).alias("dup_line_frac"),
        F.round("dup_5gram_frac", 9).alias("dup_5gram_frac"),
        F.round("top_2gram_frac", 9).alias("top_2gram_frac"),
        "repetition_ok")


def _q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (LLM pretraining op): documents
    sharded by pmod(doc_id, 4), packed into 256-token context windows by a
    window cumulative sum — bin placement is value-checked against the
    identical SQL window in DuckDB."""
    from spatialindex_spark.operators.packing import pack_sequences
    from spatialindex_spark.operators.text import with_token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = with_token_count(docs).withColumn(
        "shard", F.pmod(F.col("doc_id"), F.lit(4)).cast("long"))
    packed = pack_sequences(docs, tokens_col="ws_tokens", ctx_len=256,
                            shard_col="shard")
    return packed.select("doc_id", "shard", "pack_offset", "bin_start",
                         "bin_end", "bin_offset")


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spatialindex_spark.operators.text import with_lang_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_lang_id(docs).select("doc_id", "lang_pred")


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprints (no SQL analogue; rows-only check)."""
    from spatialindex_spark.operators.text import fingerprint_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.filter(F.octet_length("text") >= 8)  # oracle excludes short docs
            .select("doc_id", fingerprint_udf(8)(F.col("text")).alias("fp")))


def _q_ellipse_htm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-ellipse region filter (C3/F3): covering + exact quadratic
    form, both engine-side; oracle recomputes the quadratic form in SQL."""
    from spatialindex_spark.functions.regions import SphericalEllipse, htm_ellipse_ranges

    df = _orders_sky(spark, sf_dir)
    ell = _ellipse()
    from spatialindex_spark.functions.cover import ranges_predicate

    pred = ranges_predicate(F.col("htm7"), htm_ellipse_ranges(ell, 7))
    qf = (F.lit(ell.xx) * F.col("x") * F.col("x")
          + F.lit(ell.yy) * F.col("y") * F.col("y")
          + F.lit(ell.zz) * F.col("z") * F.col("z")
          + 2.0 * F.lit(ell.xy) * F.col("x") * F.col("y")
          + 2.0 * F.lit(ell.xz) * F.col("x") * F.col("z")
          + 2.0 * F.lit(ell.yz) * F.col("y") * F.col("z"))
    dp = (F.lit(ell.cen.x) * F.col("x") + F.lit(ell.cen.y) * F.col("y")
          + F.lit(ell.cen.z) * F.col("z"))
    return df.filter(pred).filter((dp >= 0) & (qf <= 0)).select("o_orderkey")


HULL_PTS = [(308.0, -33.5), (312.4, -27.2), (305.9, -29.8), (314.1, -31.0),
            (309.5, -26.4), (306.8, -34.6), (313.0, -34.1), (310.2, -30.0),
            (307.4, -27.0), (311.7, -32.8)]


def _hull():
    from spatialindex_spark.functions.regions import convex_hull

    return convex_hull([sc_to_v3(ra, dec) for ra, dec in HULL_PTS])


def _q_hull_htm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 convex hull as a region filter: hull of a scattered point set
    (mode='exact' — the reference's own closing-backtrack drops vertices,
    FIXTURES.md) -> HTM covering + half-space conjunction; the oracle
    re-evaluates the same half-spaces in SQL, so the two-phase Spark plan
    must return exactly the geometric row set."""
    from spatialindex_spark.functions.cover import htm_polygon_ranges

    df = _orders_sky(spark, sf_dir)
    from spatialindex_spark.functions.cover import ranges_predicate

    hull = _hull()
    pred = ranges_predicate(F.col("htm7"), htm_polygon_ranges(hull, 7))
    geom = None
    for e in hull.edges:
        g = (F.lit(e.x) * F.col("x") + F.lit(e.y) * F.col("y")
             + F.lit(e.z) * F.col("z")) >= 0.0
        geom = g if geom is None else (geom & g)
    return df.filter(pred).filter(geom).select("o_orderkey")


def _q_polygon_hpx(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_sky(spark, sf_dir)
    c = SI.polygon_search(POLY_RA, POLY_DEC, mode=SpatialIndex.HPX, level=7,
                          encoding=0, colname="hpx7", as_constraints=True)
    return c.filter(df).select("o_orderkey")


def _q_cone_base4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy spt_ind (BASE4 digit) encoding path: default API resolution
    (no colname/encoding) + htm_idtodec UDF column."""
    from spatialindex_spark.functions.udfs import htm_idtodec_udf

    df = _orders_sky(spark, sf_dir).withColumn(
        "spt_ind", htm_idtodec_udf(F.col("htm7")))
    c = SI.cone_search(**CONE, mode=SpatialIndex.HTM, level=7,
                       as_constraints=True)  # defaults -> BASE4 + spt_ind
    return c.filter(df).select("o_orderkey")


def _q_count_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: [lower, upper] region-count bounds from cell counts alone; the
    oracle checks the bracketing invariant lower <= true <= upper."""
    from spatialindex_spark.operators.counts import cell_count_tree, region_count_bounds

    df = _orders_sky(spark, sf_dir)
    counts = cell_count_tree(df, "htm7", level=7, min_level=7)
    b = region_count_bounds(counts, CONE["ra"], CONE["dec"], CONE["radius"], level=7)
    row = b.collect()[0]
    true_n = _q_region_count(spark, sf_dir).collect()[0]["n"]
    ok = int(row["lower"] <= true_n <= row["upper"])
    return spark.createDataFrame([(int(row["lower"] <= true_n <= row["upper"]),)],
                                 "bracket_ok int") if False else \
        spark.createDataFrame([(ok,)], "bracket_ok int")


def _q_count_bounds_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 polygon-count bounds (reference htm_tree_s2cpoly_range,
    htm.c:2115-2292): [lower, upper] from the counts table alone must
    bracket the exact scan count (also emitted and value-checked)."""
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_bounds_frame, region_geom_pred)

    df = _orders_sky(spark, sf_dir)
    counts = cell_count_tree(df, "htm7", level=7, min_level=7)
    region = {"kind": "poly", "ra": POLY_RA, "dec": POLY_DEC}
    b = region_count_bounds_frame(counts, region, level=7).collect()[0]
    exact = df.filter(region_geom_pred(region)).count()
    ok = int(b["lower"] <= exact <= b["upper"])
    return spark.createDataFrame([(ok, exact)], "bracket_ok int, n long")


def _q_count_bounds_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 ellipse-count bounds (reference htm_tree_s2ellipse_range,
    htm.c:2059-2113): bracket invariant + exact count."""
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_bounds_frame, region_geom_pred)

    df = _orders_sky(spark, sf_dir)
    counts = cell_count_tree(df, "htm7", level=7, min_level=7)
    region = {"kind": "ellipse", "ra": 200.0, "dec": 10.0,
              "a": 8.0, "b": 4.0, "angle": 30.0}
    b = region_count_bounds_frame(counts, region, level=7).collect()[0]
    exact = df.filter(region_geom_pred(region)).count()
    ok = int(b["lower"] <= exact <= b["upper"])
    return spark.createDataFrame([(ok, exact)], "bracket_ok int, n long")


def _q_count_bounds_ellipse_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 ellipse-count bounds over the TRUE-S2 Hilbert cell column: split
    covering from the quadratic-classifier BFS (s2_ellipse_ranges) —
    interior cells provably inside (all four corners in the convex
    ellipse), zero point reads for the lower bound. Counts table and
    ranges share the sign-bit bias so signed BETWEEN matches uint64 id
    order. Bracket invariant + exact count, same oracle as the HTM/HPX
    ellipse variants."""
    from spatialindex_spark.functions.udfs import s2_udf
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_bounds_frame, region_geom_pred)

    BIAS = -1 << 63
    df = _orders_sky(spark, sf_dir).withColumn(
        "s2b_7", s2_udf(7, curve="hilbert")("x", "y", "z")
        .bitwiseXOR(F.lit(BIAS)))
    counts = cell_count_tree(df, "s2b_7", level=7, min_level=7)
    region = {"kind": "ellipse", "ra": 200.0, "dec": 10.0,
              "a": 8.0, "b": 4.0, "angle": 30.0}
    b = region_count_bounds_frame(counts, region, level=7,
                                  mode=SpatialIndex.S2).collect()[0]
    exact = df.filter(region_geom_pred(region)).count()
    ok = int(b["lower"] <= exact <= b["upper"])
    return spark.createDataFrame([(ok, exact)], "bracket_ok int, n long")


def _q_count_bounds_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 cone-count bounds over the hex-H3 cell column: split cell-list
    covering (h3_cone_cells split=True) as singleton ranges — interior
    hexes answered from the counts table with zero point reads. Bracket
    invariant + exact count."""
    from spatialindex_spark.functions.udfs import h3_udf
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_bounds_frame, region_geom_pred)

    df = _orders_sky(spark, sf_dir).withColumn(
        "h3_3", h3_udf(3)("ra", "dec"))
    counts = cell_count_tree(df, "h3_3", level=3, min_level=3)
    region = {"kind": "cone", **CONE}
    b = region_count_bounds_frame(counts, region, level=3,
                                  mode=SpatialIndex.H3).collect()[0]
    exact = df.filter(region_geom_pred(region)).count()
    ok = int(b["lower"] <= exact <= b["upper"])
    return spark.createDataFrame([(ok, exact)], "bracket_ok int, n long")


def _q_count_bounds_ellipse_hpx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 ellipse-count bounds over the nested-HPX cell column: the HPX
    covering is the ellipse's bounding cone (radius a); interior cells come
    from the inscribed-cone test (center within b - max_pix_rad). Bracket
    invariant + exact count, same oracle as the HTM variant."""
    from spatialindex_spark.functions.constraints import SpatialIndex as SIc
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_bounds_frame, region_geom_pred)

    df = _orders_sky(spark, sf_dir)
    counts = cell_count_tree(df, "hpx7", level=7, min_level=7)
    region = {"kind": "ellipse", "ra": 200.0, "dec": 10.0,
              "a": 8.0, "b": 4.0, "angle": 30.0}
    b = region_count_bounds_frame(counts, region, level=7,
                                  mode=SIc.HPX).collect()[0]
    exact = df.filter(region_geom_pred(region)).count()
    ok = int(b["lower"] <= exact <= b["upper"])
    return spark.createDataFrame([(ok, exact)], "bracket_ok int, n long")


def _q_count_fast_s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 INSIDE fast path over the TRUE-S2 Hilbert cell column: interior
    cells answered from the (sign-bit-biased) counts table with zero row
    reads, exact geometry only over the boundary shell. Same oracle as
    region_count: the exact cone count."""
    from spatialindex_spark.functions.constraints import SpatialIndex as SIc
    from spatialindex_spark.functions.udfs import s2_udf
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_fast_region)

    BIAS = -1 << 63
    df = _orders_sky(spark, sf_dir).withColumn(
        "s2b_7", s2_udf(7, curve="hilbert")("x", "y", "z")
        .bitwiseXOR(F.lit(BIAS)))
    counts = cell_count_tree(df, "s2b_7", level=7, min_level=7)
    region = {"kind": "cone", **CONE}
    return region_count_fast_region(df, counts, region, level=7,
                                    cell_col="s2b_7", mode=SIc.S2)


def _q_count_fast_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 INSIDE fast path over the hex-H3 cell column: interior hexes
    (cell-list split covering) summed from the counts table, boundary
    hexes re-filtered exactly. Same oracle as polygon_htm's count."""
    from spatialindex_spark.functions.constraints import SpatialIndex as SIc
    from spatialindex_spark.functions.udfs import h3_udf
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_fast_region)

    df = _orders_sky(spark, sf_dir).withColumn(
        "h3_3", h3_udf(3)("ra", "dec"))
    counts = cell_count_tree(df, "h3_3", level=3, min_level=3)
    region = {"kind": "poly", "ra": POLY_RA, "dec": POLY_DEC}
    return region_count_fast_region(df, counts, region, level=3,
                                    cell_col="h3_3", mode=SIc.H3)


def _q_count_fast_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 INSIDE fast path for a polygon region: interior cells from the
    counts table (zero row reads), exact geometry only over the boundary
    shell — must equal the brute scan count."""
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_fast_region)

    df = _orders_sky(spark, sf_dir)
    counts = cell_count_tree(df, "htm7", level=7, min_level=7)
    region = {"kind": "poly", "ra": POLY_RA, "dec": POLY_DEC}
    return region_count_fast_region(df, counts, region, level=7,
                                    cell_col="htm7")


def _q_count_fast_hpx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 INSIDE fast path over the nested-HPX cell column (the r1 fast
    path was HTM-only): cone count = interior HPX cells from the counts
    table + exact-geometry boundary shell."""
    from spatialindex_spark.functions.constraints import SpatialIndex as SIc
    from spatialindex_spark.operators.counts import (
        cell_count_tree, region_count_fast_region)

    df = _orders_sky(spark, sf_dir)
    counts = cell_count_tree(df, "hpx7", level=7, min_level=7)
    region = {"kind": "cone", **CONE2}
    return region_count_fast_region(df, counts, region, level=7,
                                    cell_col="hpx7", mode=SIc.HPX)


def _q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 parent rollup invariant: every level's counts sum to the table
    total (oracle: counts per level == row count)."""
    from spatialindex_spark.operators.counts import cell_count_tree

    df = _orders_sky(spark, sf_dir)
    tree = cell_count_tree(df, "htm7", level=7, min_level=4)
    return (tree.groupBy("level").agg(F.sum("cnt").alias("total"))
            .orderBy("level").select("level", "total"))


_IVF_NC = 16
_IVF_NPROBE = 6


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a machine-checked recall signal (same ``hit`` contract
    as ann_lsh). The DuckDB oracle replicates centroid selection (the
    deterministic multiplicative id-hash — exact integer arithmetic),
    nearest-centroid assignment, nprobe probing, and the cosine re-rank."""
    from spatialindex_spark.operators.similarity import (
        brute_force_topk, ivf_topk)

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = (emb.filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("query_id"), "embedding"))
    approx = ivf_topk(q, emb, k=_ANN_K, dim=_EMB_DIM,
                      ncentroids=_IVF_NC, nprobe=_IVF_NPROBE)
    exact = (brute_force_topk(q, emb, k=_ANN_K)
             .select("query_id", "vec_id", F.lit(1).alias("hit")))
    return (approx.join(exact, ["query_id", "vec_id"], "left")
            .select("query_id", "vec_id", "rank",
                    F.coalesce("hit", F.lit(0)).alias("hit")))


def _q_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal over a corpus with deterministic
    planted near-duplicates (the raw table's max pair cosine is ~0.51, so
    a 0.9-threshold dedup would be vacuous). Every vec_id % 20 == 0 row
    gets a perturbed twin (elementwise integer-derived offsets — exact and
    identical in Spark and DuckDB) at cosine ~0.99. The oracle computes
    ground-truth all-pairs dedup, so a green hash PROVES the banded-LSH
    candidate generation achieved recall 1.0 on the fixture (and no false
    drops)."""
    from spatialindex_spark.operators.similarity import embedding_cosine_dedup

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>"))
           .select("vec_id", "embedding"))
    pert = F.transform(
        "embedding",
        lambda x, i: x + (((F.col("vec_id") * 7 + i * 13) % 11) - 5) / F.lit(200.0))
    dups = (emb.filter(F.col("vec_id") % 20 == 0)
            .withColumn("embedding", pert)
            .withColumn("vec_id", F.col("vec_id") + 100000))
    full = emb.unionByName(dups)
    # nbands=6 (36-bit signature): per-pair candidate-miss probability at
    # cosine ~0.9 falls from ~3e-3 (nbands=4) to ~1.6e-4, so the expected
    # misses vs the all-pairs ground-truth oracle stay << 1 through sf0.1's
    # ~250 planted twins (a 4-band run missed exactly 1 there — the LSH
    # recall tail, caught by the scale-up oracle sweep, not a logic bug)
    return embedding_cosine_dedup(full, dim=_EMB_DIM, threshold=0.9,
                                  band_bits=6, nbands=6).select("vec_id")


def _q_s2_h3_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/H3 encodes: invariants oracle-checked (count + bounds are
    SQL-expressible even though the encode is not). Covers BOTH the Z-order
    variant (s2_7) and the true Hilbert S2 encode (s2h at levels 7 and 10,
    library bit layout): every face in [0,5] (unsigned top-3-bits) and
    every level-10 id inside its level-7 parent's leaf range — the
    parent/child-containment-along-the-curve invariant."""
    from spatialindex_spark.functions.udfs import s2_udf, h3_udf

    df = _orders_sky(spark, sf_dir)
    df = (df.withColumn("s2_7", s2_udf(7)("x", "y", "z"))
            .withColumn("s2h_7", s2_udf(7, curve="hilbert")("x", "y", "z"))
            .withColumn("s2h_10", s2_udf(10, curve="hilbert")("x", "y", "z"))
            .withColumn("h3_7", h3_udf(7, grid="hpx")("ra", "dec"))
            .withColumn("h3x_7", h3_udf(7)("ra", "dec"))
            .withColumn("h3x_9", h3_udf(9)("ra", "dec")))
    # uint64 semantics via shiftrightunsigned; parent lsb at 2*(30-7)
    lsb7 = 1 << (2 * (30 - 7))
    # carry-free bitwise forms of (cell - lsb + 1) / (cell + lsb - 1): the
    # level-7 marker bit is SET and all bits below it are 0, so XOR clears
    # it exactly and OR fills the child field — signed +/- on ids near the
    # face-3 top (just below 2^63) overflows under ANSI mode (first hit at
    # sf0.1's denser sky sampling; caught by the scale-up oracle run)
    parent_lo = F.col("s2h_7").bitwiseXOR(F.lit(lsb7)).bitwiseOR(F.lit(1))
    parent_hi = F.col("s2h_7").bitwiseOR(F.lit(lsb7 - 1))
    # ids are uint64 bit patterns in signed longs; within one face the sign
    # is constant, so BETWEEN on the signed value is order-correct here
    contained = F.col("s2h_10").between(parent_lo, parent_hi)
    face_ok = F.shiftrightunsigned("s2h_7", 61) <= 5
    # true aperture-7 hex ids (h3s2.h3_hex_id layout): mode nibble 1 at
    # bits 59-62, res at 55-58, base < 980 at 45-54, digits<=6 down to the
    # id's res, all-7s padding below — every one construction-guaranteed,
    # so the oracle emits constant 1s
    def _lit(v):
        return F.lit(v).cast("long")

    def _hex_ok(col, res):
        ok = (F.col(col) > 0) \
            & (F.shiftright(F.col(col), 59).bitwiseAND(_lit(15)) == 1) \
            & (F.shiftright(F.col(col), 55).bitwiseAND(_lit(15)) == res) \
            & (F.shiftright(F.col(col), 45).bitwiseAND(_lit(1023)) < 980) \
            & (F.col(col).bitwiseAND(_lit((1 << (3 * (15 - res))) - 1))
               == (1 << (3 * (15 - res))) - 1)
        for rr in range(1, res + 1):
            ok = ok & (F.shiftright(F.col(col), 3 * (15 - rr))
                       .bitwiseAND(_lit(7)) <= 6)
        return ok
    hex_ok = _hex_ok("h3x_7", 7) & _hex_ok("h3x_9", 9)
    hex_base = F.shiftright(F.col("h3x_7"), 45).bitwiseAND(_lit(1023))
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        (F.min("s2_7") >= 0).cast("int").alias("s2_min_ok"),
        (F.max("s2_7") < 6 * (4 ** 7)).cast("int").alias("s2_max_ok"),
        (F.count(F.when(F.shiftright(F.col("h3_7"), 56) == 7, 1))
         == F.count(F.lit(1))).cast("int").alias("h3_res_ok"),
        (F.count(F.when(face_ok, 1)) == F.count(F.lit(1)))
        .cast("int").alias("s2h_face_ok"),
        (F.count(F.when(contained, 1)) == F.count(F.lit(1)))
        .cast("int").alias("s2h_contain_ok"),
        (F.count(F.when(hex_ok, 1)) == F.count(F.lit(1)))
        .cast("int").alias("h3x_ok"),
        # sky-uniform rows must spread across many of the 280 face-local
        # base cells (full-sky coverage signal, not just bit-shape)
        (F.countDistinct(hex_base) >= 20).cast("int").alias("h3x_spread_ok"),
    )


def _q_angsep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 angular separation kernel vs SQL haversine-free formula."""
    from spatialindex_spark.functions.udfs import angsep_udf

    # key-filtered (not LIMIT) so both engines see the identical subset
    df = _orders_sky(spark, sf_dir).filter(F.col("o_orderkey") <= 2000)
    v = sc_to_v3(CONE["ra"], CONE["dec"])
    out = df.withColumn(
        "sep",
        F.round(angsep_udf("x", "y", "z",
                           F.lit(v.x), F.lit(v.y), F.lit(v.z)), 9))
    return out.select("o_orderkey", "sep")


def _q_h3_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex k-ring invariants through the driver gate (previously
    pytest-only): for every orders-sky point at res 4, kring(1) must (a)
    lead with the cell itself, (b) contain only well-formed hex ids at
    the same res (or -1 face-clip sentinels), (c) hold 1..7 distinct
    valid members. All construction-guaranteed, so the oracle emits
    count(*) per flag."""
    from pyspark.sql.pandas.functions import pandas_udf

    df = _orders_sky(spark, sf_dir)

    @pandas_udf("long")
    def flags(ra: pd.Series, dec: pd.Series) -> pd.Series:
        import numpy as np

        from spatialindex_spark.functions.h3s2 import (h3_hex_id,
                                                       h3_hex_kring)

        ids = h3_hex_id(ra.values, dec.values, 4)
        ring = h3_hex_kring(ids, 1)
        valid = ring >= 0
        nval = valid.sum(axis=1)
        mode = (ring >> 59) & 0xF
        res = (ring >> 55) & 0xF
        layout_ok = ((mode == 1) & (res == 4) | ~valid).all(axis=1)
        srt = np.sort(ring, axis=1)
        dup = ((srt[:, 1:] == srt[:, :-1]) & (srt[:, 1:] >= 0)).any(axis=1)
        packed = ((ring[:, 0] == ids).astype("int64")
                  | (layout_ok.astype("int64") << 1)
                  | ((~dup).astype("int64") << 2)
                  | (((nval >= 1) & (nval <= 7)).astype("int64") << 3))
        return pd.Series(packed)

    f = df.select(flags("ra", "dec").alias("_f"))
    bit = lambda i: F.shiftright(F.col("_f"), i).bitwiseAND(F.lit(1))  # noqa: E731
    return f.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bit(0)).alias("n_self_ok"),
        F.sum(bit(1)).alias("n_layout_ok"),
        F.sum(bit(2)).alias("n_distinct_ok"),
        F.sum(bit(3)).alias("n_nvalid_ok"))


def _q_pm_xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-propagated crossmatch (operators/timedomain.py:pm_crossmatch):
    suppliers carry deterministic key-derived proper motions, advance 10
    years, then match the customer catalog at the target epoch. The
    oracle replays the identical linear propagation + dot predicate over
    all pairs. Movers are kept off the poles (|dec| <= 85) so the linear
    model's validity precondition holds in both engines."""
    from spatialindex_spark.operators.timedomain import pm_crossmatch

    supp = (_supplier_sky(spark, sf_dir)
            .filter(F.abs(F.col("dec")) <= 85.0)
            .withColumn("pm_ra",
                        ((F.col("s_suppkey") % 17) - 8) * 0.01)
            .withColumn("pm_dec",
                        ((F.col("s_suppkey") % 13) - 6) * 0.01)
            .select("s_suppkey", "ra", "dec", "pm_ra", "pm_dec"))
    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    cm = pm_crossmatch(supp, cust, radius_deg=1.5, dt_years=10.0)
    return cm.select("s_suppkey_l", "c_custkey_r")


def _pm_xmatch_sql() -> str:
    dot = ("cos(radians(s.dec))*cos(radians(c.dec))"
           "*cos(radians(s.ra)-radians(c.ra))"
           " + sin(radians(s.dec))*sin(radians(c.dec))")
    return (
        f"{_CUST_CTE}, "
        "smov AS (SELECT s_suppkey, ra, dec, "
        "  ((s_suppkey % 17) - 8) * 0.01e0 AS pm_ra, "
        "  ((s_suppkey % 13) - 6) * 0.01e0 AS pm_dec "
        "  FROM ssky WHERE abs(dec) <= 85.0), "
        "sprop AS (SELECT s_suppkey, "
        "  ((ra + pm_ra * 10.0 / cos(radians(dec))) % 360.0 + 360.0) "
        "    % 360.0 AS ra, "
        "  dec + pm_dec * 10.0 AS dec FROM smov) "
        "SELECT s.s_suppkey AS s_suppkey_l, c.c_custkey AS c_custkey_r "
        f"FROM sprop s, csky c WHERE {dot} >= cos(radians(1.5))"
    )


MOC_CONE_A = dict(ra=129.4, dec=43.7, radius=10.0)
MOC_CONE_B = dict(ra=140.0, dec=48.0, radius=9.0)
MOC_POLY_RA = [126.0, 136.0, 136.0, 126.0]
MOC_POLY_DEC = [40.0, 40.0, 48.0, 48.0]


def _q_moc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed MOC normalization (operators/moc.py): occupied order-6
    pixels (hash-derived so DuckDB can replay the ALGEBRA exactly — the
    geometric hpx encode is golden-tested bit-exactly elsewhere) rolled
    bottom-up into multi-order normal form: no 4 complete siblings
    survive unmerged. The oracle replays the merge chain as a static CTE
    ladder, one level per order."""
    from spatialindex_spark.operators.moc import moc_from_pixels

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pixed = orders.select(
        ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(49152))
        .alias("_pix"))
    return moc_from_pixels(pixed, "_pix", 6)


def _q_moc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-algebra filter: orders-sky rows inside
    (cone A ∪ cone B) \\ polygon P, pruned by the MOC
    union(covA, covB) − inner(P) at order 7 (difference may remove only
    certainly-interior cells, so the coarse set stays a superset), then
    the exact JVM residual. The oracle is pure exact geometry — any
    union/difference unsoundness surfaces as missing rows."""
    from spatialindex_spark.functions.cover import (hpx_cone_ranges,
                                                    polygon_normals)
    from spatialindex_spark.operators.counts import region_split_ranges
    from spatialindex_spark.operators.moc import (moc_filter,
                                                  ranges_difference,
                                                  ranges_union)

    df = _orders_sky(spark, sf_dir)
    cov_a = hpx_cone_ranges(7, MOC_CONE_A["ra"], MOC_CONE_A["dec"],
                            MOC_CONE_A["radius"], exact_ends=True)
    cov_b = hpx_cone_ranges(7, MOC_CONE_B["ra"], MOC_CONE_B["dec"],
                            MOC_CONE_B["radius"], exact_ends=True)
    inner_p, _ = region_split_ranges(
        dict(kind="poly", ra=MOC_POLY_RA, dec=MOC_POLY_DEC), 7,
        SpatialIndex.HPX)
    moc = ranges_difference(ranges_union(cov_a, cov_b), inner_p)

    x, y, z = F.col("x"), F.col("y"), F.col("z")

    def in_cone(c):
        cx, cy, cz, cosr = _cone_vec(c["ra"], c["dec"], c["radius"])
        return (x * cx + y * cy + z * cz) >= cosr

    in_poly = None
    for n in polygon_normals(MOC_POLY_RA, MOC_POLY_DEC):
        p = (x * float(n.x) + y * float(n.y) + z * float(n.z)) >= 0.0
        in_poly = p if in_poly is None else (in_poly & p)

    coarse = moc_filter(df, moc, "hpx7")
    return (coarse.filter((in_cone(MOC_CONE_A) | in_cone(MOC_CONE_B))
                          & ~in_poly)
            .select("o_orderkey"))


def _q_density_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive multi-order density map (operators/moc.py:density_mom):
    every emitted cell is the highest-order ancestor whose full count
    fits the budget — dense sky refines, sparse sky stays coarse. Same
    hash-derived pixels as moc_rollup so DuckDB replays the full-sum
    ladder + emission rule exactly."""
    from spatialindex_spark.operators.moc import density_mom

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pixed = orders.select(
        ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(49152))
        .alias("_pix"))
    return density_mom(pixed, "_pix", 6, max_count=50)


def _density_mom_sql(t: int = 10) -> str:
    parts = ["WITH p6 AS (SELECT (o_orderkey * 2654435761) % 49152 AS pix"
             " FROM orders)",
             "c6 AS (SELECT pix, count(*)::BIGINT AS n FROM p6 GROUP BY pix)"]
    for o in range(6, 0, -1):
        parts.append(
            f"c{o - 1} AS (SELECT pix // 4 AS pix, sum(n)::BIGINT AS n "
            f"FROM c{o} GROUP BY pix // 4)")
    emits = [f"SELECT 6 AS moc_order, pix, n FROM c6 "
             f"WHERE pix // 4 IN (SELECT pix FROM c5 WHERE n > {t})"]
    for o in range(5, 0, -1):
        emits.append(
            f"SELECT {o} AS moc_order, pix, n FROM c{o} WHERE n <= {t} "
            f"AND pix // 4 IN (SELECT pix FROM c{o - 1} WHERE n > {t})")
    emits.append(f"SELECT 0 AS moc_order, pix, n FROM c0 WHERE n <= {t}")
    return ", ".join(parts) + " " + " UNION ALL ".join(emits)


def _q_zone_xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-algorithm crossmatch (operators/zones.py): the Gray/Szalay
    dec-band strategy for the SAME pair semantics as the cell-keyed
    crossmatch — the oracle is literally the crossmatch oracle, so the
    driver gate doubles as a cross-strategy equality witness."""
    from spatialindex_spark.operators.zones import zone_crossmatch

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    supp = _supplier_sky(spark, sf_dir).select("s_suppkey", "ra", "dec")
    zm = zone_crossmatch(cust, supp, 1.5)
    return zm.select("c_custkey_l", "s_suppkey_r")


_EPOCH_SQL = "epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')"
_LS_FREQS = [0.5, 1.0, 1.7, 2.3, 3.0]


def _events_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a per-user time series: t in micros since 2024-01-01
    (timestamp_diff of two session-tz-parsed operands — the tz shift
    cancels, matching DuckDB's naive epoch_us difference)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t_us = F.timestamp_diff(
        "MICROSECOND", F.lit("2024-01-01").cast("timestamp"), F.col("ts"))
    return ev.select("user_id", t_us.alias("t_us"), "value")


def _q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb-Scargle periodogram (operators/timedomain.py:lomb_scargle)
    over the events table as per-user lightcurves: exact int64-quantized
    trig sums -> the tau-free GLS power, bit-replayed by DuckDB."""
    from spatialindex_spark.operators.timedomain import lomb_scargle

    ser = _events_series(spark, sf_dir).select(
        "user_id", (F.col("t_us") / F.lit(86400000000.0)).alias("t"),
        "value")
    ls = lomb_scargle(ser, "user_id", "t", "value", _LS_FREQS)
    return ls.select(F.col("key").alias("user_id"), "freq", "n_obs",
                     "power")


def _periodogram_sql() -> str:
    import math as _m

    vals = ", ".join(
        f"({f!r}::DOUBLE, {_m.tau * f!r}::DOUBLE)" for f in _LS_FREQS)
    # fixed-shape centered moments: textual mirror of lomb_scargle()
    yc_ = "(yc - (sy * c1) / n)"
    ys_ = "(ys - (sy * s1) / n)"
    cc_ = "(cc - (c1 * c1) / n)"
    ss_ = "(ss - (s1 * s1) / n)"
    cs_ = "(cs - (c1 * s1) / n)"
    yy_ = "(syy - (sy * sy) / n)"
    d_ = f"({cc_} * {ss_} - {cs_} * {cs_})"
    num = (f"({ss_} * ({yc_} * {yc_}) - (2.0 * {cs_}) * ({yc_} * {ys_})"
           f" + {cc_} * ({ys_} * {ys_}))")
    return (
        "WITH base AS (SELECT user_id, value, "
        f"({_EPOCH_SQL}) / 86400000000.0 AS t FROM events), "
        f"f(freq, w) AS (VALUES {vals}), "
        "r0 AS (SELECT user_id, freq, "
        "CAST(round(value * 100) AS BIGINT) AS yq, "
        "CAST(round(cos(w * t) * 1000000.0) AS BIGINT) AS c, "
        "CAST(round(sin(w * t) * 1000000.0) AS BIGINT) AS s "
        "FROM base, f), "
        "g AS (SELECT user_id, freq, count(*)::BIGINT AS n, "
        "sum(yq) AS sy, sum(yq * yq) AS syy, sum(c) AS c1, sum(s) AS s1, "
        "sum(yq * c) AS yc, sum(yq * s) AS ys, sum(c * c) AS cc, "
        "sum(s * s) AS ss, sum(c * s) AS cs FROM r0 GROUP BY user_id, freq) "
        "SELECT user_id, freq, n AS n_obs, "
        f"round(CASE WHEN {d_} <> 0 AND {yy_} <> 0 "
        f"THEN {num} / ({d_} * {yy_}) END, 9) AS power FROM g"
    )


def _q_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user variability summary (timedomain.py:variability_stats):
    von Neumann eta + exact-quantized mean/variance/amplitude."""
    from spatialindex_spark.operators.timedomain import variability_stats

    ser = _events_series(spark, sf_dir)
    vs = variability_stats(ser, "user_id", "t_us", "value")
    return vs.select(F.col("key").alias("user_id"), "n_obs", "mean_y",
                     "var_y", "amp_y", "eta")


def _variability_sql() -> str:
    ssq = "(syy - (sy * sy) / n)"
    return (
        "WITH base AS (SELECT user_id, "
        f"{_EPOCH_SQL} AS t, "
        "CAST(round(value * 100) AS BIGINT) AS yq FROM events), "
        "lagd AS (SELECT user_id, yq, yq - lag(yq) OVER "
        "(PARTITION BY user_id ORDER BY t, yq) AS d FROM base), "
        "g AS (SELECT user_id, count(*)::BIGINT AS n, sum(yq) AS sy, "
        "sum(yq * yq) AS syy, min(yq) AS mn, max(yq) AS mx, "
        "sum(d * d) AS sd2 FROM lagd GROUP BY user_id) "
        "SELECT user_id, n AS n_obs, "
        "round((sy / n) / 100.0, 9) AS mean_y, "
        f"round(CASE WHEN n > 1 THEN ({ssq} / (n - 1)) / 10000.0 END, 9) "
        "AS var_y, "
        "(mx - mn) / 100.0 AS amp_y, "
        f"round(CASE WHEN n > 1 AND {ssq} <> 0 THEN sd2 / {ssq} END, 9) "
        "AS eta FROM g"
    )


def _q_galactic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equatorial -> galactic frame transform (geometry.py:
    equ_to_gal_cols): map-only JVM rotation, SQL-replayed with the same
    literal matrix."""
    from spatialindex_spark.functions.geometry import equ_to_gal_cols

    cust = _customer_sky(spark, sf_dir)
    glon, glat = equ_to_gal_cols(F.col("ra"), F.col("dec"))
    return cust.select("c_custkey", F.round(glon, 6).alias("glon"),
                       F.round(glat, 6).alias("glat"))


def _galactic_sql() -> str:
    from spatialindex_spark.functions.geometry import GAL_ROT

    (r0, r1, r2) = GAL_ROT
    x = "(cos(radians(dec)) * cos(radians(ra)))"
    y = "(cos(radians(dec)) * sin(radians(ra)))"
    z = "(sin(radians(dec)))"
    xg = f"({r0[0]!r} * {x} + {r0[1]!r} * {y} + {r0[2]!r} * {z})"
    yg = f"({r1[0]!r} * {x} + {r1[1]!r} * {y} + {r1[2]!r} * {z})"
    zg = f"({r2[0]!r} * {x} + {r2[1]!r} * {y} + {r2[2]!r} * {z})"
    glon = f"fmod(fmod(degrees(atan2({yg}, {xg})), 360.0) + 360.0, 360.0)"
    glat = f"degrees(asin(least(1.0, greatest(-1.0, {zg}))))"
    return (
        f"{_CUST_CTE} SELECT c_custkey, round({glon}, 6) AS glon, "
        f"round({glat}, 6) AS glat FROM csky"
    )


def _q_map_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ring-1 disc smoothing of a HEALPix density map
    (operators/counts.py:map_smooth): the hash-pixel orders density at
    level 1 smoothed over present disc cells. The oracle takes the disc
    topology as a literal (center, nbr) table from the golden-tested
    neighbor kernel and replays the join + exact-integer mean."""
    from spatialindex_spark.operators.counts import map_smooth

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = (orders.select(((F.col("o_orderkey") * F.lit(2654435761))
                        % F.lit(48)).alias("pix"))
         .groupBy("pix").agg(F.count(F.lit(1)).alias("n")))
    return map_smooth(m, 1, quant=1)


def _map_smooth_sql() -> str:
    import numpy as np

    from spatialindex_spark.operators.joins import _hpx_neighbors

    nbrs = _hpx_neighbors(1, np.arange(48, dtype=np.int64))
    pairs = sorted({(int(c), int(x))
                    for c in range(48)
                    for x in set(nbrs[c].tolist()) | {c}})
    vals = ", ".join(f"({c}, {x})" for c, x in pairs)
    return (
        "WITH m AS (SELECT (o_orderkey * 2654435761) % 48 AS pix, "
        "count(*)::BIGINT AS n FROM orders GROUP BY 1), "
        f"nb(c, nbr) AS (VALUES {vals}), "
        "g AS (SELECT c, sum(n) AS s, count(*)::BIGINT AS n_disc "
        "FROM nb JOIN m ON m.pix = nb.nbr GROUP BY c) "
        "SELECT g.c AS pix, n_disc, round((s / n_disc) / 1.0, 9) AS smooth "
        "FROM g JOIN (SELECT DISTINCT pix FROM m) mm ON g.c = mm.pix"
    )


_LS_EDGES = [0.5, 1.0, 2.0, 4.0]


def _corr_catalogs(spark: SparkSession, sf_dir: str):
    """Data catalog: every-2nd customer on the standard sky; random
    catalog: every-3rd customer on an independent hash sky."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    data = (c.where(F.col("c_custkey") % 2 == 0)
            .select(F.col("c_custkey").alias("id"),
                    ((F.col("c_custkey") * F.lit(0.618034)) % 360)
                    .alias("ra"),
                    F.degrees(F.asin(
                        2 * ((F.col("c_custkey") * F.lit(0.381966)) % 1)
                        - 1)).alias("dec")))
    rand = (c.where(F.col("c_custkey") % 3 == 0)
            .select(F.col("c_custkey").alias("id"),
                    ((F.col("c_custkey") * F.lit(0.354813)) % 360)
                    .alias("ra"),
                    F.degrees(F.asin(
                        2 * ((F.col("c_custkey") * F.lit(0.708204)) % 1)
                        - 1)).alias("dec")))
    return data, rand


def _q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-point angular correlation (operators/correlation.py): the
    Landy-Szalay w(theta) estimator — three ring-keyed pair scans, bins
    assigned in the dot domain against shared cos(edge) literals."""
    from spatialindex_spark.operators.correlation import landy_szalay

    data, rand = _corr_catalogs(spark, sf_dir)
    return landy_szalay(data, rand, _LS_EDGES, "id", "id")


def _correlation_sql() -> str:
    import math as _m

    cos_edges = [_m.cos(_m.radians(e)) for e in _LS_EDGES]
    nb = len(_LS_EDGES) - 1
    dot = ("cos(radians(a.dec))*cos(radians(b.dec))"
           "*cos(radians(a.ra)-radians(b.ra))"
           "+ sin(radians(a.dec))*sin(radians(b.dec))")
    case = "CASE " + " ".join(
        f"WHEN dot <= {cos_edges[i]!r} AND dot > {cos_edges[i + 1]!r} "
        f"THEN {i}" for i in range(nb)) + " END"
    vals = ", ".join(
        f"({i}, {_LS_EDGES[i]!r}::DOUBLE, {_LS_EDGES[i + 1]!r}::DOUBLE)"
        for i in range(nb))

    def pairs(x, y, self_excl):
        w = f"WHERE {'a.id <> b.id' if self_excl else 'TRUE'}"
        return (f"SELECT bin, count(*)::BIGINT AS n FROM (SELECT {case} "
                f"AS bin FROM (SELECT {dot} AS dot FROM {x} a, {y} b "
                f"{w}) ) WHERE bin IS NOT NULL GROUP BY bin")

    ddd = "((SELECT count(*) FROM d) * ((SELECT count(*) FROM d) - 1))"
    drd = "((SELECT count(*) FROM d) * (SELECT count(*) FROM r))"
    rrd = "((SELECT count(*) FROM r) * ((SELECT count(*) FROM r) - 1))"
    return (
        "WITH d AS (SELECT c_custkey AS id, "
        "(c_custkey * 0.618034e0) % 360 AS ra, "
        "degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec "
        "FROM customer WHERE c_custkey % 2 = 0), "
        "r AS (SELECT c_custkey AS id, "
        "(c_custkey * 0.354813e0) % 360 AS ra, "
        "degrees(asin(2 * ((c_custkey * 0.708204e0) % 1) - 1)) AS dec "
        "FROM customer WHERE c_custkey % 3 = 0), "
        f"dd AS ({pairs('d', 'd', True)}), "
        f"dr AS ({pairs('d', 'r', False)}), "
        f"rr AS ({pairs('r', 'r', True)}), "
        f"bins(bin, theta_lo, theta_hi) AS (VALUES {vals}) "
        "SELECT bins.bin, theta_lo, theta_hi, "
        "COALESCE(dd.n, 0) AS n_dd, COALESCE(dr.n, 0) AS n_dr, "
        "COALESCE(rr.n, 0) AS n_rr, "
        "round(CASE WHEN COALESCE(rr.n, 0) > 0 THEN "
        f"(COALESCE(dd.n, 0) / {ddd} - 2.0 * (COALESCE(dr.n, 0) / {drd}) "
        f"+ COALESCE(rr.n, 0) / {rrd}) / (COALESCE(rr.n, 0) / {rrd}) "
        "END, 9) AS w_ls "
        "FROM bins LEFT JOIN dd ON bins.bin = dd.bin "
        "LEFT JOIN dr ON bins.bin = dr.bin "
        "LEFT JOIN rr ON bins.bin = rr.bin"
    )


def _q_fof_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friends-of-friends object association (operators/fof.py): customer
    detections within 2 deg link transitively into objects; per-object
    member count + spherical-mean centroid. The oracle replays the link
    graph with an exact all-pairs join and a recursive-CTE closure.

    The catalog is pinned to the first 1500 ids (= ALL customers at the
    sf0.01 driver gate, so gate results are unchanged): above ~1500
    points the 2-deg graph percolates (mean degree > 1) into a giant
    component, and the recursive-CTE closure — fine for the engine's
    contraction CC, which this query gates — goes quadratic in the
    ORACLE; the operator's own scale behavior is covered by
    test_fof_planted_clusters + the conn_components contraction tests."""
    from spatialindex_spark.operators.fof import fof_objects

    cust = (_customer_sky(spark, sf_dir)
            .where(F.col("c_custkey") <= 1500)
            .select("c_custkey", "ra", "dec"))
    return fof_objects(cust, 2.0, "c_custkey")


def _q_conn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components over a deterministic pair graph
    (dedup-cluster labeling). Edges link consecutive doc_ids whose token
    counts fall in the same parity bucket, producing non-trivial chains;
    the oracle computes the same components with a recursive CTE."""
    from spatialindex_spark.operators.graph import connected_components
    from spatialindex_spark.operators.text import with_token_count

    docs = with_token_count(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "text")
    d = docs.select("doc_id", (F.col("ws_tokens") % 2).alias("_b"))
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"),
                   F.col("_b").alias("_b2"))
    edges = (d.join(nxt, "doc_id")
             .filter(F.col("_b") == F.col("_b2"))
             .select(F.col("doc_id").alias("id_a"),
                     (F.col("doc_id") + 1).alias("id_b")))
    return connected_components(edges).orderBy("id")


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event joins its user's latest prior (or
    simultaneous) view event. Oracle is DuckDB's native ASOF JOIN."""
    from spatialindex_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
              .select("user_id", "ts", "event_id", "value")
    out = asof_join(clicks, views, ts="ts", by="user_id",
                    right_cols=["event_id", "value"])
    return out.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_asof").alias("view_id"),
        F.round(F.col("value_asof"), 6).alias("view_value"))


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks landing within 1 hour after each view of the
    same user (bucket-quantized hash equi-join + exact BETWEEN residual —
    never a nested-loop range join). Oracle is a plain inequality join."""
    from spatialindex_spark.operators.ranges import interval_point_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"), "user_id",
                     F.col("ts").alias("start"),
                     (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
    out = interval_point_join(views, clicks, by="user_id", bucket="1 hour")
    return out.select(F.col("view_id_l").alias("view_id"),
                      F.col("click_id_r").alias("click_id"))


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event rollup (streaming-semantics batch twin)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 6).alias("sum_value"))
              .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value"))


def _q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup signal (operators/dedup.py:
    paragraph_dup_fraction — RefinedWeb/CCNet-style): documents are
    augmented into multi-paragraph form with PLANTED cross-document
    shared paragraphs (7 classes + a tail every 5th doc), and the
    operator's two-xxhash64 duplicate marking must equal the oracle's
    TRUE string-equality computation — the oracle gates the hash-pair
    proxy itself."""
    from spatialindex_spark.operators.dedup import paragraph_dup_fraction

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit("\n\n"),
            F.concat(F.lit("shared-"), (F.col("doc_id") % 7)), F.lit("\n\n"),
            F.substring("text", 41, 40),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n\nshared-tail"))
            .otherwise(F.lit(""))).alias("text"))
    return paragraph_dup_fraction(aug)


def _para_dedup_sql() -> str:
    return (
        "WITH aug AS (SELECT doc_id, "
        "  text[1:40] || chr(10) || chr(10) || "
        "  'shared-' || (doc_id % 7) || chr(10) || chr(10) || "
        "  text[41:80] || "
        "  CASE WHEN doc_id % 5 = 0 THEN chr(10)||chr(10)||'shared-tail' "
        "       ELSE '' END AS text FROM documents), "
        "p AS (SELECT doc_id, unnest(string_split_regex(text, "
        "  '\\n{2,}|\\r\\n\\r\\n')) AS para FROM aug), "
        "n AS (SELECT doc_id, "
        "  lower(trim(regexp_replace(para, '\\s+', ' ', 'g'))) AS pn "
        "  FROM p), "
        "f AS (SELECT doc_id, pn FROM n WHERE length(pn) >= 1), "
        "d AS (SELECT pn, count(DISTINCT doc_id) AS ndocs FROM f "
        "  GROUP BY pn) "
        "SELECT f.doc_id, count(*) AS n_paras, "
        "  sum((d.ndocs > 1)::INT)::BIGINT AS n_dup_paras, "
        "  round(sum((d.ndocs > 1)::INT)::BIGINT / count(*), 9) AS dup_frac "
        "FROM f JOIN d ON f.pn = d.pn GROUP BY f.doc_id"
    )


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (span) dedup signal (operators/dedup.py:
    span_dup_fraction, anchor="space" — the Lee et al. 2022 sub-document
    signal in its alignment-free Spark shape): documents are augmented
    with PLANTED verbatim copy blocks at MISALIGNED byte offsets (the
    prefix length varies with doc_id % 7, so no fixed-stride grid can
    line the copies up) and the operator's word-anchored two-xxhash64
    span marking must equal the oracle's TRUE string-equality
    computation — gating both the anchor rule and the hash-pair proxy."""
    from spatialindex_spark.operators.dedup import span_dup_fraction

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    block = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("common span "), F.col("doc_id") % 5,
                        F.lit(" alpha beta gamma delta epsilon zeta")))
        .otherwise(F.concat(F.lit("uniq "), F.col("doc_id"),
                            F.lit(" filler words here for anchors"))))
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text").substr(
                F.lit(1), (F.lit(20) + F.col("doc_id") % 7).cast("int")),
            F.lit(" "), block, F.lit(" "),
            F.substring("text", 21, 40)).alias("text"))
    return span_dup_fraction(aug, window=32, anchor="space")


def _span_dedup_sql() -> str:
    return (
        "WITH aug AS (SELECT doc_id, "
        "  substr(text, 1, 20 + (doc_id % 7)) || ' ' || "
        "  CASE WHEN doc_id % 3 = 0 THEN 'common span ' || (doc_id % 5) "
        "         || ' alpha beta gamma delta epsilon zeta' "
        "       ELSE 'uniq ' || doc_id || ' filler words here for anchors' "
        "  END || ' ' || substr(text, 21, 40) AS text FROM documents), "
        "pos AS (SELECT doc_id, text, "
        "  greatest(1, length(text) - 31) AS last_s FROM aug), "
        "anch AS (SELECT doc_id, text, "
        "  unnest(list_distinct([1] || "
        "    [g + 1 FOR g IN range(1, length(text) + 1) "
        "     IF substr(text, g, 1) IN (' ', chr(10), chr(9)) "
        "        AND g + 1 <= last_s])) AS s FROM pos), "
        "f AS (SELECT doc_id, substr(text, s, 32) AS w FROM anch "
        "  WHERE length(substr(text, s, 32)) > 0), "
        "d AS (SELECT w, count(DISTINCT doc_id) AS ndocs FROM f "
        "  GROUP BY w) "
        "SELECT f.doc_id, count(*) AS n_spans, "
        "  sum((d.ndocs > 1)::INT)::BIGINT AS n_dup_spans, "
        "  round(sum((d.ndocs > 1)::INT)::BIGINT / count(*), 9) AS dup_frac "
        "FROM f JOIN d ON f.w = d.w GROUP BY f.doc_id"
    )


def _scratch_dir(tag: str) -> str:
    """Per-process scratch dir for the storage-roundtrip queries. NOT
    mkdtemp-per-call: the driver gate and the bench re-invoke these
    queries many times per run, and keeping every generation would
    accumulate a full table copy each time until /tmp fills. Each call
    gets a VERSIONED path spx_<tag>_<pid>_g<N> and only generation N-2
    and older are removed at entry — so a still-live lazy DataFrame from
    the PREVIOUS invocation keeps its files through the next call
    (verified: invoke, re-invoke, then re-count the first result),
    unlike the r5 fixed-path scheme that wiped the exact directory a
    prior invocation's plan still referenced (r5 advice). At most two
    table copies exist at any time; everything is removed at interpreter
    exit. Holding a result across TWO subsequent same-tag invocations,
    or concurrent same-tag calls from threads, remains unsupported
    (documented)."""
    import atexit
    import shutil
    import tempfile

    gen = _SCRATCH_GEN.get(tag, 0)
    _SCRATCH_GEN[tag] = gen + 1
    base = os.path.join(tempfile.gettempdir(), f"spx_{tag}_{os.getpid()}")
    if gen >= 2:  # wipe generation N-2 and older; keep the previous one
        shutil.rmtree(f"{base}_g{gen - 2}", ignore_errors=True)
    d = f"{base}_g{gen}"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if tag not in _SCRATCH_CLEANED:
        _SCRATCH_CLEANED.add(tag)

        def _cleanup(b=base):
            import glob as _glob
            for p in _glob.glob(b + "_g*"):
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup)
    return d


_SCRATCH_CLEANED: set = set()
_SCRATCH_GEN: dict = {}


def _q_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage layer under the driver gate: orders_sky lands in an
    Iceberg-lite table as a bulk write PLUS two exactly-once stream
    appends (sources/iceberg_lite.py), then a cone query reads it back
    through bucket pruning + lineage-stat pruning + the covering
    predicate + the exact geometry filter. The oracle is pure-geometry
    SQL over the source rows — any torn append, lost bucket, wrong
    watermark, or unsound prune shows up as a row diff."""
    from spatialindex_spark.functions.constraints import SpatialIndex
    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable

    df = _orders_sky(spark, sf_dir).select(
        "o_orderkey", "ra", "dec", "x", "y", "z",
        F.col("htm7").alias("spt_ind"))
    t = IcebergLiteTable(_scratch_dir("tblrt"), num_buckets=8)
    k = F.col("o_orderkey") % 10
    t.write(df.filter(k <= 7))
    t.append_batch(df.filter(k == 8), 0)
    t.append_batch(df.filter(k == 9), 1)

    c = SpatialIndex().cone_search(TBL_CONE_RA, TBL_CONE_DEC, TBL_CONE_RAD,
                                   mode=0, level=7, as_constraints=True)
    back = t.read(spark, ranges=[[int(lo), int(hi)] for lo, hi in c.ranges])
    v = sc_to_v3(TBL_CONE_RA, TBL_CONE_DEC)
    import math as _m

    cosr = _m.cos(_m.radians(TBL_CONE_RAD))
    exact = (F.col("x") * float(v.x) + F.col("y") * float(v.y)
             + F.col("z") * float(v.z)) >= cosr
    return back.filter(exact).select("o_orderkey")


TBL_CONE_RA, TBL_CONE_DEC, TBL_CONE_RAD = 200.0, 35.0, 9.0


def _table_roundtrip_sql() -> str:
    import math as _m

    v = sc_to_v3(TBL_CONE_RA, TBL_CONE_DEC)
    cosr = _m.cos(_m.radians(TBL_CONE_RAD))
    return (
        f"WITH o AS (SELECT o_orderkey, {_SKY_SQL_O} FROM orders), "
        f"oxyz AS (SELECT o_orderkey, {_XYZ_SQL} FROM o) "
        f"SELECT o_orderkey FROM oxyz WHERE "
        f"({v.x!r})*x + ({v.y!r})*y + ({v.z!r})*z >= {cosr!r}"
    )


def _q_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING ingest path under the driver gate (table_roundtrip
    gates the batch writer + append_batch primitive; this gates the real
    Structured Streaming wiring): orders_sky lands in two parquet chunks,
    a readStream(maxFilesPerTrigger=1) drives stream_write so the
    exactly-once foreachBatch sink commits >= 2 separate micro-batches,
    and the table is read back whole. The oracle is the plain source
    relation — any lost / duplicated / torn micro-batch shows up as a
    row diff. The value payload is the PRE-asin sky derivation (ra and
    the sine-of-dec), pure double arithmetic DuckDB replays
    bit-identically — JVM Math.asin and libm asin differ by 1 ulp on
    ~5% of rows, so dec itself is not a byte-stable roundtrip
    payload."""
    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable

    df = _orders_sky(spark, sf_dir).select(
        "o_orderkey", "ra",
        (2 * ((F.col("o_custkey") * F.lit(0.381966)) % 1) - 1)
        .alias("zsin"),
        F.col("htm7").alias("spt_ind"))
    base = _scratch_dir("strt")
    src = f"{base}/src"
    for part in (0, 1):
        (df.filter(F.col("o_orderkey") % 2 == part).coalesce(1)
           .write.mode("append").parquet(src))
    t = IcebergLiteTable(f"{base}/tbl", num_buckets=8)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = t.stream_write(stream, checkpoint=f"{base}/ckpt",
                       trigger={"availableNow": True})
    if not q.awaitTermination(300):  # fail loudly, never read mid-flight
        q.stop()
        raise RuntimeError("stream_roundtrip: availableNow ingest did not "
                           "finish within 300 s")
    nb = len(t.committed_batches())
    if nb < 2:
        raise RuntimeError(f"expected >= 2 micro-batches, got {nb}")
    return t.read(spark).select("o_orderkey", "ra", "zsin")


def _stream_roundtrip_sql() -> str:
    # ::DOUBLE keeps DuckDB in IEEE double arithmetic (a bare 0.618034
    # literal is DECIMAL there) — then both columns replay bit-exactly
    return ("SELECT o_orderkey, (o_orderkey * 0.618034::DOUBLE) % 360 "
            "AS ra, 2 * ((o_custkey * 0.381966::DOUBLE) % 1) - 1 AS zsin "
            "FROM orders")


def _q_xmatch3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-catalog chained crossmatch (the multi-survey federation
    pattern: match survey A to B, then carry A's position into a match
    against catalog C). Two ring-keyed J3 crossmatches back to back —
    the composition gate proving the operator's output is directly
    re-matchable without re-ingest. Oracle: two all-pairs trig joins
    with the (implied) dec-band prefilter so DuckDB can IEJoin."""
    from spatialindex_spark.operators.joins import crossmatch

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    supp = _supplier_sky(spark, sf_dir).select("s_suppkey", "ra", "dec")
    ab = (crossmatch(cust, supp, radius_deg=1.5)
          .select(F.col("c_custkey_l").alias("c_custkey"),
                  F.col("s_suppkey_r").alias("s_suppkey"),
                  F.col("ra_l").alias("ra"), F.col("dec_l").alias("dec")))
    orders = _orders_sky(spark, sf_dir).select("o_orderkey", "ra", "dec")
    abc = crossmatch(ab, orders, radius_deg=0.5)
    return abc.select(F.col("c_custkey_l").alias("c_custkey"),
                      F.col("s_suppkey_l").alias("s_suppkey"),
                      F.col("o_orderkey_r").alias("o_orderkey"))


def _xmatch3_sql() -> str:
    trig = ("cos(radians({a}.dec))*cos(radians({b}.dec))"
            "*cos(radians({a}.ra)-radians({b}.ra)) "
            "+ sin(radians({a}.dec))*sin(radians({b}.dec))")
    return (
        f"{_CUST_CTE}, "
        f"osky AS (SELECT o_orderkey, {_SKY_SQL_O} FROM orders), "
        "ab AS (SELECT c.c_custkey, s.s_suppkey, c.ra, c.dec "
        "FROM csky c, ssky s WHERE abs(c.dec - s.dec) <= 1.5 AND "
        + trig.format(a="c", b="s") + " >= cos(radians(1.5))) "
        "SELECT ab.c_custkey, ab.s_suppkey, o.o_orderkey "
        "FROM ab, osky o WHERE abs(ab.dec - o.dec) <= 0.5 AND "
        + trig.format(a="ab", b="o") + " >= cos(radians(0.5))"
    )


def _q_phase_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-folded binned lightcurve at a fixed 1-day period
    (operators/timedomain.py:phase_fold): integer phase bins + quantized
    means, bit-replayed by DuckDB. The step after periodogram/best_period
    in the variable-star pipeline."""
    from spatialindex_spark.operators.timedomain import phase_fold

    ser = _events_series(spark, sf_dir)
    out = phase_fold(ser, "user_id", "t_us", "value",
                     period_us=86_400_000_000, n_bins=8)
    return out.select(F.col("key").alias("user_id"), "phase_bin",
                      "n_obs", "mean_y", "amp_y")


def _phase_fold_sql() -> str:
    P, B = 86_400_000_000, 8
    return (
        f"WITH s AS (SELECT user_id, {_EPOCH_SQL} AS t_us, value "
        "FROM events), "
        f"b AS (SELECT user_id, "
        f"(((t_us % {P}) + {P}) % {P}) * {B} // {P} AS phase_bin, "
        "CAST(round(value * 1000) AS BIGINT) AS yq FROM s) "
        "SELECT user_id, CAST(phase_bin AS INT) AS phase_bin, "
        "count(*) AS n_obs, "
        "round((sum(yq)::DOUBLE / count(*)) / 1000.0, 9) AS mean_y, "
        "(max(yq) - min(yq)) / 1000.0 AS amp_y "
        "FROM b GROUP BY user_id, phase_bin"
    )


def _q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares linear trend of value vs time
    (operators/timedomain.py:linear_fit — the proper-motion-style fit
    from exact int64 sufficient statistics; builtin regr_slope can NOT
    be oracle-matched across engines, this formulation can)."""
    from spatialindex_spark.operators.timedomain import linear_fit

    ser = _events_series(spark, sf_dir)
    out = linear_fit(ser, "user_id", "t_us", "value",
                     t_quant_us=3_600_000_000, y_quant=1000)
    return out.select(F.col("key").alias("user_id"), "n_obs",
                      "slope", "intercept")


def _trend_fit_sql() -> str:
    return (
        f"WITH s AS (SELECT user_id, ({_EPOCH_SQL}) // 3600000000 AS t, "
        "CAST(round(value * 1000) AS BIGINT) AS y FROM events), "
        "g AS (SELECT user_id, count(*) AS n, sum(t) AS st, sum(y) AS sy, "
        "sum(t * t) AS stt, sum(t * y) AS sty FROM s GROUP BY user_id), "
        "g2 AS (SELECT user_id, n, n::DOUBLE AS nd, st::DOUBLE AS st, "
        "sy::DOUBLE AS sy, stt::DOUBLE AS stt, sty::DOUBLE AS sty FROM g), "
        "g3 AS (SELECT user_id, n, (nd * stt - st * st) AS den, "
        "(nd * sty - st * sy) AS num, nd, st, sy FROM g2) "
        "SELECT user_id, n AS n_obs, "
        "CASE WHEN den != 0 THEN round((num / den) / 1000.0, 9) END "
        "AS slope, "
        "CASE WHEN den != 0 THEN "
        "round(((sy - (num / den) * st) / nd) / 1000.0, 9) END "
        "AS intercept FROM g3"
    )


def _q_wcs_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image affine astrometric plate solve
    (operators/detect.py:affine_wcs_fit): matched star pairs synthesized
    through a KNOWN per-image affine WCS (+-1 quantum noise, so the fit
    is a genuine least squares), 11 exact-int64 sufficient statistics,
    closed-form Cramer solve — the DuckDB oracle replays synthesis AND
    normal equations textually."""
    from spatialindex_spark.operators.detect import affine_wcs_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    stars = docs.select(
        "doc_id", F.explode(F.array(*[F.lit(s) for s in range(8)]))
        .alias("s"))
    d, s = F.col("doc_id"), F.col("s")
    u = (d * 7 + s * 11 + s * s * 3) % 64
    v = (d * 13 + s * 29 + s * s * 7) % 64
    au, bv = (d % 17) - 8, (d % 23) - 11
    du_, ev_ = (d % 19) - 9, (d % 29) - 14
    c0 = F.lit(120_000_000) + (d % 1000)
    f0 = F.lit(-30_000_000) + (d % 777)
    nx, ny = (d + s) % 3 - 1, (d + 2 * s) % 3 - 1
    m = stars.select(
        d.alias("image_id"), u.alias("u"), v.alias("v"),
        ((au * u + bv * v + c0 + nx) / F.lit(1_000_000.0)).alias("ra"),
        ((du_ * u + ev_ * v + f0 + ny) / F.lit(1_000_000.0)).alias("dec"))
    return affine_wcs_fit(m)


def _wcs_fit_sql() -> str:
    syn = (
        "WITH st AS (SELECT doc_id, unnest(range(8)) AS s FROM documents), "
        "m AS (SELECT doc_id AS image_id, "
        "(doc_id * 7 + s * 11 + s * s * 3) % 64 AS u, "
        "(doc_id * 13 + s * 29 + s * s * 7) % 64 AS v, "
        "(((doc_id % 17) - 8) * ((doc_id * 7 + s * 11 + s * s * 3) % 64) "
        " + ((doc_id % 23) - 11) * ((doc_id * 13 + s * 29 + s * s * 7) % 64) "
        " + 120000000 + (doc_id % 1000) + ((doc_id + s) % 3 - 1)) "
        " / 1000000.0 AS ra, "
        "(((doc_id % 19) - 9) * ((doc_id * 7 + s * 11 + s * s * 3) % 64) "
        " + ((doc_id % 29) - 14) * ((doc_id * 13 + s * 29 + s * s * 7) % 64) "
        " - 30000000 + (doc_id % 777) + ((doc_id + 2 * s) % 3 - 1)) "
        " / 1000000.0 AS dec FROM st), "
        # quantize exactly as affine_wcs_fit does (double round-trip incl.)
        "mq AS (SELECT image_id, u::BIGINT AS u, v::BIGINT AS v, "
        "CAST(round(ra * 1000000) AS BIGINT) AS x, "
        "CAST(round(dec * 1000000) AS BIGINT) AS y FROM m), "
        "g AS (SELECT image_id, count(*) AS n, sum(u) AS su, sum(v) AS sv, "
        "sum(u * u) AS suu, sum(v * v) AS svv, sum(u * v) AS suv, "
        "sum(u * x) AS sux, sum(v * x) AS svx, sum(x) AS sx, "
        "sum(u * y) AS suy, sum(v * y) AS svy, sum(y) AS sy "
        "FROM mq GROUP BY image_id), "
        "gd AS (SELECT image_id, n, n::DOUBLE AS nd, su::DOUBLE AS su, "
        "sv::DOUBLE AS sv, suu::DOUBLE AS suu, svv::DOUBLE AS svv, "
        "suv::DOUBLE AS suv, sux::DOUBLE AS sux, svx::DOUBLE AS svx, "
        "sx::DOUBLE AS sx, suy::DOUBLE AS suy, svy::DOUBLE AS svy, "
        "sy::DOUBLE AS sy FROM g), "
        "gk AS (SELECT *, (suu * (svv * nd - sv * sv) "
        "- suv * (suv * nd - su * sv) + su * (suv * sv - svv * su)) AS det "
        "FROM gd)"
    )

    def cramer(s1, s2, s0):
        da = (f"({s1} * (svv * nd - sv * sv) - suv * ({s2} * nd - sv * {s0})"
              f" + su * ({s2} * sv - svv * {s0}))")
        db = (f"(suu * ({s2} * nd - sv * {s0}) - {s1} * (suv * nd - su * sv)"
              f" + su * (suv * {s0} - {s2} * su))")
        dc = (f"(suu * (svv * {s0} - sv * {s2}) - suv * (suv * {s0} "
              f"- su * {s2}) + {s1} * (suv * sv - svv * su))")
        return da, db, dc

    ra_abc = cramer("sux", "svx", "sx")
    de_def = cramer("suy", "svy", "sy")
    outs = []
    # "+ 0.0" canonicalizes -0.0 -> +0.0 to match the engine (the driver
    # hashes raw bytes, and DuckDB's round() preserves the sign of zero
    # where Spark's does not — 13 cells differed at sf0.1 on sign alone)
    for name, dterm in zip("abc", ra_abc):
        outs.append(f"CASE WHEN n >= 3 AND det != 0 THEN "
                    f"round(({dterm} / det) / 1000000.0, 9) + 0.0 END AS {name}")
    for name, dterm in zip("def", de_def):
        outs.append(f"CASE WHEN n >= 3 AND det != 0 THEN "
                    f"round(({dterm} / det) / 1000000.0, 9) + 0.0 END AS {name}")
    return (syn + " SELECT image_id, n AS n_stars, " + ", ".join(outs)
            + " FROM gk")


def _q_caption_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-conflict pairs over the phash_dedup image table
    (operators/multimodal.py:caption_conflicts): near-duplicate images
    (banded Hamming <= 3) whose captions DISAGREE — the label-conflict
    gate a multimodal corpus needs beyond plain image dedup. Twins every
    20th doc; every 40th keeps the caption (benign re-encode, must NOT
    flag), the rest change it (must flag)."""
    from spatialindex_spark.operators.multimodal import caption_conflicts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ph = (F.expr("shiftleft((doc_id * 1103515245 + 12345) % 2147483647, 32)")
          .bitwiseOR(F.expr("(doc_id * 69069 + 1) % 4294967291")))
    base = docs.select((F.col("doc_id") * 2).alias("image_id"),
                       ph.alias("phash"),
                       F.concat(F.lit("cap-"), F.col("doc_id"))
                       .alias("caption"))
    twins = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") * 2 + 1).alias("image_id"),
        ph.bitwiseXOR(F.expr(
            "shiftleft(cast(1 as bigint), cast(doc_id % 31 as int)) + "
            "shiftleft(cast(1 as bigint), cast((doc_id + 7) % 31 as int))"))
        .alias("phash"),
        F.when(F.col("doc_id") % 40 == 0,
               F.concat(F.lit("cap-"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("alt-"), F.col("doc_id")))
        .alias("caption"))
    images = base.unionAll(twins)
    return caption_conflicts(images, band_bits=16, max_hamming=3)


def _caption_dedup_sql() -> str:
    return (
        "WITH d AS (SELECT doc_id, "
        "  ((doc_id * 1103515245 + 12345) % 2147483647) << 32 "
        "  | ((doc_id * 69069 + 1) % 4294967291) AS ph FROM documents), "
        "imgs AS ("
        "  SELECT doc_id * 2 AS image_id, ph, "
        "    'cap-' || doc_id AS caption FROM d "
        "  UNION ALL "
        "  SELECT doc_id * 2 + 1, xor(ph, "
        "    (1::BIGINT << (doc_id % 31)) + (1::BIGINT << ((doc_id + 7) % 31))), "
        "    CASE WHEN doc_id % 40 = 0 THEN 'cap-' || doc_id "
        "         ELSE 'alt-' || doc_id END "
        "  FROM d WHERE doc_id % 20 = 0), "
        "bands AS (SELECT image_id, ph, caption, b.band, "
        "  (ph >> (b.band * 16)) & 65535 AS bh "
        "  FROM imgs, (SELECT unnest(range(4)) AS band) b), "
        "pairs AS (SELECT DISTINCT x.image_id AS id_a, y.image_id AS id_b, "
        "  x.ph AS ha, y.ph AS hb FROM bands x JOIN bands y "
        "  ON x.band = y.band AND x.bh = y.bh AND x.image_id < y.image_id), "
        "ham AS (SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming "
        "  FROM pairs WHERE bit_count(xor(ha, hb)) <= 3) "
        "SELECT h.id_a, h.id_b, CAST(h.hamming AS INT) AS hamming "
        "FROM ham h JOIN imgs ia ON h.id_a = ia.image_id "
        "JOIN imgs ib ON h.id_b = ib.image_id "
        "WHERE ia.caption IS DISTINCT FROM ib.caption"
    )


def _q_map_ud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEALPix ud_grade round-trip (operators/counts.py:ud_grade): a
    level-3 hash-pixel density map degraded to level 1 (sum), upgraded
    back to level 2 with the exact mass-conserving integer split
    (healpy power=-2 analogue), then degrade-MEAN back to level 1 — one
    query gating all three value semantics. The oracle replays the
    shift / long-division / mean chain in integer SQL."""
    from spatialindex_spark.operators.counts import ud_grade

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    m = (orders.select(((F.col("o_orderkey") * F.lit(2654435761))
                        % F.lit(768)).alias("pix"))
         .groupBy("pix").agg(F.count(F.lit(1)).alias("n")))
    d1 = ud_grade(m, 3, 1, mode="sum")
    u2 = ud_grade(d1, 1, 2, mode="sum")
    return ud_grade(u2, 2, 1, mode="mean")


def _map_ud_sql() -> str:
    return (
        "WITH m AS (SELECT (o_orderkey * 2654435761) % 768 AS pix, "
        "count(*)::BIGINT AS n FROM orders GROUP BY 1), "
        "d AS (SELECT pix // 16 AS pix, sum(n)::BIGINT AS s "
        "FROM m GROUP BY 1), "
        "u AS (SELECT d.pix * 4 + j AS pix, "
        "s // 4 + CASE WHEN j < s % 4 THEN 1 ELSE 0 END AS n "
        "FROM d, generate_series(0, 3) t(j)) "
        "SELECT pix // 4 AS pix, round(sum(n) / count(*), 9) AS n, "
        "count(*)::BIGINT AS n_child FROM u GROUP BY 1"
    )


_BAYES_SIG = ((0.3 * math.pi / 180.0) ** 2 + (0.4 * math.pi / 180.0) ** 2)


def _q_bayes_xmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budavári–Szalay probabilistic crossmatch
    (operators/joins.py:bayes_match): per-pair Bayes factor under 0.3/0.4
    deg circular Gaussian astrometric errors, radius 1.5 deg, prior 0.5.
    The oracle recomputes ln B = ln(2/s) - (1-dot)/s and the posterior
    over the identical all-pairs dot filter."""
    from spatialindex_spark.operators.joins import bayes_match

    cust = _customer_sky(spark, sf_dir).select("c_custkey", "ra", "dec")
    supp = _supplier_sky(spark, sf_dir).select("s_suppkey", "ra", "dec")
    bm = bayes_match(cust, supp, 1.5, 0.3, 0.4, prior=0.5)
    return bm.select("c_custkey_l", "s_suppkey_r",
                     F.round("ln_bayes", 6).alias("ln_bayes"),
                     F.round("posterior", 6).alias("posterior"))


def _bayes_xmatch_sql() -> str:
    s = repr(_BAYES_SIG)
    lnc = repr(math.log(2.0 / _BAYES_SIG))
    dot = ("cos(radians(c.dec))*cos(radians(s.dec))"
           "*cos(radians(c.ra)-radians(s.ra)) "
           "+ sin(radians(c.dec))*sin(radians(s.dec))")
    return (
        f"{_CUST_CTE} "
        "SELECT c_custkey_l, s_suppkey_r, round(ln_b, 6) AS ln_bayes, "
        "round(exp(ln_b) * 0.5 / (exp(ln_b) * 0.5 + 0.5), 6) AS posterior "
        "FROM ("
        "  SELECT c.c_custkey AS c_custkey_l, s.s_suppkey AS s_suppkey_r, "
        f"  {lnc} - (1.0 - ({dot})) / {s} AS ln_b "
        f"  FROM csky c, ssky s WHERE {dot} >= cos(radians(1.5)))"
    )


def _q_moc_ascii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVOA MOC 1.1 ASCII serialization round-trip
    (operators/moc.py:moc_to_ascii/moc_from_ascii): the moc_rollup
    multi-order cells are serialized to the standard ``order/pix pix-pix``
    string, re-parsed, and re-peeled to normal form. Equality with the
    moc_rollup oracle holds iff serializer + parser are lossless — the
    interop surface is the thing under test. The collect is bounded by
    npix(order) (a map-scale object, never catalog rows)."""
    from spatialindex_spark.operators.moc import (flat_to_uniq,
                                                  moc_from_ascii,
                                                  moc_from_pixels,
                                                  moc_to_ascii, uniq_to_flat)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pixed = orders.select(
        ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(49152))
        .alias("_pix"))
    cells = moc_from_pixels(pixed, "_pix", 6).collect()
    flat = uniq_to_flat([(r["moc_order"], r["pix"]) for r in cells], 6)
    text = moc_to_ascii(flat, 6)
    back, order = moc_from_ascii(text)
    out = flat_to_uniq(back, order)
    return spark.createDataFrame([(int(o), int(p)) for o, p in out],
                                 "moc_order int, pix long")


def _q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-catalog Landy-Szalay cross-correlation
    (operators/correlation.py:cross_correlation): customer x supplier
    skies with independent hash randoms — four ring-keyed pair scans,
    the estimator a fixed IEEE tree over exact integer counts."""
    from spatialindex_spark.operators.correlation import cross_correlation

    data1, rand1 = _corr_catalogs(spark, sf_dir)
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    data2 = (s.select(F.col("s_suppkey").alias("id"),
                      ((F.col("s_suppkey") * F.lit(0.618034)) % 360)
                      .alias("ra"),
                      F.degrees(F.asin(
                          2 * ((F.col("s_suppkey") * F.lit(0.381966)) % 1)
                          - 1)).alias("dec")))
    rand2 = (s.select(F.col("s_suppkey").alias("id"),
                      ((F.col("s_suppkey") * F.lit(0.354813)) % 360)
                      .alias("ra"),
                      F.degrees(F.asin(
                          2 * ((F.col("s_suppkey") * F.lit(0.708204)) % 1)
                          - 1)).alias("dec")))
    return cross_correlation(data1, data2, rand1, rand2, _LS_EDGES,
                             "id", "id", "id", "id")


def _cross_corr_sql() -> str:
    import math as _m

    cos_edges = [_m.cos(_m.radians(e)) for e in _LS_EDGES]
    nb = len(_LS_EDGES) - 1
    dot = ("cos(radians(a.dec))*cos(radians(b.dec))"
           "*cos(radians(a.ra)-radians(b.ra))"
           "+ sin(radians(a.dec))*sin(radians(b.dec))")
    case = "CASE " + " ".join(
        f"WHEN dot <= {cos_edges[i]!r} AND dot > {cos_edges[i + 1]!r} "
        f"THEN {i}" for i in range(nb)) + " END"
    vals = ", ".join(
        f"({i}, {_LS_EDGES[i]!r}::DOUBLE, {_LS_EDGES[i + 1]!r}::DOUBLE)"
        for i in range(nb))

    def pairs(x, y):
        return (f"SELECT bin, count(*)::BIGINT AS n FROM (SELECT {case} "
                f"AS bin FROM (SELECT {dot} AS dot FROM {x} a, {y} b)) "
                "WHERE bin IS NOT NULL GROUP BY bin")

    def den(x, y):
        return f"((SELECT count(*) FROM {x}) * (SELECT count(*) FROM {y}))"

    return (
        "WITH d1 AS (SELECT c_custkey AS id, "
        "(c_custkey * 0.618034e0) % 360 AS ra, "
        "degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec "
        "FROM customer WHERE c_custkey % 2 = 0), "
        "r1 AS (SELECT c_custkey AS id, "
        "(c_custkey * 0.354813e0) % 360 AS ra, "
        "degrees(asin(2 * ((c_custkey * 0.708204e0) % 1) - 1)) AS dec "
        "FROM customer WHERE c_custkey % 3 = 0), "
        "d2 AS (SELECT s_suppkey AS id, "
        "(s_suppkey * 0.618034e0) % 360 AS ra, "
        "degrees(asin(2 * ((s_suppkey * 0.381966e0) % 1) - 1)) AS dec "
        "FROM supplier), "
        "r2 AS (SELECT s_suppkey AS id, "
        "(s_suppkey * 0.354813e0) % 360 AS ra, "
        "degrees(asin(2 * ((s_suppkey * 0.708204e0) % 1) - 1)) AS dec "
        "FROM supplier), "
        f"ab AS ({pairs('d1', 'd2')}), "
        f"ar AS ({pairs('d1', 'r2')}), "
        f"br AS ({pairs('d2', 'r1')}), "
        f"rr AS ({pairs('r1', 'r2')}), "
        f"bins(bin, theta_lo, theta_hi) AS (VALUES {vals}) "
        "SELECT bins.bin, theta_lo, theta_hi, "
        "COALESCE(ab.n, 0) AS n_d1d2, COALESCE(ar.n, 0) AS n_d1r2, "
        "COALESCE(br.n, 0) AS n_d2r1, COALESCE(rr.n, 0) AS n_r1r2, "
        "round(CASE WHEN COALESCE(rr.n, 0) > 0 THEN "
        f"(COALESCE(ab.n, 0) / {den('d1', 'd2')} "
        f"- COALESCE(ar.n, 0) / {den('d1', 'r2')} "
        f"- COALESCE(br.n, 0) / {den('d2', 'r1')} "
        f"+ COALESCE(rr.n, 0) / {den('r1', 'r2')}) "
        f"/ (COALESCE(rr.n, 0) / {den('r1', 'r2')}) "
        "END, 9) AS w_ls "
        "FROM bins LEFT JOIN ab ON bins.bin = ab.bin "
        "LEFT JOIN ar ON bins.bin = ar.bin "
        "LEFT JOIN br ON bins.bin = br.bin "
        "LEFT JOIN rr ON bins.bin = rr.bin ORDER BY bins.bin"
    )


def _q_corr_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landy-Szalay w(theta) with delete-one-region jackknife errors
    (operators/correlation.py:landy_szalay_jackknife): 12 longitude
    slices as jackknife regions (SQL-replayable region rule); the
    leave-one-out recomputation runs on the (bin, lreg, rreg)
    sufficient table via inclusion-exclusion — no per-region re-scan.
    The oracle replays pair binning, region bookkeeping, all 12
    deleted-sample estimators, and the two-pass variance in SQL."""
    from spatialindex_spark.operators.correlation import \
        landy_szalay_jackknife

    data, rand = _corr_catalogs(spark, sf_dir)

    def reg(ra, dec):
        return (F.floor(ra / F.lit(30.0)).cast("int") % 12).cast("int")

    return landy_szalay_jackknife(data, rand, _LS_EDGES, "id", "id",
                                  reg, 12)


def _corr_jackknife_sql() -> str:
    import math as _m

    cos_edges = [_m.cos(_m.radians(e)) for e in _LS_EDGES]
    nb = len(_LS_EDGES) - 1
    dot = ("cos(radians(a.dec))*cos(radians(b.dec))"
           "*cos(radians(a.ra)-radians(b.ra))"
           "+ sin(radians(a.dec))*sin(radians(b.dec))")
    case = "CASE " + " ".join(
        f"WHEN dot <= {cos_edges[i]!r} AND dot > {cos_edges[i + 1]!r} "
        f"THEN {i}" for i in range(nb)) + " END"
    vals = ", ".join(
        f"({i}, {_LS_EDGES[i]!r}::DOUBLE, {_LS_EDGES[i + 1]!r}::DOUBLE)"
        for i in range(nb))

    def pairs(name, x, y, self_excl):
        w = f"WHERE {'a.id <> b.id' if self_excl else 'TRUE'}"
        return (f"{name} AS (SELECT bin, lreg, rreg, count(*)::BIGINT "
                f"AS n FROM (SELECT {case} AS bin, "
                "CAST(FLOOR(lra/30.0) AS INT) % 12 AS lreg, "
                "CAST(FLOOR(rra/30.0) AS INT) % 12 AS rreg "
                f"FROM (SELECT a.ra AS lra, b.ra AS rra, {dot} AS dot "
                f"FROM {x} a, {y} b {w})) "
                "WHERE bin IS NOT NULL GROUP BY 1, 2, 3)")

    return (
        "WITH d AS (SELECT c_custkey AS id, "
        "(c_custkey * 0.618034e0) % 360 AS ra, "
        "degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec "
        "FROM customer WHERE c_custkey % 2 = 0), "
        "r AS (SELECT c_custkey AS id, "
        "(c_custkey * 0.354813e0) % 360 AS ra, "
        "degrees(asin(2 * ((c_custkey * 0.708204e0) % 1) - 1)) AS dec "
        "FROM customer WHERE c_custkey % 3 = 0), "
        f"{pairs('ddp', 'd', 'd', True)}, "
        f"{pairs('drp', 'd', 'r', False)}, "
        f"{pairs('rrp', 'r', 'r', True)}, "
        "nd_by AS (SELECT CAST(FLOOR(ra/30.0) AS INT) % 12 AS reg, "
        "count(*)::BIGINT AS n FROM d GROUP BY 1), "
        "nr_by AS (SELECT CAST(FLOOR(ra/30.0) AS INT) % 12 AS reg, "
        "count(*)::BIGINT AS n FROM r GROUP BY 1), "
        "ndt AS (SELECT count(*)::BIGINT AS n FROM d), "
        "nrt AS (SELECT count(*)::BIGINT AS n FROM r), "
        f"bins(bin, theta_lo, theta_hi) AS (VALUES {vals}), "
        "ks AS (SELECT CAST(unnest(range(0, 12)) AS INT) AS k), "
        "tot AS (SELECT b.bin, "
        "COALESCE((SELECT sum(n) FROM ddp WHERE ddp.bin = b.bin), 0)"
        "::BIGINT AS n_dd, "
        "COALESCE((SELECT sum(n) FROM drp WHERE drp.bin = b.bin), 0)"
        "::BIGINT AS n_dr, "
        "COALESCE((SELECT sum(n) FROM rrp WHERE rrp.bin = b.bin), 0)"
        "::BIGINT AS n_rr FROM bins b), "
        "jk AS (SELECT b.bin, ks.k, "
        "(SELECT n FROM ndt) - COALESCE((SELECT n FROM nd_by "
        "WHERE reg = ks.k), 0) AS ndk, "
        "(SELECT n FROM nrt) - COALESCE((SELECT n FROM nr_by "
        "WHERE reg = ks.k), 0) AS nrk, "
        "COALESCE((SELECT sum(n) FROM ddp WHERE ddp.bin = b.bin "
        "AND lreg <> ks.k AND rreg <> ks.k), 0) AS ddk, "
        "COALESCE((SELECT sum(n) FROM drp WHERE drp.bin = b.bin "
        "AND lreg <> ks.k AND rreg <> ks.k), 0) AS drk, "
        "COALESCE((SELECT sum(n) FROM rrp WHERE rrp.bin = b.bin "
        "AND lreg <> ks.k AND rreg <> ks.k), 0) AS rrk "
        "FROM bins b, ks), "
        "wk AS (SELECT bin, k, "
        "(ddk / (ndk * (ndk - 1)) - 2.0 * (drk / (ndk * nrk)) "
        "+ rrk / (nrk * (nrk - 1))) / (rrk / (nrk * (nrk - 1))) AS w "
        "FROM jk WHERE ndk >= 2 AND nrk >= 2 AND rrk > 0), "
        "mw AS (SELECT bin, avg(w) AS m, count(*)::INT AS c "
        "FROM wk GROUP BY bin), "
        "err AS (SELECT wk.bin, mw.c AS n_jk, "
        "CASE WHEN mw.c >= 2 THEN sqrt((mw.c - 1) / CAST(mw.c AS DOUBLE) "
        "* sum((wk.w - mw.m) * (wk.w - mw.m))) END AS w_err "
        "FROM wk JOIN mw USING (bin) GROUP BY wk.bin, mw.c, mw.m) "
        "SELECT bins.bin, theta_lo, theta_hi, tot.n_dd, tot.n_dr, "
        "tot.n_rr, "
        "round(CASE WHEN tot.n_rr > 0 THEN "
        "(tot.n_dd / ((SELECT n FROM ndt) * ((SELECT n FROM ndt) - 1)) "
        "- 2.0 * (tot.n_dr / ((SELECT n FROM ndt) * (SELECT n FROM nrt)))"
        " + tot.n_rr / ((SELECT n FROM nrt) * ((SELECT n FROM nrt) - 1)))"
        " / (tot.n_rr / ((SELECT n FROM nrt) * ((SELECT n FROM nrt) - 1)"
        ")) END, 9) AS w_ls, "
        "round(err.w_err, 9) AS w_err, "
        "COALESCE(err.n_jk, 0) AS n_jk "
        "FROM bins JOIN tot ON bins.bin = tot.bin "
        "LEFT JOIN err ON bins.bin = err.bin ORDER BY bins.bin"
    )


def _q_ring_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RING <-> NESTED scheme conversion (functions/healpix.py:nest2ring /
    ring2nest — the healpy/FITS interop surface; external sky maps ship
    RING-ordered). Scale-invariant like h3_kring: the operand is the
    complete order-3 pixel set. The oracle is DEFINITIONAL, not a replay:
    RING order is, by construction (Gorski et al. 2005), the rank of
    pixel centers by (z desc, phi asc) — the centers come from the
    golden-tested pix2loc kernel as a literal VALUES table, DuckDB
    computes the rank, and `back` gates the inverse round-trip."""
    from spatialindex_spark.functions.udfs import (nest2ring_udf,
                                                   ring2nest_udf)

    df = spark.range(12 * 4 ** 3).select(F.col("id").alias("pix"))
    out = df.select("pix", nest2ring_udf(3)(F.col("pix")).alias("ring_pix"))
    return out.select("pix", "ring_pix",
                      ring2nest_udf(3)(F.col("ring_pix")).alias("back"))


def _ring_order_sql() -> str:
    import numpy as np

    from spatialindex_spark.functions.healpix import pix2loc

    pix = np.arange(12 * 4 ** 3, dtype=np.int64)
    z, phi = pix2loc(3, pix)
    vals = ", ".join(f"({int(p)}, {z_!r}, {ph!r})"
                     for p, z_, ph in zip(pix, z, phi))
    return (
        f"WITH c(pix, z, phi) AS (VALUES {vals}) "
        "SELECT pix::BIGINT AS pix, "
        "(row_number() OVER (ORDER BY z DESC, phi ASC) - 1)::BIGINT "
        "AS ring_pix, pix::BIGINT AS back FROM c"
    )


#: the driver gates the FIRST 50 queries() entries. Round-5 window, in
#: priority order: (1) the three round-4 ambers (wcs_fit zero-sign fix,
#: mosaic/pyramid new value oracles) + the new stream_roundtrip, (2)
#: every query whose operator changed this round (pixel read-back
#: semi-join, hot-LSH-bucket cap, knn dead-path removal), (3) the 12
#: queries rotated OUT of the r4 window (systematic re-verification),
#: (4) the S2/H3 count variants (never push these out — r3 verdict),
#: (5) a rotating sample of the r1-r3-stable tail not driver-gated
#: since r3. Everything else stays oracle_sweep-checked at both scales.
_WINDOW_R5 = [
    "stream_roundtrip", "wcs_fit", "mosaic", "pyramid",
    "cutout", "photometry", "source_shape", "annulus_phot",
    "minhash_dedup", "minhash_transitive", "caption_dedup",
    "simhash_dedup", "knn_join", "knn_join_auto", "knn", "knn_starved",
    "crossmatch", "best_match", "tile_assign", "zonal_stats",
    "cell_counts", "image_filter", "train_pipeline", "decontaminate",
    "phash_dedup",
    "count_bounds_ellipse_s2", "count_bounds_h3", "count_fast_s2",
    "count_fast_h3",
    "hull_s2", "hull_h3", "polygon_hpx", "count_bounds", "cone_base4",
    "exact_dedup", "text_quality", "token_count", "seq_pack",
    "repetition", "source_cap", "stratified_sample", "lang_id",
    "fingerprint", "events_window", "conn_components", "asof_join",
    "range_join", "ellipse_htm", "hull_htm", "ann_brute",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER matters: the driver's correctness gate checks the first
    50 entries — _WINDOW_R5 (see its comment for the rotation policy)
    leads, the rest follow in their stable order. Every entry regardless
    of position is value-checked by scripts/oracle_sweep.py at sf0.01 +
    sf0.1."""
    q = _all_queries()
    assert len(_WINDOW_R5) == 50 and all(k in q for k in _WINDOW_R5)
    return {**{k: q[k] for k in _WINDOW_R5},
            **{k: v for k, v in q.items() if k not in _WINDOW_R5}}


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "stream_roundtrip": _q_stream_roundtrip,
        # new in r4
        "map_ud": _q_map_ud,
        "ring_order": _q_ring_order,
        "cross_corr": _q_cross_corr,
        "source_shape": _q_source_shape,
        "corr_jackknife": _q_corr_jackknife,
        "annulus_phot": _q_annulus_phot,
        "pm_fit": _q_pm_fit,
        "bayes_xmatch": _q_bayes_xmatch,
        "moc_ascii": _q_moc_ascii,
        "para_dedup": _q_para_dedup,
        "span_dedup": _q_span_dedup,
        "temperature_mix": _q_temperature_mix,
        "table_roundtrip": _q_table_roundtrip,
        "xmatch3": _q_xmatch3,
        "phase_fold": _q_phase_fold,
        "trend_fit": _q_trend_fit,
        "wcs_fit": _q_wcs_fit,
        "caption_dedup": _q_caption_dedup,
        "pm_xmatch": _q_pm_xmatch,
        "zone_xmatch": _q_zone_xmatch,
        "periodogram": _q_periodogram,
        "variability": _q_variability,
        "galactic": _q_galactic,
        "correlation": _q_correlation,
        "map_smooth": _q_map_smooth,
        "diff_image": _q_diff_image,
        "moc_rollup": _q_moc_rollup,
        "density_mom": _q_density_mom,
        "moc_filter": _q_moc_filter,
        "fof_objects": _q_fof_objects,
        "transients": _q_transients,
        "tracklets": _q_tracklets,
        "lightcurve": _q_lightcurve,
        "photometry": _q_photometry,
        "knn_join": _q_knn_join,
        "knn_join_auto": _q_knn_join_auto,
        "h3_kring": _q_h3_kring,
        "cutout": _q_cutout,
        "mosaic": _q_mosaic,
        "pyramid": _q_pyramid,
        "source_detect": _q_source_detect,
        "detect_xmatch": _q_detect_xmatch,
        # never driver-gated before r4 (r3 verdict item #2)
        "count_bounds_ellipse_s2": _q_count_bounds_ellipse_s2,
        "count_bounds_h3": _q_count_bounds_h3,
        "count_fast_s2": _q_count_fast_s2,
        "count_fast_h3": _q_count_fast_h3,
        # rest of the former post-50 tail
        "count_bounds_poly": _q_count_bounds_poly,
        "count_bounds_ellipse": _q_count_bounds_ellipse,
        "count_bounds_ellipse_hpx": _q_count_bounds_ellipse_hpx,
        "count_fast_poly": _q_count_fast_poly,
        "count_fast_hpx": _q_count_fast_hpx,
        "cell_rollup": _q_cell_rollup,
        "ann_ivf": _q_ann_ivf,
        "embed_dedup": _q_embed_dedup,
        "s2_h3_cells": _q_s2_h3_cells,
        "angsep": _q_angsep,
        # changed this round (advice fixes)
        "pii_scrub": _q_pii_scrub,
        "sessionize": _q_sessionize,
        "region_join": _q_region_join,
        # core operator battery
        "cone_htm": _q_cone_htm,
        "cone_s2": _q_cone_s2,
        "cone_h3": _q_cone_h3,
        "cone_hpx": _q_cone_hpx,
        "polygon_h3": _q_polygon_h3,
        "polygon_htm": _q_polygon_htm,
        "polygon_s2": _q_polygon_s2,
        "region_count": _q_region_count,
        "region_count_fast": _q_region_count_fast,
        # ---- driver gate window ends here (first 50) ----
        # rotated out in r4 (driver-green r3 under identical names;
        # zone_xmatch in-window shares crossmatch's exact oracle):
        # crossmatch, best_match, knn, knn_starved, tile_assign,
        # zonal_stats, cell_counts, image_filter, train_pipeline,
        # decontaminate, phash_dedup, minhash_dedup
        "crossmatch": _q_crossmatch,
        "best_match": _q_best_match,
        "knn": _q_knn,
        "knn_starved": _q_knn_starved,
        "tile_assign": _q_tile_assign,
        "zonal_stats": _q_zonal_stats,
        "cell_counts": _q_cell_counts,
        "image_filter": _q_image_filter,
        "train_pipeline": _q_train_pipeline,
        "decontaminate": _q_decontaminate,
        "phash_dedup": _q_phash_dedup,
        "minhash_dedup": _q_minhash_dedup,
        "minhash_transitive": _q_minhash_transitive,
        "simhash_dedup": _q_simhash_dedup,
        "ann_brute": _q_ann_brute,
        "ann_pq": _q_ann_pq,
        "ann_lsh": _q_ann_lsh,
        "ann_int8": _q_ann_int8,
        "ellipse_htm": _q_ellipse_htm,
        "hull_htm": _q_hull_htm,
        # longest-stable rows: identical code + name green in r1-r3
        # (hull_s2 / hull_h3 rotated out after their r3 green row)
        "hull_s2": _q_hull_s2,
        "hull_h3": _q_hull_h3,
        "polygon_hpx": _q_polygon_hpx,
        "count_bounds": _q_count_bounds,
        "cone_base4": _q_cone_base4,
        "exact_dedup": _q_exact_dedup,
        "text_quality": _q_text_quality,
        "token_count": _q_token_count,
        "seq_pack": _q_seq_pack,
        "repetition": _q_repetition,
        "source_cap": _q_source_cap,
        "stratified_sample": _q_stratified_sample,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "events_window": _q_events_window,
        "conn_components": _q_conn_components,
        "asof_join": _q_asof_join,
        "range_join": _q_range_join,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _orders_sky_sql() -> str:
    return (
        f"SELECT o_orderkey, o_custkey, {_SKY_SQL_O} FROM orders"
    )


def _cone_where(cone) -> str:
    cx, cy, cz, cosr = _cone_vec(cone["ra"], cone["dec"], cone["radius"])
    return _geom_sql("", [(cx, cy, cz, cosr)])


def _poly_where(ra_list, dec_list) -> str:
    planes = [(nx, ny, nz, 0.0) for nx, ny, nz in _poly_planes(ra_list, dec_list)]
    return _geom_sql("", planes)


_SKY_CTE = (
    "WITH sky AS (SELECT o_orderkey, ra, dec, " + _XYZ_SQL + " FROM ("
    + _orders_sky_sql() + "))"
)

_CUST_CTE = (
    "WITH csky AS (SELECT c_custkey, (c_custkey * 0.618034e0) % 360 AS ra, "
    "degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec FROM customer), "
    "ssky AS (SELECT s_suppkey, (s_suppkey * 0.618034e0) % 360 AS ra, "
    "degrees(asin(2 * ((s_suppkey * 0.381966e0) % 1) - 1)) AS dec FROM supplier)"
)


def _cv(i: int) -> float:
    v = sc_to_v3(CONE["ra"], CONE["dec"])
    return (v.x, v.y, v.z)[i]


def _ellipse_where() -> str:
    e = _ellipse()
    return (
        f"(x*({e.cen.x!r}) + y*({e.cen.y!r}) + z*({e.cen.z!r}) >= 0) AND "
        f"(({e.xx!r})*x*x + ({e.yy!r})*y*y + ({e.zz!r})*z*z "
        f"+ 2*({e.xy!r})*x*y + 2*({e.xz!r})*x*z + 2*({e.yz!r})*y*z <= 0)"
    )



def _minhash_oracle_sql(transitive: bool = False) -> str:
    """ANSI-SQL replica of minhash_lsh_dedup(threshold=0.9, defaults):
    DISTINCT 5-byte rolling shingle hashes (HUGEINT mod 2^64), the same 64
    multiply-shift permutations (constants from the engine's seeded RNG),
    min per permutation >> 1, 4 bands of 16, band key = Horner fold of
    the slice mod 2^64 (acc*257 + s — the engine computes it with wrapping
    Java-long arithmetic in F.aggregate; HUGEINT reproduces it exactly),
    exact-jaccard verify >= 0.9, drop id_b."""
    import numpy as np

    from spatialindex_spark.operators.dedup import _minhash_params

    a, b = _minhash_params(64)
    perm_rows = ", ".join(f"({j}, {int(a[j])}, {int(b[j])})" for j in range(64))
    C = [pow(257, j, 1 << 64) for j in range(5)]
    terms = " + ".join(
        f"ord(substr(text, p + {j}, 1))::HUGEINT * {C[j]}::HUGEINT"
        for j in range(5))
    M = "18446744073709551616::HUGEINT"
    body = f"""
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) - 5 + 2)) AS p
  FROM documents WHERE length(text) >= 5
), sh AS (
  SELECT DISTINCT doc_id, ({terms}) % {M} AS h FROM pos
), perms(j, pa, pb) AS (VALUES {perm_rows}),
sig AS (
  SELECT doc_id, j,
    ((h * pa::HUGEINT + pb::HUGEINT) % {M} // 2::HUGEINT)::BIGINT AS s0
  FROM sh CROSS JOIN perms
), sigm AS (
  SELECT doc_id, j, min(s0) AS s FROM sig GROUP BY doc_id, j
), sigs AS (
  SELECT doc_id, list(s ORDER BY j) AS sg FROM sigm GROUP BY doc_id
), bands AS (
  SELECT doc_id, bnd, ((sg[bnd*16 + 1]::HUGEINT * 3934105753453399809::HUGEINT) % {M} + (sg[bnd*16 + 2]::HUGEINT * 8341464662660550145::HUGEINT) % {M} + (sg[bnd*16 + 3]::HUGEINT * 13454796134032477441::HUGEINT) % {M} + (sg[bnd*16 + 4]::HUGEINT * 1990338078304242689::HUGEINT) % {M} + (sg[bnd*16 + 5]::HUGEINT * 5462812792530078465::HUGEINT) % {M} + (sg[bnd*16 + 6]::HUGEINT * 8706299010550139393::HUGEINT) % {M} + (sg[bnd*16 + 7]::HUGEINT * 2617856364451727617::HUGEINT) % {M} + (sg[bnd*16 + 8]::HUGEINT * 584403925891549185::HUGEINT) % {M} + (sg[bnd*16 + 9]::HUGEINT * 74051159531521793::HUGEINT) % {M} + (sg[bnd*16 + 10]::HUGEINT * 288136807515649::HUGEINT) % {M} + (sg[bnd*16 + 11]::HUGEINT * 1121154893057::HUGEINT) % {M} + (sg[bnd*16 + 12]::HUGEINT * 4362470401::HUGEINT) % {M} + (sg[bnd*16 + 13]::HUGEINT * 16974593::HUGEINT) % {M} + (sg[bnd*16 + 14]::HUGEINT * 66049::HUGEINT) % {M} + (sg[bnd*16 + 15]::HUGEINT * 257::HUGEINT) % {M} + (sg[bnd*16 + 16]::HUGEINT * 1::HUGEINT) % {M}) % {M} AS key
  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS bnd)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y ON x.bnd = y.bnd AND x.key = y.key
  WHERE x.doc_id < y.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.h = x.h
  GROUP BY c.id_a, c.id_b
), ver AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  WHERE coalesce(i.i, 0)::DOUBLE / (sa.n + sb.n - coalesce(i.i, 0)) >= 0.9
)
{{tail}}
"""
    tail = """
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ver)""" if not transitive else """,
sym AS (SELECT id_a AS u, id_b AS v FROM ver
        UNION SELECT id_b, id_a FROM ver),
reach(id, lbl) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.id),
comp AS (SELECT id, min(lbl) AS m FROM reach GROUP BY id)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM comp WHERE m < id)"""
    return body.replace("{tail}", tail).replace(
        "WITH pos AS", "WITH RECURSIVE pos AS" if transitive else "WITH pos AS")



def _simhash_oracle_sql() -> str:
    """ANSI-SQL replica of simhash_dedup(max_hamming=1, k=12): DISTINCT
    12-byte rolling shingle hashes (HUGEINT mod 2^64), per-bit majority
    simhash, 4x16-bit band candidate grouping, Hamming <= 1 verify, drop
    id_b. This oracle caught a real engine bug (uint64 wraparound in the
    majority score) during development."""
    C = [pow(257, j, 1 << 64) for j in range(12)]
    terms = " + ".join(
        f"ord(substr(text, p + {j}, 1))::HUGEINT * {C[j]}::HUGEINT"
        for j in range(12))
    M = "18446744073709551616::HUGEINT"
    bit_sums = ", ".join(
        f"sum(((h // {1 << j}::HUGEINT) % 2::HUGEINT)::BIGINT) AS c{j}"
        for j in range(64))
    sh_build = " + ".join(
        f"(CASE WHEN 2*c{j} > n THEN {1 << j}::HUGEINT ELSE 0::HUGEINT END)"
        for j in range(64))
    body = f"""
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) - 12 + 2)) AS p
  FROM documents WHERE length(text) >= 12
), sh AS (
  SELECT DISTINCT doc_id, ({terms}) % {M} AS h FROM pos
), bits AS (
  SELECT doc_id, count(*) AS n, {bit_sums} FROM sh GROUP BY doc_id
), sim AS (
  SELECT doc_id, ({sh_build}) AS u FROM bits
), simi AS (
  SELECT doc_id,
    (CASE WHEN u >= 9223372036854775808::HUGEINT
     THEN u - {M} ELSE u END)::BIGINT AS s, u
  FROM sim
), bands AS (
  SELECT doc_id, s, bnd,
    ((u // power(2, bnd*16)::HUGEINT) % 65536::HUGEINT)::BIGINT AS bh
  FROM simi CROSS JOIN (SELECT unnest(range(0, 4)) AS bnd)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.s AS sa, y.s AS sb
  FROM bands x JOIN bands y ON x.bnd = y.bnd AND x.bh = y.bh
  WHERE x.doc_id < y.doc_id
), ver AS (
  SELECT id_a, id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 1
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ver)
"""
    return body


def _planes_values_sql(bits: int, dim: int = _EMB_DIM) -> str:
    """Nonzero entries of the seeded ternary projection matrix as SQL VALUES
    rows (j = bit, i = 1-based vector index, w in {-1, +1}). Same
    ternary_planes() draw as the engine's quantized_signature_udf."""
    from spatialindex_spark.operators.similarity import ternary_planes

    P = ternary_planes(dim, bits)
    return ", ".join(f"({j}, {i + 1}, {int(P[j, i])})"
                     for j in range(bits) for i in range(dim)
                     if P[j, i] != 0)


def _sig_ctes_sql(bits: int) -> str:
    """CTE chain computing each embedding's quantized ternary-LSH bucket —
    pure integer arithmetic (floor(v*1024) is exact: 1024 is a power of
    two), bit-identical to quantized_signature_udf."""
    return (
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"planes(j, i, w) AS (VALUES {_planes_values_sql(bits)}), "
        "proj AS (SELECT e.vec_id, p.j, "
        "  sum(CAST(floor(e.v[p.i] * 1024) AS BIGINT) * p.w) AS s "
        "  FROM e CROSS JOIN planes p GROUP BY 1, 2), "
        "sig AS (SELECT vec_id, CAST(sum(CASE WHEN s > 0 "
        "  THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS bkt "
        "  FROM proj GROUP BY 1)"
    )


_ANN_EXACT_CTE = (
    "exact AS (SELECT query_id, vec_id FROM ("
    "  SELECT q.vec_id AS query_id, d.vec_id, "
    "    row_number() OVER (PARTITION BY q.vec_id ORDER BY "
    "      list_cosine_similarity(q.v, d.v) DESC, d.vec_id ASC) AS xr "
    f"  FROM e q, e d WHERE q.vec_id < 3) WHERE xr <= {_ANN_K})"
)

_ANN_TAIL = (
    "SELECT s.query_id, s.vec_id, s.rank, "
    "  CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit "
    "FROM scored s LEFT JOIN exact x "
    "  ON x.query_id = s.query_id AND x.vec_id = s.vec_id "
    f"WHERE s.rank <= {_ANN_K}"
)


def _ann_lsh_oracle_sql() -> str:
    """Full SQL replica of lsh_topk(bits=8, hamming_probe=3) plus the
    exact-top-k hit flag: quantized ternary buckets, XOR multiprobe,
    cosine re-rank (rank ties break by vec_id, as in the engine)."""
    from spatialindex_spark.operators.similarity import probe_masks

    masks = ", ".join(f"({m})" for m in probe_masks(_LSH_BITS, _LSH_PROBE))
    return (
        f"WITH {_sig_ctes_sql(_LSH_BITS)}, "
        f"masks(m) AS (VALUES {masks}), "
        "qs AS (SELECT vec_id AS query_id, bkt FROM sig WHERE vec_id < 3), "
        "probes AS (SELECT query_id, xor(bkt, CAST(m AS BIGINT)) AS pb "
        "  FROM qs CROSS JOIN masks), "
        "cand AS (SELECT p.query_id, s.vec_id "
        "  FROM probes p JOIN sig s ON s.bkt = p.pb), "
        "scored AS (SELECT c.query_id, c.vec_id, "
        "  row_number() OVER (PARTITION BY c.query_id ORDER BY "
        "    list_cosine_similarity(q.v, d.v) DESC, c.vec_id ASC) AS rank "
        "  FROM cand c JOIN e q ON q.vec_id = c.query_id "
        "  JOIN e d ON d.vec_id = c.vec_id), "
        f"{_ANN_EXACT_CTE} {_ANN_TAIL}"
    )


def _ann_ivf_oracle_sql() -> str:
    """Full SQL replica of ivf_topk(ncentroids=16, nprobe=6): centroids =
    the 16 ids with the smallest multiplicative hash (exact integer math,
    ties by id), assignment/probing rank centroids by (cosine DESC,
    centroid index ASC) — matching the engine's stable argsort."""
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "cent AS (SELECT vec_id AS cid, v AS cv, "
        "    row_number() OVER (ORDER BY "
        "      ((vec_id % 1000003) * 2654435761) % 999999937 ASC, vec_id ASC) "
        "      - 1 AS cidx "
        f"  FROM e QUALIFY cidx < {_IVF_NC}), "
        "assign AS (SELECT vec_id, cidx FROM ("
        "  SELECT d.vec_id, c.cidx, row_number() OVER (PARTITION BY d.vec_id "
        "    ORDER BY list_cosine_similarity(d.v, c.cv) DESC, c.cidx ASC) AS rn "
        "  FROM e d, cent c) WHERE rn = 1), "
        "qprobe AS (SELECT query_id, cidx FROM ("
        "  SELECT q.vec_id AS query_id, c.cidx, "
        "    row_number() OVER (PARTITION BY q.vec_id "
        "    ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cidx ASC) AS rn "
        f"  FROM e q, cent c WHERE q.vec_id < 3) WHERE rn <= {_IVF_NPROBE}), "
        "cand AS (SELECT p.query_id, a.vec_id "
        "  FROM qprobe p JOIN assign a ON a.cidx = p.cidx), "
        "scored AS (SELECT c.query_id, c.vec_id, "
        "  row_number() OVER (PARTITION BY c.query_id ORDER BY "
        "    list_cosine_similarity(q.v, d.v) DESC, c.vec_id ASC) AS rank "
        "  FROM cand c JOIN e q ON q.vec_id = c.query_id "
        "  JOIN e d ON d.vec_id = c.vec_id), "
        f"{_ANN_EXACT_CTE} {_ANN_TAIL}"
    )


def _embed_dedup_oracle_sql() -> str:
    """Ground-truth all-pairs replica of the embed_dedup query: the same
    deterministic planted twins (integer-derived elementwise offsets —
    bit-identical float ops in both engines), losers = any higher id within
    cosine 0.9 of a lower id. All-pairs is feasible at oracle scale (525
    rows) and PROVES the engine's banded-LSH candidates reached recall 1.0."""
    return (
        "WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "dup AS (SELECT b.vec_id + 100000 AS did, "
        "    list_transform(range(0, 64), i -> "
        "      b.v[i + 1] + ((b.vec_id * 7 + i * 13) % 11 - 5) / 200.0) AS v "
        "  FROM base b WHERE b.vec_id % 20 = 0), "
        "allv AS (SELECT vec_id, v FROM base "
        "  UNION ALL SELECT did AS vec_id, v FROM dup), "
        "losers AS (SELECT DISTINCT y.vec_id FROM allv x JOIN allv y "
        "  ON x.vec_id < y.vec_id "
        "  AND list_cosine_similarity(x.v, y.v) >= 0.9) "
        "SELECT vec_id FROM allv "
        "WHERE vec_id NOT IN (SELECT vec_id FROM losers)"
    )


def _ann_pq_oracle_sql() -> str:
    """Full SQL replica of pq_topk(m=8, ncentroids=16, dim=64) plus the
    recall hit flag: same deterministic codebook rows as IVF (smallest
    multiplicative id-hash), floor(x*1024) integer quantization, per-
    subspace integer-L2 argmin codes (ties to the lower centroid index),
    ADC distance = sum over subspaces of the query-to-assigned-centroid
    integer distance. adist emitted and hash-compared — the engine's
    integer math must match bit-for-bit."""
    sub_d = (
        "list_sum(list_transform(range(0, 8), j -> "
        "  (floor({a}.v[s.s * 8 + j + 1] * 1024)::BIGINT "
        "   - floor(c.cv[s.s * 8 + j + 1] * 1024)::BIGINT) "
        "  * (floor({a}.v[s.s * 8 + j + 1] * 1024)::BIGINT "
        "     - floor(c.cv[s.s * 8 + j + 1] * 1024)::BIGINT)))"
    )
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "cent AS (SELECT vec_id AS cid, v AS cv, "
        "    row_number() OVER (ORDER BY "
        "      ((vec_id % 1000003) * 2654435761) % 999999937 ASC, vec_id ASC) "
        "      - 1 AS cidx "
        "  FROM e QUALIFY cidx < 16), "
        "subs AS (SELECT unnest(range(8)) AS s), "
        "codes AS (SELECT vec_id, s, cidx FROM ("
        "  SELECT d.vec_id, s.s, c.cidx, "
        "    row_number() OVER (PARTITION BY d.vec_id, s.s ORDER BY "
        f"      {sub_d.format(a='d')} ASC, c.cidx ASC) AS rn "
        "  FROM e d, subs s, cent c) WHERE rn = 1), "
        "ad AS (SELECT q.vec_id AS query_id, k.vec_id, "
        f"    sum({sub_d.format(a='q')}) AS adist "
        "  FROM e q, codes k "
        "  JOIN subs s ON s.s = k.s "
        "  JOIN cent c ON c.cidx = k.cidx "
        "  WHERE q.vec_id < 3 GROUP BY q.vec_id, k.vec_id), "
        "scored AS (SELECT query_id, vec_id, adist, "
        "  row_number() OVER (PARTITION BY query_id "
        "    ORDER BY adist ASC, vec_id ASC) AS rank FROM ad), "
        f"{_ANN_EXACT_CTE} "
        "SELECT s.query_id, s.vec_id, s.adist::BIGINT AS adist, s.rank, "
        "  CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit "
        "FROM scored s LEFT JOIN exact x "
        "  ON x.query_id = s.query_id AND x.vec_id = s.vec_id "
        f"WHERE s.rank <= {_ANN_K}"
    )


def _tracklets_sql() -> str:
    """All-pairs replay of _q_tracklets: same epoch synthesis (identical
    fp op order), cos-domain speed cut. dt is always 1.0 day here (epoch
    grid 0..3, dt_max 1.5), so the crossmatch reach cut (0.75 deg) is
    strictly implied by the speed cut and needs no replica."""
    dot = ("cos(radians(a.dec))*cos(radians(b.dec))"
           "*cos(radians(a.ra)-radians(b.ra))"
           " + sin(radians(a.dec))*sin(radians(b.dec))")
    return f"""
WITH det AS (
  SELECT s_suppkey * 10 + e AS det_id,
         ((((s_suppkey * 0.618034e0) % 360)
           + (((s_suppkey * 37) % 21 - 10) * 0.02) * e) % 360 + 360) % 360
           AS ra,
         LEAST(89.9999, GREATEST(-89.9999,
           degrees(asin(2 * ((s_suppkey * 0.381966e0) % 1) - 1))
           + (((s_suppkey * 53) % 21 - 10) * 0.02) * e)) AS dec,
         CAST(e AS DOUBLE) AS t
  FROM supplier CROSS JOIN (SELECT unnest(range(0, {TRACKLET_EPOCHS})) AS e))
SELECT a.det_id AS det_a, b.det_id AS det_b, b.t - a.t AS dt_days,
       round({dot}, 9) AS pair_dot
FROM det a CROSS JOIN det b
WHERE b.t - a.t > 0 AND b.t - a.t <= {TRACKLET_DT_MAX}
  AND a.det_id <> b.det_id
  AND {dot} >= cos(radians(LEAST(180.0,
                                 {TRACKLET_SPEED} * (b.t - a.t))))"""


def _lightcurve_sql() -> str:
    """Full-chain replay of _q_lightcurve: jittered detection synthesis,
    best_match window (same sep expression + right-id tiebreak), then the
    exact-integer (cents-quantized) per-object aggregation."""
    dot = ("cos(radians(d.dec))*cos(radians(c.dec))"
           "*cos(radians(d.ra)-radians(c.ra))"
           " + sin(radians(d.dec))*sin(radians(c.dec))")
    return f"""
WITH det AS (
  SELECT o_orderkey AS det_id,
         ((((o_custkey * 0.618034e0) % 360)
           + ((o_orderkey % 1000) - 500) * 0.000001) % 360 + 360) % 360
           AS ra,
         LEAST(89.9999, GREATEST(-89.9999,
           degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1))
           + (((o_orderkey // 7) % 1000) - 500) * 0.000001)) AS dec,
         o_totalprice AS flux, o_orderdate AS t
  FROM orders),
csky AS (
  SELECT c_custkey, (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer),
bm AS (
  SELECT det_id, c_custkey, flux, t FROM (
    SELECT d.det_id, c.c_custkey, d.flux, d.t,
      row_number() OVER (PARTITION BY d.det_id ORDER BY
        degrees(acos(least(greatest({dot}, -1.0), 1.0))) ASC,
        c.c_custkey ASC) AS rk
    FROM det d CROSS JOIN csky c
    WHERE {dot} >= cos(radians({LC_RADIUS}))
  ) WHERE rk = 1),
q AS (SELECT c_custkey, CAST(round(flux * 100) AS BIGINT) AS qf, t FROM bm)
SELECT c_custkey, count(*)::BIGINT AS n_det,
       round(sum(qf) / count(*) / 100, 6) AS flux_mean,
       min(qf) / 100.0 AS flux_min,
       max(qf) / 100.0 AS flux_max,
       (max(qf) - min(qf)) / 100.0 AS flux_amp,
       date_diff('day', CAST(min(t) AS DATE), CAST(max(t) AS DATE))
         AS span_days
FROM q GROUP BY c_custkey"""


def _moc_rollup_sql() -> str:
    """Static CTE ladder replaying the bottom-up sibling merge: m{o} =
    parents at order o whose 4 children all exist one level down; k{o} =
    cells kept at order o (parent not complete)."""
    parts = ["WITH p6 AS (SELECT DISTINCT (o_orderkey * 2654435761) % 49152"
             " AS pix FROM orders)"]
    prev = "p6"
    for o in range(6, 0, -1):
        m = f"m{o - 1}"
        parts.append(
            f"{m} AS (SELECT pix // 4 AS pix FROM {prev} "
            f"GROUP BY pix // 4 HAVING count(*) = 4)")
        parts.append(
            f"k{o} AS (SELECT pix FROM {prev} "
            f"WHERE pix // 4 NOT IN (SELECT pix FROM {m}))")
        prev = m
    selects = [f"SELECT {o} AS moc_order, pix FROM k{o}"
               for o in range(6, 0, -1)]
    selects.append("SELECT 0 AS moc_order, pix FROM m0")
    return ", ".join(parts) + " " + " UNION ALL ".join(selects)


def _fof_objects_sql(radius_deg: float = 2.0) -> str:
    """Exact all-pairs link graph + recursive-CTE closure + spherical-mean
    centroids — the independent replay of fof_objects."""
    dot = ("cos(radians(a.dec))*cos(radians(b.dec))"
           "*cos(radians(a.ra)-radians(b.ra))"
           " + sin(radians(a.dec))*sin(radians(b.dec))")
    return f"""WITH RECURSIVE csky AS (
  SELECT c_custkey, (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer WHERE c_custkey <= 1500),
pairs AS (
  SELECT a.c_custkey AS u, b.c_custkey AS v FROM csky a, csky b
  WHERE a.c_custkey <> b.c_custkey
    AND {dot} >= cos(radians({radius_deg!r}))),
reach(id, lbl) AS (
  SELECT u, u FROM pairs
  UNION
  SELECT p.v, r.lbl FROM reach r JOIN pairs p ON p.u = r.id),
comp AS (SELECT id, min(lbl) AS obj FROM reach GROUP BY id),
lab AS (
  SELECT coalesce(comp.obj, c.c_custkey) AS object_id,
         cos(radians(c.dec))*cos(radians(c.ra)) AS x,
         cos(radians(c.dec))*sin(radians(c.ra)) AS y,
         sin(radians(c.dec)) AS z
  FROM csky c LEFT JOIN comp ON comp.id = c.c_custkey),
agg AS (
  SELECT object_id, count(*)::BIGINT AS n_members,
         avg(x) AS mx, avg(y) AS my, avg(z) AS mz
  FROM lab GROUP BY object_id)
SELECT object_id, n_members,
       round((degrees(atan2(my, mx)) + 360.0) % 360.0, 6) AS ra_c,
       round(degrees(atan2(mz, sqrt(mx*mx + my*my))), 6) AS dec_c
FROM agg"""


def oracle_sql() -> dict[str, str]:
    cone1 = _cone_where(CONE)
    cone2 = _cone_where(CONE2)
    poly = _poly_where(POLY_RA, POLY_DEC)
    moc_cone_a = _cone_where(MOC_CONE_A)
    moc_cone_b = _cone_where(MOC_CONE_B)
    moc_poly = _poly_where(MOC_POLY_RA, MOC_POLY_DEC)

    knn_q_values = ", ".join(f"({i}, {ra!r}, {dec!r})" for i, ra, dec in KNN_QUERIES)

    tiles_where = {t["tile_id"]: _poly_where(t["ra"], t["dec"]) for t in TILES}
    tile_union = " UNION ALL ".join(
        f"SELECT {tid} AS tile_id, count(*) AS n_rows FROM sky WHERE {w}"
        for tid, w in tiles_where.items()
    )
    zonal_union = " UNION ALL ".join(
        f"SELECT {tid} AS tile_id, count(*) AS n_rows, "
        f"round(avg(o_totalprice), 6) AS mean_price, "
        f"min(o_orderkey) AS min_key, max(o_orderkey) AS max_key "
        f"FROM skyp WHERE {w}"
        for tid, w in tiles_where.items()
    )
    skyp_cte = _SKY_CTE.replace(
        "WITH sky AS (SELECT o_orderkey, ra, dec,",
        "WITH skyp AS (SELECT o_orderkey, o_totalprice, ra, dec,") \
        .replace("SELECT o_orderkey, o_custkey,",
                 "SELECT o_orderkey, o_custkey, o_totalprice,", 1)

    srad = repr(math.radians(CUTOUT_SCALE))
    half = CUTOUT_SIZE // 2
    cutout_sql = f"""
WITH imgs AS (
  SELECT o_orderkey AS image_id,
         (o_orderkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1)) AS dec,
         CASE o_orderkey % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (o_orderkey // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64
           END AS h
  FROM orders),
tgts AS (
  SELECT c_custkey AS target_id,
         (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer WHERE c_custkey <= 1500),
pix AS (
  SELECT t.target_id, i.image_id, i.w, i.h,
    sin(radians(i.dec)) * sin(radians(t.dec))
      + cos(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)) AS den,
    i.w / 2.0 - ((cos(radians(t.dec)) * sin(radians(t.ra) - radians(i.ra))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS px,
    i.h / 2.0 + (((cos(radians(i.dec)) * sin(radians(t.dec))
      - sin(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS py
  FROM tgts t CROSS JOIN imgs i),
win AS (
  SELECT target_id, image_id, w, h, px, py,
         CAST(FLOOR(px) AS INT) - {half} AS x0r,
         CAST(FLOOR(py) AS INT) - {half} AS y0r
  FROM pix WHERE den > 0 AND px >= 0 AND px < w AND py >= 0 AND py < h)
SELECT target_id, image_id, ROUND(px, 6) AS px, ROUND(py, 6) AS py,
       GREATEST(0, x0r) AS x0, LEAST(w, x0r + {CUTOUT_SIZE}) AS x1,
       GREATEST(0, y0r) AS y0, LEAST(h, y0r + {CUTOUT_SIZE}) AS y1,
       (LEAST(w, x0r + {CUTOUT_SIZE}) - GREATEST(0, x0r) = {CUTOUT_SIZE}
        AND LEAST(h, y0r + {CUTOUT_SIZE}) - GREATEST(0, y0r)
            = {CUTOUT_SIZE}) AS complete
FROM win"""

    psize = 2 * PHOT_APERTURE + 1
    photometry_sql = f"""
WITH imgs AS (
  SELECT o_orderkey AS image_id,
         (o_orderkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1)) AS dec,
         CASE o_orderkey % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (o_orderkey // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64
           END AS h
  FROM orders WHERE o_orderkey <= {PHOT_MAX_ID}),
tgts AS (
  SELECT c_custkey AS target_id,
         (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer WHERE c_custkey <= 1500),
pix AS (
  SELECT t.target_id, i.image_id, i.w, i.h,
    sin(radians(i.dec)) * sin(radians(t.dec))
      + cos(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)) AS den,
    i.w / 2.0 - ((cos(radians(t.dec)) * sin(radians(t.ra) - radians(i.ra))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS px,
    i.h / 2.0 + (((cos(radians(i.dec)) * sin(radians(t.dec))
      - sin(radians(i.dec)) * cos(radians(t.dec))
        * cos(radians(t.ra) - radians(i.ra)))
      / (sin(radians(i.dec)) * sin(radians(t.dec))
         + cos(radians(i.dec)) * cos(radians(t.dec))
           * cos(radians(t.ra) - radians(i.ra)))) / {srad}) AS py
  FROM tgts t CROSS JOIN imgs i),
winr AS (
  SELECT target_id, image_id, w, h,
         CAST(FLOOR(px) AS INT) - {PHOT_APERTURE} AS x0r,
         CAST(FLOOR(py) AS INT) - {PHOT_APERTURE} AS y0r
  FROM pix WHERE den > 0 AND px >= 0 AND px < w AND py >= 0 AND py < h),
win AS (
  SELECT target_id, image_id,
         GREATEST(0, x0r) AS x0, LEAST(w, x0r + {psize}) AS x1,
         GREATEST(0, y0r) AS y0, LEAST(h, y0r + {psize}) AS y1
  FROM winr)
SELECT target_id, image_id,
       ((x1 - x0) * (y1 - y0))::BIGINT AS npix,
       SUM((image_id * 31 + xs * 7 + ys * 13) % 251)::BIGINT AS flux
FROM win, unnest(range(win.x0, win.x1)) AS t1(xs),
     unnest(range(win.y0, win.y1)) AS t2(ys)
GROUP BY target_id, image_id, npix"""

    detect_ctes = f"""imgs AS (
  SELECT o_orderkey AS image_id,
         (o_orderkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((o_custkey * 0.381966e0) % 1) - 1)) AS dec,
         CASE o_orderkey % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
         CASE (o_orderkey // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64
           END AS h
  FROM orders WHERE o_orderkey <= 2000),
det AS (
  SELECT i.image_id, i.ra, i.dec, i.w, i.h,
         CAST((i.image_id * 7919 + s.s * 2741 + 5) % i.w AS INT) AS src_x,
         CAST((i.image_id * 6133 + s.s * 3571 + 11) % i.h AS INT) AS src_y
  FROM imgs i CROSS JOIN (VALUES (0), (1), (2)) AS s(s)),
tp AS (
  SELECT image_id, src_x, src_y,
         src_x + 0.5 AS pxc, src_y + 0.5 AS pyc,
         (w / 2.0 - (src_x + 0.5)) * {srad} AS xi,
         ((src_y + 0.5) - h / 2.0) * {srad} AS eta,
         radians(ra) AS a0, radians(dec) AS d0
  FROM det),
vec AS (
  SELECT image_id, src_x, src_y, pxc, pyc,
         (cos(d0)*cos(a0) - xi*sin(a0) - eta*sin(d0)*cos(a0))
           / sqrt(1.0 + xi*xi + eta*eta) AS gx,
         (cos(d0)*sin(a0) + xi*cos(a0) - eta*sin(d0)*sin(a0))
           / sqrt(1.0 + xi*xi + eta*eta) AS gy,
         (sin(d0) + eta*cos(d0)) / sqrt(1.0 + xi*xi + eta*eta) AS gz
  FROM tp)"""

    source_detect_sql = f"""
WITH {detect_ctes}
SELECT image_id, src_x, src_y,
       ROUND(pxc, 6) AS px, ROUND(pyc, 6) AS py,
       ROUND((degrees(atan2(gy, gx)) + 360.0) % 360.0, 6) AS src_ra,
       ROUND(degrees(asin(LEAST(GREATEST(gz, -1.0), 1.0))), 6) AS src_dec
FROM vec"""

    cosr_xm = repr(math.cos(math.radians(DETECT_XMATCH_RADIUS)))
    detect_xmatch_sql = f"""
WITH {detect_ctes},
srcs AS (
  SELECT image_id, src_x, src_y,
         ROUND((degrees(atan2(gy, gx)) + 360.0) % 360.0, 6) AS ra,
         ROUND(degrees(asin(LEAST(GREATEST(gz, -1.0), 1.0))), 6) AS dec
  FROM vec),
cskyx AS (
  SELECT c_custkey, (c_custkey * 0.618034e0) % 360 AS ra,
         degrees(asin(2 * ((c_custkey * 0.381966e0) % 1) - 1)) AS dec
  FROM customer)
SELECT s.image_id, s.src_x, s.src_y, c.c_custkey
FROM srcs s CROSS JOIN cskyx c
WHERE sin(radians(s.dec)) * sin(radians(c.dec))
      + cos(radians(s.dec)) * cos(radians(c.dec))
        * cos(radians(s.ra) - radians(c.ra)) >= {cosr_xm}"""

    return {
        "cutout": cutout_sql,
        "photometry": photometry_sql,
        "mosaic": _mosaic_sql(),
        "pyramid": _pyramid_sql(),
        "source_detect": source_detect_sql,
        "detect_xmatch": detect_xmatch_sql,
        "cone_htm": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {cone1}",
        "cone_s2": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {cone1}",
        "cone_h3": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {cone1}",
        "polygon_h3": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {poly}",
        "cone_hpx": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {cone2}",
        "polygon_htm": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {poly}",
        "polygon_s2": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {poly}",
        "region_count": f"{_SKY_CTE} SELECT count(*) AS n FROM sky WHERE {cone1}",
        "region_count_fast": (
            f"{_SKY_CTE} SELECT count(*) AS n FROM sky WHERE {cone1}"
        ),
        "region_join": (
            f"{_SKY_CTE} "
            f"SELECT 1 AS region_id, o_orderkey FROM sky WHERE {cone1} "
            f"UNION ALL SELECT 2, o_orderkey FROM sky WHERE {cone2} "
            f"UNION ALL SELECT 3, o_orderkey FROM sky WHERE {poly}"
        ),
        "crossmatch": (
            f"{_CUST_CTE} "
            "SELECT c.c_custkey AS c_custkey_l, s.s_suppkey AS s_suppkey_r "
            "FROM csky c, ssky s WHERE "
            "cos(radians(c.dec))*cos(radians(s.dec))*cos(radians(c.ra)-radians(s.ra)) "
            "+ sin(radians(c.dec))*sin(radians(s.dec)) >= cos(radians(1.5))"
        ),
        "best_match": (
            f"{_CUST_CTE} "
            "SELECT c_custkey_l, s_suppkey_r, round(cos(radians(sep)), 9) AS match_dot FROM ("
            "  SELECT c.c_custkey AS c_custkey_l, s.s_suppkey AS s_suppkey_r, "
            "    degrees(acos(least(greatest("
            "      cos(radians(c.dec))*cos(radians(s.dec))*cos(radians(c.ra)-radians(s.ra))"
            "      + sin(radians(c.dec))*sin(radians(s.dec)), -1.0), 1.0))) AS sep, "
            "    row_number() OVER (PARTITION BY c.c_custkey ORDER BY "
            "      degrees(acos(least(greatest("
            "        cos(radians(c.dec))*cos(radians(s.dec))*cos(radians(c.ra)-radians(s.ra))"
            "        + sin(radians(c.dec))*sin(radians(s.dec)), -1.0), 1.0))) ASC, "
            "      s.s_suppkey ASC) AS rk "
            "  FROM csky c, ssky s WHERE "
            "  cos(radians(c.dec))*cos(radians(s.dec))*cos(radians(c.ra)-radians(s.ra)) "
            "  + sin(radians(c.dec))*sin(radians(s.dec)) >= cos(radians(1.5))"
            ") WHERE rk = 1"
        ),
        "map_ud": _map_ud_sql(),
        "ring_order": _ring_order_sql(),
        "cross_corr": _cross_corr_sql(),
        "source_shape": _source_shape_sql(),
        "corr_jackknife": _corr_jackknife_sql(),
        "annulus_phot": _annulus_phot_sql(),
        "pm_fit": _pm_fit_sql(),
        "bayes_xmatch": _bayes_xmatch_sql(),
        "moc_ascii": _moc_rollup_sql(),
        "para_dedup": _para_dedup_sql(),
        "span_dedup": _span_dedup_sql(),
        "temperature_mix": _temperature_mix_sql(),
        "table_roundtrip": _table_roundtrip_sql(),
        "stream_roundtrip": _stream_roundtrip_sql(),
        "xmatch3": _xmatch3_sql(),
        "phase_fold": _phase_fold_sql(),
        "trend_fit": _trend_fit_sql(),
        "wcs_fit": _wcs_fit_sql(),
        "caption_dedup": _caption_dedup_sql(),
        "pm_xmatch": _pm_xmatch_sql(),
        "zone_xmatch": (
            # same pair semantics as crossmatch — the oracle is the
            # crossmatch oracle, renamed output only
            f"{_CUST_CTE} "
            "SELECT c.c_custkey AS c_custkey_l, s.s_suppkey AS s_suppkey_r "
            "FROM csky c, ssky s WHERE "
            "cos(radians(c.dec))*cos(radians(s.dec))*cos(radians(c.ra)-radians(s.ra)) "
            "+ sin(radians(c.dec))*sin(radians(s.dec)) >= cos(radians(1.5))"
        ),
        "periodogram": _periodogram_sql(),
        "variability": _variability_sql(),
        "galactic": _galactic_sql(),
        "correlation": _correlation_sql(),
        "map_smooth": _map_smooth_sql(),
        "diff_image": _diff_image_sql(),
        "moc_rollup": _moc_rollup_sql(),
        "density_mom": _density_mom_sql(50),
        "moc_filter": (
            f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE "
            f"(({moc_cone_a}) OR ({moc_cone_b})) AND NOT ({moc_poly})"
        ),
        "fof_objects": _fof_objects_sql(),
        "transients": (
            f"{_CUST_CTE}, sskyx AS (SELECT s_suppkey, "
            "(ra + 2.5) % 360 AS ra, dec FROM ssky) "
            "SELECT s.s_suppkey FROM sskyx s WHERE NOT EXISTS ("
            "  SELECT 1 FROM csky c WHERE "
            "  cos(radians(s.dec))*cos(radians(c.dec))*cos(radians(s.ra)-radians(c.ra)) "
            "  + sin(radians(s.dec))*sin(radians(c.dec)) >= cos(radians(1.5)))"
        ),
        "tracklets": _tracklets_sql(),
        "lightcurve": _lightcurve_sql(),
        # every flag is construction-guaranteed, so the oracle's expected
        # sum per flag is the row count itself
        "h3_kring": (
            "SELECT count(*)::BIGINT AS n_rows, "
            "count(*)::BIGINT AS n_self_ok, "
            "count(*)::BIGINT AS n_layout_ok, "
            "count(*)::BIGINT AS n_distinct_ok, "
            "count(*)::BIGINT AS n_nvalid_ok FROM orders"
        ),
        "knn_join": (
            f"{_CUST_CTE} "
            "SELECT c_custkey, s_suppkey, knn_rank FROM ("
            "  SELECT c.c_custkey, s.s_suppkey, "
            "    row_number() OVER (PARTITION BY c.c_custkey ORDER BY "
            "      degrees(acos(least(greatest("
            "        cos(radians(c.dec))*cos(radians(s.dec))*cos(radians(c.ra)-radians(s.ra))"
            "        + sin(radians(c.dec))*sin(radians(s.dec)), -1.0), 1.0))) ASC, "
            "      s.s_suppkey ASC"
            "    ) AS knn_rank "
            "  FROM csky c, ssky s"
            ") WHERE knn_rank <= 3"
        ),
        # identical oracle by design: auto_levels may only change the
        # probe schedule, never the answer
        "knn_join_auto": (
            f"{_CUST_CTE} "
            "SELECT c_custkey, s_suppkey, knn_rank FROM ("
            "  SELECT c.c_custkey, s.s_suppkey, "
            "    row_number() OVER (PARTITION BY c.c_custkey ORDER BY "
            "      degrees(acos(least(greatest("
            "        cos(radians(c.dec))*cos(radians(s.dec))*cos(radians(c.ra)-radians(s.ra))"
            "        + sin(radians(c.dec))*sin(radians(s.dec)), -1.0), 1.0))) ASC, "
            "      s.s_suppkey ASC"
            "    ) AS knn_rank "
            "  FROM csky c, ssky s"
            ") WHERE knn_rank <= 3"
        ),
        "knn": (
            f"{_CUST_CTE}, q(query_id, qra, qdec) AS (VALUES {knn_q_values}) "
            "SELECT query_id, c_custkey, knn_rank FROM ("
            "  SELECT q.query_id, c.c_custkey, "
            "    row_number() OVER (PARTITION BY q.query_id ORDER BY "
            "      degrees(acos(least(greatest("
            "        cos(radians(q.qdec))*cos(radians(c.dec))*cos(radians(q.qra)-radians(c.ra))"
            "        + sin(radians(q.qdec))*sin(radians(c.dec)), -1.0), 1.0))) ASC"
            "    ) AS knn_rank "
            "  FROM q, csky c"
            f") WHERE knn_rank <= {KNN_K}"
        ),
        "knn_starved": (
            f"{_CUST_CTE}, q(query_id, qra, qdec) AS (VALUES {knn_q_values}) "
            "SELECT query_id, c_custkey, knn_rank FROM ("
            "  SELECT q.query_id, c.c_custkey, "
            "    row_number() OVER (PARTITION BY q.query_id ORDER BY "
            "      degrees(acos(least(greatest("
            "        cos(radians(q.qdec))*cos(radians(c.dec))*cos(radians(q.qra)-radians(c.ra))"
            "        + sin(radians(q.qdec))*sin(radians(c.dec)), -1.0), 1.0))) ASC"
            "    ) AS knn_rank "
            "  FROM q, csky c"
            ") WHERE knn_rank <= 10"
        ),
        "tile_assign": f"{_SKY_CTE} SELECT * FROM ({tile_union}) ORDER BY tile_id",
        "zonal_stats": f"{skyp_cte} SELECT * FROM ({zonal_union}) ORDER BY tile_id",
        "cell_counts": "SELECT count(*) AS total_rows FROM orders",
        "exact_dedup": (
            "SELECT doc_id FROM ("
            "  SELECT doc_id, row_number() OVER ("
            "    PARTITION BY lower(regexp_replace(text, '\\s+', ' ', 'g')) "
            "    ORDER BY doc_id) AS rn FROM documents"
            ") WHERE rn = 1"
        ),
        "ann_int8": (
            "WITH qz AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
            "  x -> greatest(least(floor(x*127), 127), -127)::BIGINT) AS z "
            "FROM embeddings), "
            "exact AS (SELECT query_id, vec_id FROM ("
            "  SELECT q.vec_id AS query_id, d.vec_id, "
            "    row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "      list_cosine_similarity(q.embedding::DOUBLE[], d.embedding::DOUBLE[]) DESC, "
            "      d.vec_id ASC) AS rank "
            "  FROM embeddings q, embeddings d WHERE q.vec_id < 3) WHERE rank <= 5) "
            "SELECT a.query_id, a.vec_id, a.qdot, a.rank, "
            "  CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS hit FROM ("
            "  SELECT q.vec_id AS query_id, d.vec_id, "
            "    list_dot_product(q.z, d.z)::BIGINT AS qdot, "
            "    row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "      list_dot_product(q.z, d.z) DESC, d.vec_id ASC) AS rank "
            "  FROM qz q, qz d WHERE q.vec_id < 3"
            ") a LEFT JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id "
            "WHERE a.rank <= 5"
        ),
        "ann_brute": (
            "SELECT query_id, vec_id, rank FROM ("
            "  SELECT q.vec_id AS query_id, d.vec_id, "
            "    row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "      list_cosine_similarity(q.embedding::DOUBLE[], d.embedding::DOUBLE[]) DESC, "
            "      d.vec_id ASC) AS rank "
            "  FROM embeddings q, embeddings d WHERE q.vec_id < 3"
            ") WHERE rank <= 5"
        ),
        "text_quality": (
            "SELECT doc_id, "
            "  len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words, "
            "  round((length(text) - length(regexp_replace(text, "
            "    '[\\.,;:!\\?\"''\\(\\)]', '', 'g'))) * 1.0 "
            "    / greatest(length(text), 1), 6) AS punct_ratio, "
            "  round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            "    t -> t IN ('the','and','of','to','in','is','that','it','was','for'))) * 1.0 "
            "    / greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1), 6) "
            "    AS stopword_ratio "
            "FROM documents"
        ),
        "token_count": (
            "SELECT doc_id, "
            "  len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS ws_tokens, "
            "  greatest(len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT, "
            "           ceil(length(text) / 4.0)::BIGINT) AS bpe_tokens_est "
            "FROM documents"
        ),
        "sessionize": (
            "WITH o AS (SELECT user_id, event_id, ts, "
            "  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts "
            "FROM events), "
            "b AS (SELECT user_id, event_id, ts, "
            "  (pts IS NULL OR epoch(ts) - epoch(pts) > 1800)::BIGINT AS nb "
            "FROM o), "
            "s AS (SELECT user_id, event_id, "
            "  sum(nb) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT - 1 AS session_seq "
            "FROM b) "
            "SELECT user_id, session_seq, count(*) AS n_events, "
            "  min(event_id) AS first_event "
            "FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq"
        ),
        "source_cap": (
            "SELECT doc_id, source FROM ("
            "  SELECT doc_id, source, row_number() OVER ("
            "    PARTITION BY source ORDER BY doc_id) AS rk FROM documents) "
            "WHERE rk <= 15"
        ),
        "stratified_sample": (
            "SELECT doc_id, source FROM documents "
            "WHERE ((((doc_id % 1000003) * 2654435761) % 999999937 "
            "  % 10000) + 10000) % 10000 < "
            "  CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 9000 "
            "  WHEN 'src2' THEN 2500 ELSE 1000 END"
        ),
        "repetition": (
            "WITH t AS (SELECT doc_id, "
            "  string_split(text, chr(10)) AS ls, "
            "  string_split_regex(lower(trim(text)), '\\s+') AS ws "
            "FROM documents), "
            "g AS (SELECT doc_id, ls, ws, "
            "  CASE WHEN len(ws) >= 5 THEN list_transform(range(0, len(ws)-4), "
            "    i -> array_to_string(ws[i+1:i+5], ' ')) ELSE [] END AS g5, "
            "  CASE WHEN len(ws) >= 2 THEN list_transform(range(0, len(ws)-1), "
            "    i -> array_to_string(ws[i+1:i+2], ' ')) ELSE [] END AS g2 "
            "FROM t), "
            "cnt AS (SELECT doc_id, max(c) AS top FROM ("
            "  SELECT doc_id, u.g AS gg, count(*) AS c "
            "  FROM g, unnest(g2) AS u(g) GROUP BY doc_id, gg) GROUP BY doc_id), "
            "m AS (SELECT g.doc_id, "
            "  CASE WHEN len(ls) > 0 THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls) ELSE 0.0 END AS dlf, "
            "  CASE WHEN len(g5) > 0 THEN 1.0 - len(list_distinct(g5))::DOUBLE / len(g5) ELSE 0.0 END AS d5f, "
            "  CASE WHEN len(g2) > 0 THEN coalesce(cnt.top, 0)::DOUBLE / len(g2) ELSE 0.0 END AS t2f "
            "FROM g LEFT JOIN cnt ON cnt.doc_id = g.doc_id) "
            "SELECT doc_id, round(dlf, 9) AS dup_line_frac, "
            "  round(d5f, 9) AS dup_5gram_frac, round(t2f, 9) AS top_2gram_frac, "
            "  (dlf <= 0.30 AND d5f <= 0.30 AND t2f <= 0.20)::INT AS repetition_ok "
            "FROM m"
        ),
        "seq_pack": (
            "WITH t AS (SELECT doc_id, doc_id % 4 AS shard, "
            "  len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n "
            "FROM documents), "
            "o AS (SELECT doc_id, shard, n, "
            "  coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off "
            "FROM t) "
            "SELECT doc_id, shard, off::BIGINT AS pack_offset, "
            "  (off // 256)::BIGINT AS bin_start, "
            "  ((off + greatest(n, 1) - 1) // 256)::BIGINT AS bin_end, "
            "  (off % 256)::BIGINT AS bin_offset "
            "FROM o"
        ),
        "lang_id": (
            "WITH tok AS (SELECT doc_id, "
            "  string_split_regex(lower(trim(text)), '\\s+') AS ts FROM documents), "
            "hits AS (SELECT doc_id, "
            "  len(list_filter(ts, t -> t IN ('the','and','of','to','in','is','that','it','was','for'))) AS h_en, "
            "  len(list_filter(ts, t -> t IN ('der','die','und','das','ist','nicht','mit','ein','zu','den'))) AS h_de, "
            "  len(list_filter(ts, t -> t IN ('le','la','et','les','des','est','une','dans','que','pour'))) AS h_fr, "
            "  len(list_filter(ts, t -> t IN ('el','la','los','las','es','una','para','con','por','del'))) AS h_es "
            "FROM tok) "
            "SELECT doc_id, CASE "
            "  WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unknown' "
            "  WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en' "
            "  WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de' "
            "  WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr' "
            "  ELSE 'es' END AS lang_pred "
            "FROM hits"
        ),
        "events_window": (
            "SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type, "
            "  count(*) AS n, round(sum(value), 6) AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
        "polygon_hpx": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {poly}",
        "cone_base4": f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE {cone1}",
        "ellipse_htm": (
            f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE "
            + _ellipse_where()
        ),
        "hull_htm": (
            f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE "
            + _geom_sql("", [(e.x, e.y, e.z, 0.0) for e in _hull().edges])
        ),
        "hull_s2": (
            f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE "
            + _geom_sql("", [(e.x, e.y, e.z, 0.0) for e in _hull().edges])
        ),
        "hull_h3": (
            f"{_SKY_CTE} SELECT o_orderkey FROM sky WHERE "
            + _geom_sql("", [(e.x, e.y, e.z, 0.0) for e in _hull().edges])
        ),
        "range_join": (
            "WITH views AS (SELECT event_id AS view_id, user_id, ts AS s, "
            "  ts + INTERVAL 1 HOUR AS e FROM events WHERE event_type = 'view'), "
            "clicks AS (SELECT event_id AS click_id, user_id, ts FROM events "
            "  WHERE event_type = 'click') "
            "SELECT v.view_id, c.click_id FROM views v JOIN clicks c "
            "  ON v.user_id = c.user_id AND c.ts BETWEEN v.s AND v.e"
        ),
        "asof_join": (
            "WITH clicks AS (SELECT event_id, user_id, ts FROM events "
            "  WHERE event_type = 'click'), "
            "views AS (SELECT event_id, user_id, ts, value FROM events "
            "  WHERE event_type = 'view') "
            "SELECT c.event_id AS click_id, v.event_id AS view_id, "
            "  round(v.value, 6) AS view_value "
            "FROM clicks c ASOF LEFT JOIN views v "
            "  ON c.user_id = v.user_id AND c.ts >= v.ts"
        ),
        "conn_components": (
            "WITH RECURSIVE "
            "tok AS (SELECT doc_id, "
            "  (len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT % 2) AS b "
            "  FROM documents), "
            "edges AS (SELECT a.doc_id AS u, a.doc_id + 1 AS v "
            "  FROM tok a JOIN tok c ON c.doc_id = a.doc_id + 1 AND c.b = a.b), "
            "sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges), "
            "reach(id, lbl) AS ( "
            "  SELECT u, u FROM sym "
            "  UNION "
            "  SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.id) "
            "SELECT id, min(lbl) AS component FROM reach GROUP BY id ORDER BY id"
        ),
        "count_bounds": "SELECT 1 AS bracket_ok",
        "count_bounds_poly": (
            f"{_SKY_CTE} SELECT 1 AS bracket_ok, count(*) AS n "
            f"FROM sky WHERE {poly}"
        ),
        "count_bounds_ellipse": (
            f"{_SKY_CTE} SELECT 1 AS bracket_ok, count(*) AS n "
            f"FROM sky WHERE " + _ellipse_where()
        ),
        "count_bounds_ellipse_hpx": (
            f"{_SKY_CTE} SELECT 1 AS bracket_ok, count(*) AS n "
            f"FROM sky WHERE " + _ellipse_where()
        ),
        "count_bounds_ellipse_s2": (
            f"{_SKY_CTE} SELECT 1 AS bracket_ok, count(*) AS n "
            f"FROM sky WHERE " + _ellipse_where()
        ),
        "count_bounds_h3": (
            f"{_SKY_CTE} SELECT 1 AS bracket_ok, count(*) AS n "
            f"FROM sky WHERE {cone1}"
        ),
        "count_fast_poly": (
            f"{_SKY_CTE} SELECT count(*) AS n FROM sky WHERE {poly}"
        ),
        "count_fast_s2": (
            f"{_SKY_CTE} SELECT count(*) AS n FROM sky WHERE {cone1}"
        ),
        "count_fast_h3": (
            f"{_SKY_CTE} SELECT count(*) AS n FROM sky WHERE {poly}"
        ),
        "count_fast_hpx": (
            f"{_SKY_CTE} SELECT count(*) AS n FROM sky WHERE {cone2}"
        ),
        "cell_rollup": (
            "SELECT lv AS level, (SELECT count(*) FROM orders) AS total "
            "FROM (SELECT unnest([4,5,6,7]) AS lv) ORDER BY lv"
        ),
        "s2_h3_cells": (
            "SELECT count(*) AS n, 1 AS s2_min_ok, 1 AS s2_max_ok, "
            "1 AS h3_res_ok, 1 AS s2h_face_ok, 1 AS s2h_contain_ok, "
            "1 AS h3x_ok, 1 AS h3x_spread_ok "
            "FROM orders"
        ),
        "angsep": (
            f"{_SKY_CTE} SELECT o_orderkey, round(degrees(atan2("
            f"  sqrt( (y*({_cv(2)!r}) - z*({_cv(1)!r}))^2"
            f"      + (z*({_cv(0)!r}) - x*({_cv(2)!r}))^2"
            f"      + (x*({_cv(1)!r}) - y*({_cv(0)!r}))^2 ),"
            f"  x*({_cv(0)!r}) + y*({_cv(1)!r}) + z*({_cv(2)!r}))), 9) AS sep "
            "FROM sky WHERE o_orderkey <= 2000"
        ),
        # fingerprint: min of rolling 8-byte polynomial hashes mod 2^64 —
        # HUGEINT arithmetic reproduces the uint64 wrap exactly (ASCII docs,
        # so ord(substr) == the UTF-8 byte)
        "fingerprint": ('WITH pos AS (SELECT doc_id, text, unnest(range(1, length(text) - 8 + 2)) AS p FROM documents WHERE length(text) >= 8), hashes AS (SELECT doc_id, (ord(substr(text, p + 0, 1))::HUGEINT * 1::HUGEINT + ord(substr(text, p + 1, 1))::HUGEINT * 257::HUGEINT + ord(substr(text, p + 2, 1))::HUGEINT * 66049::HUGEINT + ord(substr(text, p + 3, 1))::HUGEINT * 16974593::HUGEINT + ord(substr(text, p + 4, 1))::HUGEINT * 4362470401::HUGEINT + ord(substr(text, p + 5, 1))::HUGEINT * 1121154893057::HUGEINT + ord(substr(text, p + 6, 1))::HUGEINT * 288136807515649::HUGEINT + ord(substr(text, p + 7, 1))::HUGEINT * 74051159531521793::HUGEINT) % 18446744073709551616::HUGEINT AS h FROM pos), mins AS (SELECT doc_id, min(h) AS m FROM hashes GROUP BY doc_id) SELECT doc_id, (CASE WHEN m >= 9223372036854775808::HUGEINT THEN m - 18446744073709551616::HUGEINT ELSE m END)::BIGINT AS fp FROM mins'),
        "minhash_dedup": _minhash_oracle_sql(),
        "minhash_transitive": _minhash_oracle_sql(transitive=True),
        "simhash_dedup": _simhash_oracle_sql(),
        "train_pipeline": (
            "WITH t AS (SELECT doc_id, "
            "  string_split_regex(lower(trim(text)), '\\s+') AS ws "
            "FROM documents), "
            "tok AS (SELECT doc_id, len(ws)::BIGINT AS n FROM t "
            "  WHERE doc_id % 50 != 0 AND len(ws) >= 20), "
            "g AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 8 THEN "
            "  list_transform(range(0, len(ws) - 8 + 1), "
            "    i -> array_to_string(ws[i+1:i+8], ' ')) "
            "  ELSE [] END) AS gram FROM t), "
            "ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0), "
            "hits AS (SELECT DISTINCT doc_id FROM g "
            "  WHERE doc_id % 50 != 0 AND gram IN (SELECT gram FROM ev)), "
            "clean AS (SELECT doc_id, doc_id % 4 AS shard, n FROM tok "
            "  WHERE doc_id NOT IN (SELECT doc_id FROM hits)), "
            "o AS (SELECT doc_id, shard, n, "
            "  coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off "
            "FROM clean) "
            "SELECT doc_id, shard, off::BIGINT AS pack_offset, "
            "  (off // 256)::BIGINT AS bin_start, "
            "  ((off + greatest(n, 1) - 1) // 256)::BIGINT AS bin_end, "
            "  (off % 256)::BIGINT AS bin_offset "
            "FROM o"
        ),
        "image_filter": (
            "WITH imgs AS (SELECT doc_id, "
            "  32 + (doc_id * 37) % 2000 AS w, "
            "  32 + (doc_id * 91) % 3000 AS h, "
            "  floor(CASE WHEN doc_id % 13 = 0 THEN "
            "    ((32 + (doc_id * 37) % 2000) * (32 + (doc_id * 91) % 3000)) / 100 "
            "  ELSE "
            "    ((32 + (doc_id * 37) % 2000) * (32 + (doc_id * 91) % 3000)) * 0.8 "
            "  END)::BIGINT AS nbytes FROM documents) "
            "SELECT doc_id, w, h, nbytes, "
            "  (least(w, h) >= 64 AND greatest(w, h) <= 16384 "
            "   AND greatest(w, h)::DOUBLE / least(w, h) <= 4.0 "
            "   AND nbytes::DOUBLE / (w * h) >= 0.05)::INT AS image_ok "
            "FROM imgs"
        ),
        # counts are PROGRESSIVE (pattern i counted on the text after
        # patterns 0..i-1 replaced), mirroring pii_scrub's sequential chain
        "pii_scrub": (
            "WITH seeded AS (SELECT doc_id, "
            "  text || ' contact user' || doc_id || '@example.com at 10.0.' "
            "  || (doc_id % 256) || '.' || ((doc_id * 7) % 256) "
            "  || ' ref ' || (doc_id * 1000003 + 123456789) AS t0 "
            "FROM documents), "
            "s1 AS (SELECT doc_id, t0, regexp_replace(t0, "
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "  '<EMAIL>', 'g') AS t1 FROM seeded), "
            "s2 AS (SELECT doc_id, t0, t1, regexp_replace(t1, "
            "  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', "
            "  '<IP>', 'g') AS t2 FROM s1) "
            "SELECT doc_id, "
            "  regexp_replace(t2, '\\b\\d{9,}\\b', '<NUMBER>', 'g') AS text, "
            "  len(regexp_extract_all(t0, "
            "    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT "
            "    AS n_email, "
            "  len(regexp_extract_all(t1, "
            "    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT "
            "    AS n_ipv4, "
            "  len(regexp_extract_all(t2, '\\b\\d{9,}\\b'))::INT "
            "    AS n_longnum "
            "FROM s2"
        ),
        "decontaminate": (
            "WITH t AS (SELECT doc_id, "
            "  string_split_regex(lower(trim(text)), '\\s+') AS ws "
            "FROM documents), "
            "g AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 8 THEN "
            "  list_transform(range(0, len(ws) - 8 + 1), "
            "    i -> array_to_string(ws[i+1:i+8], ' ')) "
            "  ELSE [] END) AS gram FROM t), "
            "ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0), "
            "hits AS (SELECT DISTINCT doc_id FROM g "
            "  WHERE doc_id % 50 != 0 AND gram IN (SELECT gram FROM ev)) "
            "SELECT d.doc_id, "
            "  (d.doc_id IN (SELECT doc_id FROM hits))::INT AS contaminated "
            "FROM documents d WHERE d.doc_id % 50 != 0"
        ),
        # replays the BANDED phash algorithm (16-bit bands + exact
        # bit_count(xor) <= 3) on the same deterministically-synthesized
        # image table — candidate generation AND verify both value-gated
        "phash_dedup": (
            "WITH d AS (SELECT doc_id, "
            "  ((doc_id * 1103515245 + 12345) % 2147483647) << 32 "
            "  | ((doc_id * 69069 + 1) % 4294967291) AS ph FROM documents), "
            "imgs AS ("
            "  SELECT doc_id * 2 AS image_id, ph FROM d "
            "  UNION ALL "
            "  SELECT doc_id * 2 + 1, xor(ph, "
            "    (1::BIGINT << (doc_id % 31)) + (1::BIGINT << ((doc_id + 7) % 31))) "
            "  FROM d WHERE doc_id % 20 = 0), "
            "bands AS (SELECT image_id, ph, b.band, "
            "  (ph >> (b.band * 16)) & 65535 AS bh "
            "  FROM imgs, (SELECT unnest(range(4)) AS band) b), "
            "pairs AS (SELECT DISTINCT x.image_id AS ia, y.image_id AS ib, "
            "  x.ph AS ha, y.ph AS hb FROM bands x JOIN bands y "
            "  ON x.band = y.band AND x.bh = y.bh AND x.image_id < y.image_id), "
            "losers AS (SELECT DISTINCT ib FROM pairs "
            "  WHERE bit_count(xor(ha, hb)) <= 3) "
            "SELECT image_id, ph FROM imgs "
            "WHERE image_id NOT IN (SELECT ib FROM losers)"
        ),
        "ann_lsh": _ann_lsh_oracle_sql(),
        "ann_ivf": _ann_ivf_oracle_sql(),
        "ann_pq": _ann_pq_oracle_sql(),
        "embed_dedup": _embed_dedup_oracle_sql(),
    }
