"""Zone-based crossmatch: the Gray/Nieto-Santisteban/Szalay "Zones"
algorithm (MSR-TR-2004-32 / SIGMOD'07 "The Zones Algorithm for Finding
Points-Near-a-Point or Cross-Matching Spatial Datasets") as a second
physical strategy for J3 next to the cell-keyed :func:`~.joins.crossmatch`.

Semantics are IDENTICAL to ``crossmatch`` — all pairs (l, r) with angular
separation <= radius_deg — but the candidate key is a declination band
(``zone = floor((dec + 90) / h)``) instead of a HEALPix ring key, and the
in-band prune is a pure-Column RA/dec window instead of cell adjacency.
The whole plan is JVM Column arithmetic: no Python evaluation anywhere,
not even at ingest (the cell strategy needs a pandas UDF or an ingest-time
cell column to key rows; zones never does).

Trade-off vs the cell strategy, in 100-TB terms:

- zones shuffle on ~``180/h`` distinct keys — far coarser than cell keys,
  so per-zone partitions are larger and equatorial zones (max area per
  band) skew harder; AQE skew-split handles moderate cases, the cell
  strategy wins on heavily clustered sky.
- the left side replicates into ``ceil(r/h)+1`` zones (default h=r: 2×)
  vs the ring-1 explode's ~4× (interior cells have 8 neighbors + self but
  the ring disc dedups per row); both bounded constants.
- zones need no covering math at all, so the strategy also serves as an
  independent CORRECTNESS witness for the ring-keyed plan (pairs must be
  set-equal; tested).

Reference seed: the reference delegates joins to a DBMS (SURVEY §2.8);
this is the published SQL-engine formulation of the same cone predicate
(spt.c cone semantics at pair granularity).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

RAD_PER_DEG = math.pi / 180.0


def zone_of(dec_col, zone_height_deg: float):
    """Zone id for a declination Column: ``floor((dec + 90) / h)``."""
    return F.floor((dec_col + F.lit(90.0)) / F.lit(float(zone_height_deg)))


def zone_crossmatch(left: DataFrame, right: DataFrame, radius_deg: float,
                    zone_height_deg: float | None = None,
                    left_cols=("ra", "dec"), right_cols=("ra", "dec"),
                    suffixes=("_l", "_r")) -> DataFrame:
    """All pairs (l, r) with angular separation <= ``radius_deg`` via
    declination zones (equi-join on the zone id + RA/dec window prune +
    exact dot residual).

    ``zone_height_deg`` defaults to ``radius_deg`` (the paper's choice:
    a point's matches live in at most ``ceil(r/h)+1 = 2`` adjacent zones).

    Scale shape: ONE shuffle, keyed by the zone id. The left side
    explodes into its ``ceil(r/h)+1`` candidate zones with
    ``F.sequence`` (pure JVM); the dec window and the circular-RA alpha
    window ride inside the join condition so Catalyst keeps them as
    pushed residuals of the zone equi-join (SortMergeJoin, never a
    nested-loop). The alpha bound follows the paper:
    ``alpha = asin(sin(r) / cos(|dec| + r))`` evaluated at the row's own
    dec (widest possible RA offset anywhere within r), degenerating to
    a full-circle pass within r of the poles; the exact dot predicate
    decides membership, so alpha only needs to be sound, not tight.
    """
    if radius_deg <= 0 or radius_deg > 90:
        raise ValueError("radius_deg must be in (0, 90]")
    h = float(zone_height_deg if zone_height_deg is not None else radius_deg)
    if h <= 0:
        raise ValueError("zone_height_deg must be > 0")

    lr, ld = left_cols
    rr, rd = right_cols
    sl, sr = suffixes
    lsel = [F.col(c).alias(c + sl) for c in left.columns]
    rsel = [F.col(c).alias(c + sr) for c in right.columns]

    r = float(radius_deg)
    # left probes every zone its r-disc can touch: floor((dec-r+90)/h)
    # .. floor((dec+r+90)/h), clamped to the valid band range
    zmax = int(math.ceil(180.0 / h)) - 1
    zlo = F.greatest(F.lit(0), F.floor(
        (F.col(ld) - F.lit(r) + F.lit(90.0)) / F.lit(h)))
    zhi = F.least(F.lit(zmax).cast("bigint"), F.floor(
        (F.col(ld) + F.lit(r) + F.lit(90.0)) / F.lit(h)))
    lkey = left.select(*lsel,
                       F.explode(F.sequence(zlo, zhi)).alias("_zl"))
    # dec = +90 exactly would land one past the last band; clamp it in
    # (the left probe range is clamped to the same zmax)
    rkey = right.select(*rsel,
                        F.least(F.lit(zmax).cast("bigint"),
                                zone_of(F.col(rd), h).cast("bigint"))
                        .alias("_zr"))

    ldc, rdc = F.col(ld + sl), F.col(rd + sr)
    lrc, rrc = F.col(lr + sl), F.col(rr + sr)

    sin_r = math.sin(r * RAD_PER_DEG)
    # widest |dec| the pair's left end can reach stays < 90 - r, else the
    # disc laps the pole and every RA is a candidate
    edge = F.abs(ldc) + F.lit(r)
    alpha = F.when(edge >= F.lit(90.0), F.lit(180.0)).otherwise(
        F.degrees(F.asin(F.least(
            F.lit(1.0), F.lit(sin_r) / F.cos(F.radians(edge))))))
    dra = F.abs(lrc - rrc)
    ra_ok = F.least(dra, F.lit(360.0) - dra) <= alpha

    dot = (F.cos(F.radians(ldc)) * F.cos(F.radians(rdc))
           * F.cos(F.radians(lrc) - F.radians(rrc))
           + F.sin(F.radians(ldc)) * F.sin(F.radians(rdc)))
    cond = ((F.col("_zl") == F.col("_zr"))
            & rdc.between(ldc - F.lit(r), ldc + F.lit(r))
            & ra_ok
            & (dot >= F.lit(math.cos(r * RAD_PER_DEG))))
    # each right row carries exactly ONE zone and the left probe list is a
    # strictly increasing sequence, so a pair can meet on at most one key:
    # the join output is duplicate-free without a dedup pass
    return (lkey.join(rkey, cond, "inner")
            .drop("_zl", "_zr"))
