"""Mosaic coadd scale probe: coadd_mosaic over a large synthetic image
table, measuring the two scale-relevant quantities the operator's design
claims (operators/cutouts.py docstring):

1. the candidate DUPLICATION FACTOR — ring-1 explosion sends each image
   to up to 9 neighbor tiles, but the pre-shuffle center-distance prune
   should keep the average number of tiles an image actually shuffles to
   near 1 (corner images touch 2-4);
2. end-to-end throughput and the per-stage split (candidate build +
   prune vs the per-tile decode/resample applyInPandas), at two input
   sizes to show the pipeline is linear in image count.

Writes bench_artifacts/mosaic_probe.json.  Run isolated (not
concurrently with bench scaling pairs).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def run_size(spark, n_images: int, level: int, tile_px: int,
             scale_deg_px: float) -> dict:
    import pyspark.sql.functions as F

    from spatialindex_spark.operators.cutouts import (
        _tile_center_map, coadd_mosaic)
    from spatialindex_spark.functions.healpix import (explode_cells,
                                                      neighbors_col)
    from spatialindex_spark.operators.joins import hpx_cell_key
    from spatialindex_spark.sources.images import synth_images_indexed

    imgs = (synth_images_indexed(spark, n_images, level=7,
                                 partitions=max(CPUS * 2, 8),
                                 systems=("htm", "hpx"))
            .select("image_id", "bytes", "w", "h", "fmt", "ra", "dec",
                    "hpx7")
            .localCheckpoint(eager=True))    # charge synthesis separately

    # candidate-stage shape: replicate the operator's pre-shuffle prune
    # to measure the dup factor it achieves (rows after prune / images)
    import math

    from spatialindex_spark.functions.healpix import max_pix_rad

    tile_rad = max_pix_rad(level)
    centers = _tile_center_map(spark, level)
    cand = (explode_cells(imgs.withColumn("_pix",
                                          hpx_cell_key("hpx7", 7, level)),
                          neighbors_col(level, "_pix"), "_tile",
                          ["image_id", "ra", "dec", "w", "h"])
            .join(F.broadcast(centers), "_tile"))
    half_diag = (F.sqrt(F.col("w") * F.col("w") + F.col("h") * F.col("h"))
                 * F.lit(math.radians(scale_deg_px) / 2.0))
    rad = F.radians
    dot = (F.cos(rad("dec")) * F.cos(rad(F.col("_tdec")))
           * F.cos(rad("ra") - rad(F.col("_tra")))
           + F.sin(rad("dec")) * F.sin(rad(F.col("_tdec"))))
    bound = F.cos(F.least(F.lit(math.pi),
                          half_diag + F.lit(tile_rad * math.sqrt(2.0))))
    # box prune replica (operators/cutouts.py prune 2): grid-square
    # containment with the gnomonic-stretch margin
    from spatialindex_spark.operators.cutouts import _tan_px_cols

    tile_scale = 2.0 * tile_rad / tile_px
    cpx, cpy, cden = _tan_px_cols(
        F.col("ra"), F.col("dec"), F.col("_tra"), F.col("_tdec"),
        F.lit(tile_px), F.lit(tile_px), math.degrees(tile_scale))
    margin = half_diag * F.lit(2.0) / F.lit(tile_scale)
    box = ((cden > 0)
           & (cpx >= -margin) & (cpx <= F.lit(float(tile_px)) + margin)
           & (cpy >= -margin) & (cpy <= F.lit(float(tile_px)) + margin))
    t0 = time.time()
    pre = cand.count()
    post = cand.filter((dot >= bound) & box).count()
    t_cand = time.time() - t0

    t0 = time.time()
    out = coadd_mosaic(imgs, level, tile_px, scale_deg_px,
                       cell_col="hpx7", cell_level=7)
    n_tiles = out.count()
    t_total = time.time() - t0
    stats = out.agg(F.sum("n_images").alias("contrib"),
                    F.sum("covered_px").alias("covered")).collect()[0]

    return {
        "n_images": n_images,
        "level": level,
        "tile_px": tile_px,
        "scale_deg_px": scale_deg_px,
        "tiles_out": n_tiles,
        "cand_pre_prune": pre,
        "cand_post_prune": post,
        "dup_factor_pre": round(pre / n_images, 3),
        "dup_factor_post": round(post / n_images, 3),
        "contributions": int(stats["contrib"]),
        "candidate_stage_sec": round(t_cand, 2),
        "coadd_total_sec": round(t_total, 2),
        "images_per_sec": round(n_images / t_total, 1),
    }


def main():
    from spatialindex_spark.plans import get_session

    spark = get_session(app="mosaic-probe", cores=CPUS,
                        shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for n in (50_000, 200_000):
        r = run_size(spark, n, level=3, tile_px=32, scale_deg_px=0.01)
        print(json.dumps(r))
        rows.append(r)

    out = {
        "measurement": "isolated session, localCheckpoint'd input "
                       "(synthesis excluded), single timed pass",
        "rows": rows,
        "linear_scaling_ratio": round(
            (rows[1]["coadd_total_sec"] / rows[0]["coadd_total_sec"])
            / (rows[1]["n_images"] / rows[0]["n_images"]), 3),
    }
    path = os.path.join(REPO, "bench_artifacts", "mosaic_probe.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
