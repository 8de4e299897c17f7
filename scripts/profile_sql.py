"""SQL-execution-level profiler: run a query body once (after warm),
then dump every SQL execution's duration + the node metrics of the
slowest nodes from the UI REST API. Attributes wall time to operators
(guide §7.1 "SQL tab"), which stage names alone cannot.

Usage: python scripts/profile_sql.py photometry [--sf1]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

os.environ.setdefault("SPARK_GRAFT_UI", "true")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from profile_query import rest_api_base


def sql_execs(api: str, since: int):
    url = f"{api}/sql?details=true&planDescription=false&length=200"
    with urllib.request.urlopen(url) as r:
        es = json.load(r)
    return [e for e in es if e["id"] >= since]


def main():
    qname = sys.argv[1]
    sf1 = "--sf1" in sys.argv

    spark = bench.get_session(bench.CPUS)
    bench._GC_SESSION = spark
    if sf1:
        path = "/tmp/spark_graft_bench_images_sf1.0"
        bench.build_image_table(spark, 1_000_000, path)
    else:
        path = bench.IMG_TABLE
        bench.build_image_table(spark)
    images = spark.read.parquet(path)
    images.count()
    api = rest_api_base(spark)

    from spatialindex_spark.operators.detect import forced_photometry
    from spatialindex_spark.operators.cutouts import cutout_windows
    from spatialindex_spark.operators.dedup import minhash_lsh_dedup
    from spatialindex_spark.operators.joins import crossmatch
    from spatialindex_spark.operators.knn import knn

    def _targets(img):
        n = img.count()
        return (img.filter(F.abs(F.xxhash64("image_id")) % (n // 512 + 1)
                           == 0)
                .select(F.xxhash64("image_id").alias("target_id"),
                        ((F.col("ra") + 0.003) % 360).alias("ra"),
                        F.greatest(F.lit(-89.9), F.least(
                            F.lit(89.9), F.col("dec") + 0.003)).alias("dec"))
                .limit(512).localCheckpoint(eager=True))

    def run_phot(img):
        tg = _targets(img)
        return forced_photometry(tg, img, 0.01, 2, max_dim_px=64,
                                 cell_col="hpx7", cell_level=7).count()

    def run_cutout(img):
        tg = _targets(img)
        return cutout_windows(
            tg, img.select("image_id", "ra", "dec", "w", "h", "hpx7"),
            0.01, 16, max_dim_px=64, cell_col="hpx7", cell_level=7).count()

    def dedup(img):
        docs = spark.read.parquet(f"{bench.SF_DIR}/documents.parquet")
        return minhash_lsh_dedup(docs, threshold=0.9).count()

    def run_headline(img):
        return bench.headline_job(spark, img)

    def run_xmatch(img):
        sample = (img.select("image_id", "ra", "dec", "hpx7")
                  .filter(F.abs(F.xxhash64("image_id")) % 50 == 0))
        return crossmatch(sample, img.select("image_id", "ra", "dec", "hpx7"),
                          0.05, cell_col="hpx7", cell_level=7).count()

    def run_knn(img):
        q = spark.createDataFrame(
            [(i, float(i * 13.7 % 360), float((i * 7.3) % 120 - 60))
             for i in range(64)],
            "query_id long, ra double, dec double")
        return knn(q, img.select("image_id", "ra", "dec", "hpx7"), k=10,
                   level=4, rings=1, tiebreak="image_id",
                   cell_col="hpx7", cell_level=7).count()

    fns = {"photometry": run_phot, "cutout": run_cutout,
           "minhash_dedup": dedup, "spatial_join_tiles": run_headline,
           "crossmatch": run_xmatch, "knn": run_knn}
    fn = fns[qname]

    fn(images)  # warm
    spark._jvm.System.gc()
    prior = sql_execs(api, 0)
    since = (max(e["id"] for e in prior) + 1) if prior else 0
    t0 = time.perf_counter()
    fn(images)
    wall = time.perf_counter() - t0
    time.sleep(1.0)
    es = sql_execs(api, since)
    print(f"wall {wall:.2f}s, {len(es)} SQL executions")
    for e in sorted(es, key=lambda x: x["id"]):
        print(f"--- exec {e['id']} dur={e['duration']}ms "
              f"{e.get('description', '')[:60]!r}")
        for n in e.get("nodes", []):
            name = n["nodeName"]
            mm = {m["name"]: m["value"] for m in n.get("metrics", [])}
            keep = {k: v for k, v in mm.items()
                    if any(s in k for s in (
                        "time", "rows", "bytes", "duration"))}
            if keep:
                sel = {k: keep[k] for k in list(keep)[:6]}
                print(f"    {name[:46]:46s} {sel}")


if __name__ == "__main__":
    main()
