"""Per-stage profiling harness (guide §7.1): run one bench_extra query
body N times with the Spark UI enabled and dump per-stage wall/task
metrics from the REST API after each pass, so a swinging query can be
attributed to a stage instead of guessed at.

Usage: python scripts/profile_query.py photometry 3
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


def stage_report(api: str, since_stage: int) -> list[dict]:
    with urllib.request.urlopen(f"{api}/stages?status=complete") as r:
        stages = json.load(r)
    out = []
    for s in stages:
        if s["stageId"] < since_stage:
            continue
        out.append({
            "id": s["stageId"],
            "name": s["name"].split("\n")[0][:70],
            "tasks": s["numCompleteTasks"],
            "exec_ms": s.get("executorRunTime"),
            "cpu_ms": (s.get("executorCpuTime") or 0) // 1_000_000,
            "in_mb": round((s.get("inputBytes") or 0) / 1e6, 1),
            "sh_r_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
            "submit": s.get("submissionTime"),
            "complete": s.get("completionTime"),
        })
    return sorted(out, key=lambda d: d["id"])


def rest_api_base(spark) -> str:
    """REST root of this session's UI, on whatever port it bound (4040 is
    taken whenever another session runs, and the UI then moves up)."""
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        raise SystemExit("the Spark UI is disabled; set SPARK_GRAFT_UI=true")
    return f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}"


def main():
    qname = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
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
        from spatialindex_spark.operators.cutouts import cutout_windows
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
        from spatialindex_spark.operators.joins import crossmatch
        sample = (img.select("image_id", "ra", "dec", "hpx7")
                  .filter(F.abs(F.xxhash64("image_id")) % 50 == 0))
        return crossmatch(sample, img.select("image_id", "ra", "dec", "hpx7"),
                          0.05, cell_col="hpx7", cell_level=7).count()

    def run_knn(img):
        from spatialindex_spark.operators.knn import knn
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
    for p in range(passes):
        # find current max stage id
        try:
            prior = stage_report(api, 0)
            since = (prior[-1]["id"] + 1) if prior else 0
        except Exception:
            since = 0
        t0 = time.perf_counter()
        fn(images)
        wall = time.perf_counter() - t0
        time.sleep(0.5)
        rep = stage_report(api, since)
        print(f"=== pass {p}: wall {wall:.2f}s, {len(rep)} stages")
        rep.sort(key=lambda d: -(d["exec_ms"] or 0))
        for s in rep[:8]:
            print(f"  id={s['id']} exec={s['exec_ms']}ms cpu={s['cpu_ms']}ms "
                  f"tasks={s['tasks']} in={s['in_mb']}MB shr={s['sh_r_mb']}MB "
                  f"{s['name']}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
