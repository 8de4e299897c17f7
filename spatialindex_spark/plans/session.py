"""SparkSession construction + physical-layout discipline.

Scale design notes (these defaults are what makes the 100 TB plan work):

- **Ship the package to executors.** Local mode inherits PYTHONPATH; on a
  real cluster the engine must go through ``spark-submit --py-files`` (north
  rule) or ``spark.submit.pyFiles``. ``get_session`` wires PYTHONPATH for
  local runs and documents the cluster path; without it, stage-1 pandas UDFs
  die with ModuleNotFoundError (observed in this sandbox).
- **AQE on** (runtime coalescing + skew-join splitting) — dense sky regions
  produce hot cells; AQE splits oversized shuffle partitions without manual
  tuning, and `operators.joins.salt_hot_cells` handles the extreme tail.
- **Cell-ID clustering** (``cluster_by_cell``) is the engine's B-tree
  analogue (reference README.md:13-23): range-partition by ``spt_ind`` and
  sort within partitions so parquet row-group min/max statistics prune
  coverings' BETWEEN ranges. At 100 TB this is what turns a cone search from
  a full scan into touching O(covering) partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_session(app: str = "spatialindex-spark", cores: int | str = "*",
                shuffle_partitions: int | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    """local[N] session with the engine's scale-oriented defaults.

    On a cluster, replace master with the real one and pass the repo zip via
    ``spark-submit --py-files spatialindex_spark.zip``; everything else is
    identical.

    Caveat for code shipped mid-job: the session throttles the Python
    workers' per-task ``importlib.invalidate_caches()`` to once per
    ``SPT_WORKER_IMPORTLIB_THROTTLE`` seconds (default 30; repo-root
    ``sitecustomize.py``). A module added with ``addPyFile``/``addFile``
    after a worker has already imported can therefore stay invisible to
    that worker for up to that interval (ModuleNotFoundError). Ship code
    before the first job, or set ``SPT_WORKER_IMPORTLIB_THROTTLE=0`` before
    calling this for the stock per-task behavior.
    """
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores) * 2, 8)
    os.environ.setdefault("PYTHONPATH", REPO_ROOT)
    if REPO_ROOT not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = REPO_ROOT + os.pathsep + os.environ["PYTHONPATH"]
    # local mode runs executors inside the driver JVM: size the heap for the
    # host (default 1g OOMs on multi-GB image-table writes at 32 threads)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches: per-batch JNI/alloc overhead dominates below
        # ~100k rows (measured 2.5x stage throughput at 262144 vs 65536)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # throttle pyspark's per-task importlib.invalidate_caches() in the
        # Python workers (repo-root sitecustomize.py, gated on this env
        # var): the stock call re-reads the SPARK_HOME zip directories on
        # EVERY task — measured ~0.2 s/task here, the dominant fixed cost
        # of every Python-touching stage (guide §4: the boundary tax you
        # can actually remove). Value = minimum seconds between real
        # invalidations; override via the same env var, "0" ~ stock.
        .config("spark.executorEnv.SPT_WORKER_IMPORTLIB_THROTTLE",
                os.environ.get("SPT_WORKER_IMPORTLIB_THROTTLE", "30"))
        # pre-import the heavy worker modules in the Python daemon so
        # forked workers inherit them copy-on-write (same sitecustomize;
        # first python stage of a session measured 5.1 -> ~1 s, and
        # respawned workers skip the import tax entirely)
        .config("spark.executorEnv.SPT_WORKER_PRELOAD",
                os.environ.get(
                    "SPT_WORKER_PRELOAD",
                    "numpy,pandas,pyarrow,pyspark.sql.pandas.serializers"))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def cluster_by_cell(df: DataFrame, cell_col: str = "spt_ind",
                    num_partitions: int | None = None) -> DataFrame:
    """Range-partition + sort by cell ID — the htm_v3p_idsort / Z-order
    clustering analogue (htm.c:1036-1061; README.md:13-23). Written output
    gets parquet row-group min/max stats aligned with the Z-order, so
    covering BETWEEN predicates prune at both partition and row-group level."""
    if num_partitions:
        df = df.repartitionByRange(num_partitions, F.col(cell_col))
    else:
        df = df.repartitionByRange(F.col(cell_col))
    return df.sortWithinPartitions(cell_col)


def write_clustered(df: DataFrame, path: str, cell_col: str = "spt_ind",
                    num_partitions: int | None = None, mode: str = "overwrite") -> None:
    cluster_by_cell(df, cell_col, num_partitions).write.mode(mode).parquet(path)


def zorder_col(cell, tbucket, cell_bits: int = 20, t_bits: int = 20):
    """MSB-ALIGNED bit interleave of two long Columns into one Z-value —
    the reference's P6 bit interleave (healpix spread_bits) lifted to a
    pure-JVM Column expression, with one crucial difference: each
    column's TOP bit (bit cell_bits-1 / t_bits-1) lands in the top
    interleave level regardless of the widths differing. A naive LSB
    interleave of a 9-bit cell with a 6-bit day counter puts three pure
    cell bits above the first live time bit, so the top of the sort
    order degenerates to cell-only and time predicates stop pruning —
    pass each column's ACTUAL magnitude in bits. Total bits must be
    <= 62."""
    if cell_bits + t_bits > 62:
        raise ValueError("cell_bits + t_bits must be <= 62")
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    pos = cell_bits + t_bits
    for i in range(max(cell_bits, t_bits)):
        if i < cell_bits:
            pos -= 1
            z = z.bitwiseOR(F.shiftleft(
                F.shiftrightunsigned(cell, cell_bits - 1 - i)
                .bitwiseAND(one), pos))
        if i < t_bits:
            pos -= 1
            z = z.bitwiseOR(F.shiftleft(
                F.shiftrightunsigned(tbucket, t_bits - 1 - i)
                .bitwiseAND(one), pos))
    return z


def cluster_by_cell_time(df: DataFrame, cell_col: str = "spt_ind",
                         t_col: str = "t_us",
                         t_bucket_us: int = 86_400_000_000,
                         cell_bits: int = 20, t_bits: int = 16,
                         num_partitions: int | None = None,
                         keep_z: bool = True) -> DataFrame:
    """Two-dimensional Z-order clustering for TIME-DOMAIN tables: range-
    partition + sort by interleave(cell, time_bucket), so a written
    table's parquet row-group min/max stats are tight in BOTH columns
    and the survey's canonical query — sky region AND epoch window —
    prunes row groups on both predicates. Cell-only clustering leaves
    every row group spanning the full time axis (a time cut reads
    everything); time-only clustering does the reverse. The Z-curve
    bounds both extents per row group at the cost of a ~2x looser cell
    extent than pure cell sort — the classic locality trade, measured in
    test_zorder_cell_time_rowgroup_pruning."""
    tb = (F.col(t_col).cast("long") / F.lit(int(t_bucket_us))).cast("long")
    df = df.withColumn("_z", zorder_col(F.col(cell_col).cast("long"),
                                        tb, cell_bits, t_bits))
    if num_partitions:
        df = df.repartitionByRange(num_partitions, F.col("_z"))
    else:
        df = df.repartitionByRange(F.col("_z"))
    df = df.sortWithinPartitions("_z")
    return df if keep_z else df.drop("_z")


def write_bucketed(df: DataFrame, table: str, key_col: str,
                   num_buckets: int = 32, mode: str = "overwrite") -> None:
    """Write a BUCKETED table on the join key (Spark bucketBy + sortBy):
    the persistent form of co-location. Two tables bucketed on the same
    key with the same bucket count join with NO Exchange and NO Sort on
    either side (plan-asserted in tests) — at 100 TB this removes the
    dominant shuffle of repeated tile-to-tile / catalog-to-catalog joins:
    bucket once at ingest, join for free forever after. Parquet + the
    session catalog (saveAsTable is required for bucket metadata; a plain
    .parquet(path) write silently drops it). Exchange elision is
    unconditional; eliding the join-side Sort additionally needs
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``, which is
    sound with this writer's single-file-per-bucket layout (Spark hides
    scan ordering by default because multi-file buckets are only
    file-wise sorted)."""
    # one task per bucket => one FILE per bucket: Spark only elides the
    # join-side Sort when every bucket is a single sorted file (multi-file
    # buckets are only file-wise sorted). repartition and bucketBy share
    # the Murmur3 hash, so the alignment is exact.
    (df.repartition(num_buckets, F.col(key_col))
       .write.mode(mode).format("parquet")
       .bucketBy(num_buckets, key_col).sortBy(key_col)
       .saveAsTable(table))


def bucketed_cell_join(spark, left_table: str, right_table: str,
                       key_col: str = "spt_ind", how: str = "inner"):
    """Join two same-bucketed tables on their bucket key — resolves to a
    SortMergeJoin with zero Exchange/Sort when both sides were written by
    ``write_bucketed`` with equal bucket counts."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, key_col, how)
