"""Arrow-vectorized pandas UDF registry (the engine's executor-side surface).

Per the north rule's input hint, every per-row kernel is a vectorized
pandas/Arrow UDF over numpy batches — no per-row Python anywhere. The
reference analogue is the `sptIndx` augmentation pass
(/root/reference/src/sptIndx.c:182-246) which assigns x,y,z + cell IDs
row-at-a-time in C; here a whole Arrow batch is one numpy call.

Use ``register_all(spark)`` once per session to expose the kernels to SQL,
or the module-level UDF objects / ``with_spatial_columns`` directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# DataType instances (not DDL strings): module-level UDFs must not require an
# active SparkSession at import time (DDL strings are parsed via the context).
_XYZ_TYPE = StructType([
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
    StructField("z", DoubleType()),
])

from .geometry import angsep_deg, radec_to_xyz
from .h3s2 import h3_id as _h3_id
from .h3s2 import s2_id as _s2_id
from .healpix import hpx_id as _hpx_id
from .htm import htm_id as _htm_id, htm_idtodec as _htm_idtodec, htm_level as _htm_level


# ---- coordinate kernels ----------------------------------------------------

@pandas_udf(_XYZ_TYPE)
def xyz_udf(ra: pd.Series, dec: pd.Series) -> pd.DataFrame:
    x, y, z = radec_to_xyz(ra.values, dec.values)
    return pd.DataFrame({"x": x, "y": y, "z": z})


def htm_udf(level: int):
    """HTM cell id at a fixed level; (x,y,z) -> int64."""

    @pandas_udf("long")
    def _udf(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
        return pd.Series(_htm_id(x.values, y.values, z.values, level))

    return _udf


def hpx_udf(level: int):
    """HEALPix NESTED cell id at a fixed order; (ra,dec) -> int64."""

    @pandas_udf("long")
    def _udf(ra: pd.Series, dec: pd.Series) -> pd.Series:
        return pd.Series(_hpx_id(level, ra.values, dec.values))

    return _udf


def s2_udf(level: int, curve: str = "zorder"):
    """S2 encode: curve="hilbert" gives true S2 cell ids (library-compatible
    bit layout, Hilbert locality); "zorder" keeps the engine's original
    Z-order variant (plain hierarchical int64, always positive)."""
    if curve == "hilbert":
        from .h3s2 import s2_cell_id as _enc
    else:
        _enc = _s2_id

    @pandas_udf("long")
    def _udf(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
        return pd.Series(_enc(x.values, y.values, z.values, level))

    return _udf


def h3_udf(res: int, grid: str = "hex"):
    """H3 encode: grid="hex" gives the true aperture-7 hexagonal hierarchy
    (h3s2.h3_hex_id — real H3 algorithm, engine-defined face-local ids);
    "hpx" keeps the original HEALPix aperture-4 analogue.

    .. note:: BREAKING default change in round 2: the default flipped from
       the round-1 "hpx" layout (res<<56 header) to "hex" (mode=1 nibble,
       bits 59-62). The two bit layouts are incompatible — a table
       ingested under the old default must be re-encoded or read with
       grid="hpx". Consumers can detect a mixed column with
       ``h3s2.h3_hex_validate`` (the hex covering/join path calls it)."""
    if grid == "hex":
        from .h3s2 import h3_hex_id as _enc
    elif grid == "hpx":
        _enc = _h3_id
    else:
        # the two grids have incompatible bit layouts; a typo silently
        # emitting the wrong family would break joins with no error
        raise ValueError(f"grid must be 'hex' or 'hpx', got {grid!r}")

    @pandas_udf("long")
    def _udf(ra: pd.Series, dec: pd.Series) -> pd.Series:
        return pd.Series(_enc(ra.values, dec.values, res))

    return _udf


@pandas_udf(LongType())
def htm_idtodec_udf(ids: pd.Series) -> pd.Series:
    return pd.Series(_htm_idtodec(ids.values))


@pandas_udf(IntegerType())
def htm_level_udf(ids: pd.Series) -> pd.Series:
    return pd.Series(_htm_level(ids.values).astype(np.int32))


@pandas_udf(DoubleType())
def angsep_udf(x1: pd.Series, y1: pd.Series, z1: pd.Series,
               x2: pd.Series, y2: pd.Series, z2: pd.Series) -> pd.Series:
    return pd.Series(angsep_deg(x1.values, y1.values, z1.values,
                                x2.values, y2.values, z2.values))


# ---- DataFrame helpers -----------------------------------------------------

def with_xyz(df, ra_col: str = "ra", dec_col: str = "dec"):
    """Add unit-sphere x,y,z columns. Uses pure Column trig (JVM-side,
    whole-stage-codegen) — bit-compatible with the reference because the
    sin/cos/normalize order matches and both use IEEE float64."""
    rad = F.radians
    cos_dec = F.cos(rad(F.col(dec_col)))
    x = F.cos(rad(F.col(ra_col))) * cos_dec
    y = F.sin(rad(F.col(ra_col))) * cos_dec
    z = F.sin(rad(F.col(dec_col)))
    norm = F.sqrt(x * x + y * y + z * z)
    return df.withColumns({"x": x / norm, "y": y / norm, "z": z / norm})


def spt_index_udf(level: int, systems: tuple = ("htm", "hpx")):
    """The sptIndx augmentation as ONE struct-returning pandas UDF:
    (ra, dec) -> (x, y, z, htm<L>, hpx<L>[, s2<L>, h3<L>]).

    A single Arrow crossing with all math numpy/native-side: splitting into
    per-column UDFs makes the JVM evaluate the feeding expressions inside
    the ArrowEvalPython input projection (outside whole-stage codegen),
    which measured ~4x slower than this fused form."""
    from pyspark.sql.types import StructField, StructType

    fields = [StructField("x", DoubleType()), StructField("y", DoubleType()),
              StructField("z", DoubleType())]
    for sysname in systems:
        fields.append(StructField(f"{sysname}{level}", LongType()))
    rtype = StructType(fields)

    @pandas_udf(rtype)
    def _udf(ra: pd.Series, dec: pd.Series) -> pd.DataFrame:
        rav, decv = ra.values, dec.values
        x, y, z = radec_to_xyz(rav, decv)
        out = {"x": x, "y": y, "z": z}
        for sysname in systems:
            if sysname == "htm":
                out[f"htm{level}"] = _htm_id(x, y, z, level)
            elif sysname == "hpx":
                out[f"hpx{level}"] = _hpx_id(level, rav, decv)
            elif sysname == "s2":
                out[f"s2{level}"] = _s2_id(x, y, z, level)
            elif sysname == "h3":
                from .h3s2 import h3_hex_id
                out[f"h3{level}"] = h3_hex_id(rav, decv, level)
        return pd.DataFrame(out)

    return _udf


def with_spatial_columns(df, level: int = 7, ra_col: str = "ra", dec_col: str = "dec",
                         systems: tuple = ("htm", "hpx"), spt_ind: str | None = "htm",
                         spt_encoding: str = "raw"):
    """The engine's ingest augmentation (sptIndx analogue): adds x,y,z plus
    cell-ID columns ``htm<L>/hpx<L>/s2<L>/h3<L>`` and a canonical ``spt_ind``
    clustering key. One fused Arrow UDF crossing (see spt_index_udf).

    ``spt_encoding`` selects the ``spt_ind`` id layout:

    - ``"raw"`` (default): the bit-encoded cell id — what every operator in
      this package keys on (they pass ``encoding=DECIMAL`` explicitly when
      rendering constraints against it).
    - ``"base4"``: the reference table convention (spatial_index.pyx's
      default resolution rule renders ``spt_ind`` constraints in BASE4 when
      neither colname nor encoding is given — spatial_index.pyx:41-42) —
      use this when splicing ``SpatialIndex().cone_search(...)`` DEFAULT
      constraint strings into SQL over the ingested table. HTM-keyed
      ``spt_ind`` only; raises otherwise (BASE4 digits are an HTM id
      rendering).
    """
    if spt_encoding not in ("raw", "base4"):
        raise ValueError(f"unknown spt_encoding {spt_encoding!r}")
    if spt_encoding == "base4" and spt_ind != "htm":
        raise ValueError("spt_encoding='base4' requires spt_ind='htm' "
                         "(BASE4 is an HTM id rendering)")
    s = spt_index_udf(level, systems)(F.col(ra_col), F.col(dec_col))
    df = df.withColumn("_spt", s)
    cols = {"x": F.col("_spt.x"), "y": F.col("_spt.y"), "z": F.col("_spt.z")}
    for sysname in systems:
        cols[f"{sysname}{level}"] = F.col(f"_spt.{sysname}{level}")
    df = df.withColumns(cols).drop("_spt")
    if spt_ind:
        key = F.col(f"{spt_ind}{level}")
        if spt_encoding == "base4":
            key = htm_idtodec_udf(key)
        df = df.withColumn("spt_ind", key)
    return df


def register_all(spark, level: int = 7) -> None:
    """Expose the kernels to Spark SQL as named functions."""
    spark.udf.register(f"htm{level}", htm_udf(level))
    spark.udf.register(f"hpx{level}", hpx_udf(level))
    spark.udf.register(f"s2{level}", s2_udf(level))
    spark.udf.register(f"s2h{level}", s2_udf(level, curve="hilbert"))
    spark.udf.register(f"h3{level}", h3_udf(level))
    spark.udf.register("htm_idtodec", htm_idtodec_udf)
    spark.udf.register("htm_level", htm_level_udf)
    spark.udf.register("angsep", angsep_udf)


def nest2ring_udf(level: int):
    """NESTED -> RING HEALPix index at a fixed order (healpy/FITS interop
    — external sky maps ship RING-ordered)."""
    from .healpix import nest2ring as _n2r

    @pandas_udf("long")
    def _udf(pix: pd.Series) -> pd.Series:
        return pd.Series(_n2r(level, pix.values))

    return _udf


def ring2nest_udf(level: int):
    """RING -> NESTED HEALPix index at a fixed order (ingest direction:
    external RING-ordered maps -> the engine's nested cell ids)."""
    from .healpix import ring2nest as _r2n

    @pandas_udf("long")
    def _udf(pix: pd.Series) -> pd.Series:
        return pd.Series(_r2n(level, pix.values))

    return _udf
