"""HEALPix (NESTED scheme) cell math, numpy-vectorized + scalar helpers.

Reproduces the reference math bit-for-bit:

- ``hpx_id`` (sky2hpx): /root/reference/src/sptIndx.c:561-729 — equatorial
  vs polar branch, C trunc-toward-zero int casts, boundary clamps.
- bit interleave/compress via the u/c lookup tables:
  src/sptIndx.c:528-548 (utab) and lib/src/sptQueryLib.c:2324-2332 (ctab).
- ``pix2loc``: pixel -> (z, phi) ring/face math with jrll/jpll tables,
  sptQueryLib.c:2207-2289.
- ``max_pix_rad``: max center-to-corner distance of the most distorted
  (transition) pixel per order, sptQueryLib.c:2093-2201.

The HEALPix-library constants are kept verbatim (pi/halfpi literals) per
sptIndx.c:592-596 so float64 results agree with the reference exactly.
"""

from __future__ import annotations

import math

import numpy as np

PI = 3.141592653589793238462643383279502884197
HALFPI = 1.570796326794896619231321691639751442099
TWOTHIRD = 2.0 / 3.0

# utab[m]: spread 8 bits -> 16 (even positions) (sptIndx.c:520-548)
_M = np.arange(256)
UTAB = (
    (_M & 0x1)
    | ((_M & 0x2) << 1)
    | ((_M & 0x4) << 2)
    | ((_M & 0x8) << 3)
    | ((_M & 0x10) << 4)
    | ((_M & 0x20) << 5)
    | ((_M & 0x40) << 6)
    | ((_M & 0x80) << 7)
).astype(np.int64)

# ctab[m]: inverse compress table (sptQueryLib.c:2295-2322 comment)
CTAB = (
    (_M & 0x1)
    | ((_M & 0x2) << 7)
    | ((_M & 0x4) >> 1)
    | ((_M & 0x8) << 6)
    | ((_M & 0x10) >> 2)
    | ((_M & 0x20) << 5)
    | ((_M & 0x40) >> 3)
    | ((_M & 0x80) << 4)
).astype(np.int64)

JRLL = np.array([2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4], dtype=np.int64)
JPLL = np.array([1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7], dtype=np.int64)


def spread_bits(v: np.ndarray) -> np.ndarray:
    """spread_bits via utab (sptIndx.c:739-742), vectorized fancy-indexing."""
    v = np.asarray(v, dtype=np.int64)
    return (
        UTAB[v & 0xFF]
        | (UTAB[(v >> 8) & 0xFF] << 16)
        | (UTAB[(v >> 16) & 0xFF] << 32)
        | (UTAB[(v >> 24) & 0xFF] << 48)
    )


def compress_bits(v: np.ndarray) -> np.ndarray:
    """hpxCompressBits (sptQueryLib.c:2324-2332), vectorized."""
    v = np.asarray(v, dtype=np.int64)
    raw = v & 0x5555555555555555
    raw = raw | (raw >> 15)
    return (
        CTAB[raw & 0xFF]
        | (CTAB[(raw >> 8) & 0xFF] << 4)
        | (CTAB[(raw >> 32) & 0xFF] << 16)
        | (CTAB[(raw >> 40) & 0xFF] << 20)
    )


def xyf2nest(order: int, ix: np.ndarray, iy: np.ndarray, face: np.ndarray) -> np.ndarray:
    """(face, ix, iy) -> nested pixel id (sptIndx.c:732-735)."""
    return (face << (2 * order)) + spread_bits(ix) + (spread_bits(iy) << 1)


def nest2xyf(order: int, pix: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of xyf2nest."""
    pix = np.asarray(pix, dtype=np.int64)
    npface = np.int64(1) << (2 * order)
    face = pix >> (2 * order)
    p = pix & (npface - 1)
    ix = compress_bits(p)
    iy = compress_bits(p >> 1)
    return ix, iy, face


def hpx_id(order: int, ra: np.ndarray, dec: np.ndarray) -> np.ndarray:
    """Vectorized sky2hpx (sptIndx.c:561-729): NESTED pixel id at ``order``.

    Both the equatorial and polar branches are evaluated for all rows and
    np.where-selected; int casts replicate C trunc-toward-zero semantics.
    """
    ra = np.asarray(ra, dtype=np.float64)
    dec = np.asarray(dec, dtype=np.float64)
    if ra.ndim == 1 and len(ra) > 4096:
        from .native import hpx_id_native

        nat = hpx_id_native(order, ra, dec)
        if nat is not None:
            return nat
    nside = np.int64(1) << order
    dtr = PI / 180.0

    z = np.cos((90.0 - dec) * dtr)
    phi = ra * dtr
    zabs = np.abs(z)
    tt = phi / HALFPI

    # --- equatorial branch (|z| <= 2/3), sptIndx.c:610-676 ---
    temp1 = nside * (0.5 + tt)
    temp2 = nside * (z * 0.75)
    jp = (temp1 - temp2).astype(np.int64)  # C (int64_t) cast: trunc toward 0
    jm = (temp1 + temp2).astype(np.int64)
    ifp = jp // nside
    ifm = jm // nside
    face_eq = np.where(
        ifp == ifm,
        np.where(ifp == 4, 4, ifp + 4),
        np.where(ifp < ifm, ifp, ifm + 8),
    )
    ix_eq = jm & (nside - 1)
    iy_eq = (nside - 1) - (jp & (nside - 1))

    # --- polar branch (|z| > 2/3), sptIndx.c:684-716 ---
    ntt = tt.astype(np.int64)
    ntt = np.where(ntt >= 4, 3, ntt)
    tp = tt - ntt
    with np.errstate(invalid="ignore"):
        tmp = nside * np.sqrt(3.0 * (1.0 - zabs))
    jp_p = (tp * tmp).astype(np.int64)
    jm_p = ((1.0 - tp) * tmp).astype(np.int64)
    jp_p = np.where(jp_p >= nside, nside - 1, jp_p)  # boundary clamp
    jm_p = np.where(jm_p >= nside, nside - 1, jm_p)
    north = z >= 0
    face_po = np.where(north, ntt, ntt + 8)
    ix_po = np.where(north, (nside - 1) - jm_p, jp_p)
    iy_po = np.where(north, (nside - 1) - jp_p, jm_p)

    eq = zabs <= TWOTHIRD
    face = np.where(eq, face_eq, face_po)
    ix = np.where(eq, ix_eq, ix_po)
    iy = np.where(eq, iy_eq, iy_po)
    return xyf2nest(order, ix, iy, face)


def pix2loc(order: int, pix) -> tuple:
    """hpxPix2Loc (sptQueryLib.c:2207-2289): pixel center -> (z, phi).

    Works on scalars or numpy arrays (used scalar in the covering DFS and
    vectorized for kNN ring distances).
    """
    pix = np.asarray(pix, dtype=np.int64)
    scalar = pix.ndim == 0
    pix = np.atleast_1d(pix)
    nside = np.int64(1) << order
    npface = nside << order
    npix = 12 * npface
    fact2 = 4.0 / npix
    fact1 = (nside << 1) * fact2

    face = pix >> (2 * order)
    p = pix & (npface - 1)
    ix = compress_bits(p)
    iy = compress_bits(p >> 1)

    jr = (JRLL[face] << order) - ix - iy - 1

    polar_n = jr < nside
    polar_s = jr > 3 * nside
    nr = np.where(polar_n, jr, np.where(polar_s, 4 * nside - jr, nside))
    z = np.where(
        polar_n,
        1.0 - (nr * nr) * fact2,
        np.where(polar_s, (nr * nr) * fact2 - 1.0, (2 * nside - jr) * fact1),
    )
    itmp = JPLL[face] * nr + ix - iy
    itmp = np.where(itmp < 0, itmp + 8 * nr, itmp)
    phi = np.where(
        nr == nside,
        0.75 * HALFPI * itmp * fact1,
        (0.5 * HALFPI * itmp) / nr,
    )
    if scalar:
        return float(z[0]), float(phi[0])
    return z, phi


def max_pix_rad(order: int) -> float:
    """hpxMaxPixRad (sptQueryLib.c:2105-2201): scalar, exact op order."""
    nside = 1 << order
    z = 2.0 / 3.0
    sintheta = math.sqrt((1.0 - z) * (1.0 + z))
    phi = PI / (4.0 * nside)
    cx = sintheta * math.cos(phi)
    cy = sintheta * math.sin(phi)
    cz = z
    tmp = 1.0 - 1.0 / nside
    tmp = tmp * tmp
    z2 = 1.0 - tmp / 3.0
    phi2 = 0.0
    sintheta2 = math.sqrt((1.0 - z2) * (1.0 + z2))
    kx = sintheta2 * math.cos(phi2)
    ky = sintheta2 * math.sin(phi2)
    kz = z2
    dot = cx * kx + cy * ky + cz * kz
    return math.acos(dot)


# ---------------------------------------------------------------------------
# exact NESTED neighbors (standard HEALPix face-adjacency algorithm; the
# direction/face/swap tables are published in the HEALPix framework paper and
# its BSD reimplementations — public knowledge, validated by brute force in
# tests/test_operators.py)
# ---------------------------------------------------------------------------

# Face-transition tables indexed by nbnum = 4 + sx + 3*sy (sx/sy = -1/0/+1
# coordinate under/overflow). Derived EMPIRICALLY in this repo from the
# bit-exact hpx_id/pix2loc kernels by probing just past each face edge
# midpoint / corner at nside=1024 (derivation script in the commit history;
# brute-force validated against dense-sampled adjacency in tests).
_NB_XOFFSET = np.array([-1, 0, 1], dtype=np.int64)
_NB_FACEARRAY = np.array([
    [8, 9, 10, 11, 8, 9, 10, 11, 10, 11, 8, 9],
    [5, 6, 7, 4, 8, 9, 10, 11, 9, 10, 11, 8],
    [1, 2, 3, 0, 5, 6, 7, 4, 9, 10, 11, 8],
    [4, 5, 6, 7, 11, 8, 9, 10, 11, 8, 9, 10],
    [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11],   # center (unused)
    [1, 2, 3, 0, 0, 1, 2, 3, 5, 6, 7, 4],
    [3, 0, 1, 2, 7, 4, 5, 6, 11, 8, 9, 10],
    [3, 0, 1, 2, 3, 0, 1, 2, 4, 5, 6, 7],
    [2, 3, 0, 1, 0, 1, 2, 3, 0, 1, 2, 3],
], dtype=np.int64)
_NB_SWAPARRAY = np.array([
    [0, 1, 3],
    [0, 0, 6],
    [0, 0, 0],
    [0, 0, 5],
    [0, 0, 0],  # center (unused)
    [5, 0, 0],
    [0, 0, 0],
    [6, 0, 0],
    [3, 2, 0],
], dtype=np.int64)


def neighbors(order: int, pix: np.ndarray) -> np.ndarray:
    """Exact ring-1 neighbors of NESTED pixels: (n, 8) int64 array. The 8
    corner-deficient pixels (face-corner meetings) have only 7 distinct
    neighbors; their missing slot carries a DUPLICATE of an existing
    neighbor, not a -1 sentinel — harmless for join keys / set semantics,
    but deduplicate before counting. Fully vectorized; exactness validated
    against dense-sampled adjacency (test_operators)."""
    pix = np.atleast_1d(np.asarray(pix, dtype=np.int64))
    nside = np.int64(1) << order
    ix, iy, face = nest2xyf(order, pix)
    out = np.empty((len(pix), 8), dtype=np.int64)
    d = 0
    for sx in (-1, 0, 1):
        for sy in (-1, 0, 1):
            if sx == 0 and sy == 0:
                continue
            xx = ix + sx
            yy = iy + sy
            inside = (xx >= 0) & (xx < nside) & (yy >= 0) & (yy < nside)
            res = np.where(inside,
                           xyf2nest(order, np.clip(xx, 0, nside - 1),
                                    np.clip(yy, 0, nside - 1), face),
                           np.int64(-1))
            if not inside.all():
                m = ~inside
                xm, ym = xx[m], yy[m]
                # nbnum from the coordinates that actually overflowed (a
                # diagonal step from a non-corner edge pixel overflows in
                # one coordinate only)
                nbnum = (4 - (xm < 0) + (xm >= nside)
                         - 3 * (ym < 0) + 3 * (ym >= nside)).astype(np.int64)
                x2 = np.where(xm < 0, xm + nside,
                              np.where(xm >= nside, xm - nside, xm))
                y2 = np.where(ym < 0, ym + nside,
                              np.where(ym >= nside, ym - nside, ym))
                f = face[m]
                f2 = _NB_FACEARRAY[nbnum, f]
                bits = _NB_SWAPARRAY[nbnum, f >> 2]
                x3 = np.where(bits & 1, nside - x2 - 1, x2)
                y3 = np.where(bits & 2, nside - y2 - 1, y2)
                swap = (bits & 4) != 0
                x4 = np.where(swap, y3, x3)
                y4 = np.where(swap, x3, y3)
                res[m] = xyf2nest(order, x4, y4, f2)
            out[:, d] = res
            d += 1
    return out


def _ring1_sql(order: int, p: str, in_face: bool = False) -> str:
    """SQL ``array(...)`` of NESTED pixel ``p`` (an SQL expression) and its
    8 ring-1 neighbours — ``neighbors`` rewritten on the interleaved ids.

    The face-local id keeps ix on the even bits and iy on the odd bits, so
    each coordinate steps by +-1 in place with the dilated-integer carry
    trick (fill the other coordinate's bits with ones, add, mask), never
    leaving the nested encoding. A step that crosses the face edge wraps
    the same way (nside is a power of two); its new face and mirror/swap
    come from _NB_FACEARRAY/_NB_SWAPARRAY, folded per ``order`` into one
    literal ``step`` table indexed by nbnum * 16 + face:

        (new face << 2*order) | (mirror mask) | (swap << 62)

    A swap exchanges the even and odd bits, and mirroring a coordinate
    (x -> nside-1-x) is an xor with its bit mask; swapping first and then
    xoring with the swapped mask equals the reference order (mirror, then
    swap). The center row of both tables is the identity, so in-face steps
    use the same formula. Faces 12-15 pad each row so that any id, even an
    invalid one, indexes inside the table. The table is one string literal
    that constant folding turns into a single array literal: spelled out
    as ``array(...)`` it would be hundreds of nodes per use, and planning
    time grows with the expression tree.

    ``in_face=True`` gives the neighbours of a pixel off its face's edges:
    plain in-face steps, no table."""
    xm = 0x5555555555555555 & ((1 << (2 * order)) - 1)  # ix bits
    ym = xm << 1                                          # iy bits
    step = []
    for nbnum in range(9):
        for face in range(16):
            if face >= 12:
                step.append(0)
                continue
            bits = int(_NB_SWAPARRAY[nbnum, face >> 2])
            mx, my = (ym, xm) if bits & 4 else (xm, ym)  # swapped masks
            step.append((int(_NB_FACEARRAY[nbnum, face]) << (2 * order))
                        | (mx if bits & 1 else 0) | (my if bits & 2 else 0)
                        | ((bits >> 2) << 62))
    table = ("CAST(split('" + ",".join(map(str, step)) + "', ',')"
             " AS ARRAY<BIGINT>)")
    face = f"CAST(shiftright({p}, {2 * order}) & 15 AS INT)"
    x, y = f"({p} & {xm})", f"({p} & {ym})"
    step_x = {-1: f"(({x} - 1) & {xm})", 0: x,
              1: f"((({x} | {ym}) + 1) & {xm})"}
    step_y = {-1: f"(({y} - 1) & {ym})", 0: y,
              1: f"((({y} | {xm}) + 1) & {ym})"}
    # 1-based nbnum * 16 + face = 1 + (4 + ox + 3 * oy) * 16 + face, from
    # the per-axis edge overflow
    over_x = {-1: f"IF({x} = 0, -16, 0)", 0: "0",
              1: f"IF({x} = {xm}, 16, 0)"}
    over_y = {-1: f"IF({y} = 0, -48, 0)", 0: "0",
              1: f"IF({y} = {ym}, 48, 0)"}
    cells = [p]
    for sx in (-1, 0, 1):
        for sy in (-1, 0, 1):
            if sx == 0 and sy == 0:
                continue
            if in_face:
                cells.append(f"(({p} & {-1 << (2 * order)})"
                             f" | {step_x[sx]} | {step_y[sy]})")
                continue
            t = (f"element_at({table}, "
                 f"65 + {over_x[sx]} + {over_y[sy]} + {face})")
            swap = f"shiftright({t}, 62)"  # 1 swaps the coordinates
            cells.append(f"(((shiftleft({step_x[sx]}, {swap})"
                         f" | shiftright({step_y[sy]}, {swap})) ^ {t})"
                         f" & {(16 << (2 * order)) - 1})")
    return "array(" + ", ".join(cells) + ")"


def _disc_sql(order: int, p: str, rings: int, inner: int = 0) -> str:
    """SQL array of the cells of rings inner+1..rings around pixel ``p``
    (an SQL expression; inner=0: the whole disc, center included)."""
    npix = 12 << (2 * order)
    disc = f"array_distinct({_ring1_sql(order, p)})"
    if rings == 1:
        return disc
    if (2 * rings + 1) ** 2 >= npix:
        disc = f"sequence(0L, {npix - 1}L)"
        return (disc if inner == 0 else
                f"array_except({disc}, {_disc_sql(order, p, inner)})")
    # the lambda runs interpreted (higher-order functions have no
    # codegen), which evaluates only the taken IF branch: a cell off its
    # face's edges takes the in-face form, ~10x fewer nodes
    xm = 0x5555555555555555 & ((1 << (2 * order)) - 1)
    off_edge = (f"(_q & {xm}) NOT IN (0, {xm})"
                f" AND (_q & {xm << 1}) NOT IN (0, {xm << 1})")
    ring1 = (f"IF({off_edge}, {_ring1_sql(order, '_q', in_face=True)}, "
             f"{_ring1_sql(order, '_q')})")
    # _acc: the ring-1 disc, then ring 2, 3, ... — newest last
    grow = (f"array_except(flatten(transform(element_at(_acc, -1), "
            f"_q -> {ring1})), flatten(_acc))")
    keep = "_acc" if inner == 0 else f"slice(_acc, {inner + 1}, {rings - inner})"
    return (f"aggregate(sequence(2, {rings}), array({disc}), "
            f"(_acc, _i) -> concat(_acc, array({grow})), "
            f"_acc -> flatten({keep}))")


def neighbors_col(order: int, pix: str, rings: int = 1, inner: int = 0):
    """Spark Column: the NESTED pixel in column ``pix`` (name of a long
    column) plus every cell of its ring-``rings`` disc, deduplicated, as
    ``array<long>`` — the JVM form of ``neighbors``, so ring expansion
    runs in whole-stage codegen with no lookup table and no Python. A
    null or out-of-range pixel (e.g. keyed from NaN coordinates) yields
    an empty array, which explodes to nothing. ``inner`` > 0 leaves out
    the ring-``inner`` disc: the shell of rings inner+1..rings.

    Ring r > 1 grows the disc one ring at a time, expanding only the last
    ring added (every neighbour of an inner cell is already in the disc);
    once the disc could cover the sphere ((2r+1)^2 >= npix) it is every
    pixel. Built as one SQL expression: a single parse instead of
    hundreds of Column calls. Explode it with ``explode_cells``, not
    ``F.explode``, to keep its generated code small enough to be
    JIT-compiled."""
    from pyspark.sql import functions as F

    if not 0 <= inner < rings:
        raise ValueError(f"need 0 <= inner < rings, got {inner}, {rings}")
    npix = 12 << (2 * order)
    p = f"coalesce(CAST(`{pix}` AS BIGINT), -1L)"
    # the disc of an invalid id is garbage and sliced away afterwards:
    # wrapping the disc itself in a CASE puts it in a conditional branch,
    # which codegen does not share subexpressions into
    keep = f"IF({p} >= 0 AND {p} < {npix}, {min(npix, 2**31 - 1)}, 0)"
    return F.expr(f"slice({_disc_sql(order, p, rings, inner)}, 1, {keep})")


def explode_cells(df, cells, out: str, cols=None):
    """``df``'s ``cols`` (default: all) repeated once per element of the
    array Column ``cells`` (e.g. ``neighbors_col``), the element in column
    ``out``; rows whose array is empty or null are dropped.

    The array is projected as a column first and exploded with
    ``explode_outer``. Exploding the expression directly gets no
    subexpression elimination, so the ring expression's code lands in one
    generated method too large for the JVM's JIT (measured ~20x slower per
    row); a plain ``explode`` of the projected column makes the optimizer
    infer a ``size(...) > 0`` filter and push it below the projection,
    which computes the array twice. ``explode_outer`` infers no filter."""
    from pyspark.sql import functions as F

    cols = list(df.columns if cols is None else cols)
    return (df.select(*cols, cells.alias("_spt_cells"))
            .select(*cols, F.explode_outer("_spt_cells").alias(out))
            .filter(F.col(out).isNotNull()))


def pix2vec(order: int, pix):
    """Pixel center as unit vector(s); uses sqrt((1-z)(1+z)) for sintheta
    (sptQueryLib.c:1436 numerical form)."""
    z, phi = pix2loc(order, pix)
    sintheta = np.sqrt((1.0 - z) * (1.0 + z))
    return sintheta * np.cos(phi), sintheta * np.sin(phi), z


#: measured minimum angular distance (radians) at which two points can land
#: in NON-adjacent cells, per order — dense-sampled over every base face and
#: ring geometry (copy of tests/fixtures/safe_radius.json; generator recipe
#: in FIXTURES.md; a pytest asserts the two stay in sync). Crossmatch
#: completeness rests on safe_ring1_rad, so the operative 0.59*max_pix_rad
#: bound is ASSERTED against this table at call time rather than trusted as
#: a single global constant (ADVICE r1 #5).
MEASURED_NONADJ_RAD = {
    0: 0.841068470041533, 1: 0.3813125876317472, 2: 0.18510127768588894,
    3: 0.090265895410002, 4: 0.04487066729281175, 5: 0.022138896822712327,
    6: 0.011062834346155799, 7: 0.005537564622756561,
    8: 0.0027371586344136648, 9: 0.0013709794698225962,
    10: 0.0006847783702417714, 11: 0.00034247856510504285,
    12: 0.00017136662435776614, 13: 8.592136441361713e-05,
    14: 4.293050640047064e-05, 15: 2.1530621790553015e-05,
    16: 1.0634852233632672e-05,
}


def safe_ring1_rad(order: int) -> float:
    """Largest angular distance (radians) guaranteed to leave two points in
    the SAME or ring-1-adjacent cells at this order — the sound bound for
    neighbor-cell join levels. NOTE: max_pix_rad (the largest pixel
    circumradius) is NOT sound for this: points separated by ~0.66-1.0x
    max_pix_rad can land in non-adjacent cells (measured: 4072/300k pairs at
    0.9x, order 7). Empirical safe/max ratio converges to ~0.656 (the
    narrowest pixel dimension) from above; 0.59x adds a sampling-safety
    margin below the measured non-adjacency threshold — checked against the
    per-order measured table here, so an order whose geometry violated the
    margin would fail loudly instead of silently dropping matched pairs."""
    bound = 0.59 * max_pix_rad(order)
    measured = MEASURED_NONADJ_RAD.get(order)
    if measured is not None and bound > measured:
        raise AssertionError(
            f"safe_ring1_rad unsound at order {order}: 0.59*max_pix_rad="
            f"{bound} exceeds measured non-adjacency threshold {measured}")
    return bound


def _isqrt(v: np.ndarray) -> np.ndarray:
    """Exact vectorized integer sqrt (inputs < 2^52: float sqrt + fixup)."""
    v = np.asarray(v, dtype=np.int64)
    s = np.floor(np.sqrt(v.astype(np.float64))).astype(np.int64)
    s = np.where((s + 1) * (s + 1) <= v, s + 1, s)
    return np.where(s * s > v, s - 1, s)


def nest2ring(order: int, pix) -> np.ndarray:
    """NESTED -> RING pixel index (Gorski et al. 2005 scheme change; the
    healpy/FITS interop direction — sky maps ship RING-ordered).

    Shares pix2loc's ring decomposition (JRLL/JPLL tables above, cited to
    sptQueryLib.c:2207-2289): ring number jr from the face diagonal, then
    the pixel-in-ring index; RING id = pixels-before-ring + in-ring index.
    Gated definitionally in tests: RING order IS the rank of pixel centers
    by (z desc, phi asc) — verified for every pixel at orders 0..5.
    """
    pix = np.atleast_1d(np.asarray(pix, dtype=np.int64))
    nside = np.int64(1) << order
    npface = nside * nside
    npix = 12 * npface
    ncap = 2 * nside * (nside - 1)
    face = pix >> (2 * order)
    p = pix & (npface - 1)
    ix = compress_bits(p)
    iy = compress_bits(p >> 1)
    jr = (JRLL[face] << order) - ix - iy - 1
    polar_n = jr < nside
    polar_s = jr > 3 * nside
    nr = np.where(polar_n, jr, np.where(polar_s, 4 * nside - jr, nside))
    n_before = np.where(
        polar_n, 2 * nr * (nr - 1),
        np.where(polar_s, npix - 2 * (nr + 1) * nr,
                 ncap + (jr - nside) * 4 * nside))
    kshift = np.where(polar_n | polar_s, 0, (jr - nside) & 1)
    # numerator is always even (jpll*nr and ix-iy+1+kshift share parity),
    # so floor division == the C code's truncating division
    jp = (JPLL[face] * nr + ix - iy + 1 + kshift) >> 1
    jp = np.where(jp > 4 * nr, jp - 4 * nr, jp)
    jp = np.where(jp < 1, jp + 4 * nr, jp)
    return n_before + jp - 1


def ring2nest(order: int, rpix) -> np.ndarray:
    """RING -> NESTED pixel index (inverse of nest2ring; same tables).

    Ring/in-ring indices recovered per region (polar caps by exact integer
    sqrt, equatorial by division), face from the in-ring position, then
    the (ix, iy) face coordinates re-interleave through the shared
    spread_bits kernel. Round-trip identity over every pixel at orders
    0..6 is pytest-gated."""
    rpix = np.atleast_1d(np.asarray(rpix, dtype=np.int64))
    nside = np.int64(1) << order
    npix = 12 * nside * nside
    ncap = 2 * nside * (nside - 1)
    nl2 = 2 * nside
    north = rpix < ncap
    south = rpix >= npix - ncap

    # north cap rings: iring = (1 + isqrt(1+2p)) >> 1
    irn = (1 + _isqrt(1 + 2 * rpix)) >> 1
    iphn = rpix + 1 - 2 * irn * (irn - 1)

    # south cap (counted from the south pole)
    ips = npix - rpix
    irs_pole = (1 + _isqrt(2 * ips - 1)) >> 1
    iphs = 4 * irs_pole + 1 - (ips - 2 * irs_pole * (irs_pole - 1))
    irs = 2 * nl2 - irs_pole

    # equatorial
    ipe = rpix - ncap
    tmp = ipe >> (order + 2) if order >= 0 else ipe // (4 * nside)
    ire_ring = tmp + nside
    iphe = ipe - tmp * 4 * nside + 1

    iring = np.where(north, irn, np.where(south, irs, ire_ring))
    iphi = np.where(north, iphn, np.where(south, iphs, iphe))
    nr = np.where(north, irn, np.where(south, irs_pole, nside))
    kshift = np.where(north | south, 0, (iring + nside) & 1)

    # face: polar caps directly from the in-ring quadrant; equatorial from
    # the two diagonal lattices
    face_n = (iphn - 1) // np.maximum(irn, 1)
    face_s = 8 + (iphs - 1) // np.maximum(irs_pole, 1)
    ire = ire_ring - nside + 1
    irm = nl2 + 2 - ire
    ifm = (iphe - (ire >> 1) + nside - 1) >> order
    ifp = (iphe - (irm >> 1) + nside - 1) >> order
    face_e = np.where(ifp == ifm, ifp | 4, np.where(ifp < ifm, ifp, ifm + 8))
    face = np.where(north, face_n, np.where(south, face_s, face_e))

    irt = iring - (JRLL[face] << order) + 1
    ipt = 2 * iphi - JPLL[face] * nr - kshift - 1
    ipt = np.where(ipt >= 2 * nl2, ipt - 8 * nside, ipt)
    ix = (ipt - irt) >> 1
    iy = (-ipt - irt) >> 1
    return xyf2nest(order, ix, iy, face)
