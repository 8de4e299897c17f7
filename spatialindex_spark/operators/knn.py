"""k-nearest-neighbors via iterative cell-ring expansion (SURVEY.md J4).

The reference's selection kernels (htm_select/htm_min, select.c) solve the
single-node top-k problem by pruning a tree search that widens until
satisfied (htm.c:1582-1700 prunes, never full-scans). The distributed
analogue:

1. every query point gets its HPX cell + its ring-``rings`` neighbor disc
   (ring-r cells via exact nested adjacency, bounded by the per-order SAFE
   ring-1 radius — cf. sptQueryLib.c:1363-1382's dr[o] table);
2. candidates = data rows in any disc cell, joined on the cell key
   (broadcast hash join — the query side is small);
3. exact angular distance + Window.partitionBy(query).orderBy(dist)
   rank <= k;
4. queries that do NOT hold k candidates within the *verified* radius
   (sparse regions, k above local density) iteratively widen: each round
   targets 4x the verified radius, probing ONLY the starved queries' NEW
   shell cells through the same broadcast hash equi-join. When the ring
   disc at the current level would exceed a bounded cell budget, the probe
   level COARSENS instead (the data key is a shiftright of the fine cell),
   so the broadcast never exceeds starved x budget rows; the terminal
   full-sphere state is a 12-key level-0 equi-join — NEVER a full-table
   CartesianProduct/BroadcastNestedLoopJoin and never a cell blow-up
   (tests assert exactness on starved fixtures at fine levels and the
   absence of any cross join).

The ring radius guarantees correctness: ring r covers every point within
r * safe_ring1_rad, so a query stops expanding once it holds k candidates
within the verified radius. For the common bounded-k use the default
start_ring already suffices and the plan is a single broadcast join + one
window.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.geometry import RAD_PER_DEG
from ..functions.healpix import explode_cells, neighbors_col, safe_ring1_rad
from ..functions.udfs import hpx_udf
from .joins import hpx_cell_key

# last knn_join auto decisions, for probe/test introspection only
_DECISIONS: dict = {}

#: finest level of knn_join's right-side density profile (auto_levels):
#: its counts frame has at most 12*4^8 = 786k rows at any table size
DENSITY_REF_LEVEL = 8


def knn(queries: DataFrame, data: DataFrame, k: int,
        level: int | None = None, rings: int = 1,
        query_id: str = "query_id",
        q_cols=("ra", "dec"), d_cols=("ra", "dec"),
        max_radius_deg: float | None = None,
        tiebreak: str | None = None,
        cell_col: str | None = None,
        cell_level: int | None = None,
        max_rounds: int = 16) -> DataFrame:
    """k nearest data rows per query point.

    queries: small-ish DataFrame with ``query_id`` + ra/dec.
    data:    large DataFrame with ra/dec (+ any payload columns).

    Guarantee: every neighbor within the query's final verified radius is
    found; the widening loop grows the radius (x4 per round, starved
    queries only, coarsening the probe level under a bounded cell budget)
    until the query holds k verified candidates or the disc covers the
    sphere, so results are exact for every query (not just dense ones) —
    or it RAISES if max_rounds is exhausted first (never silently
    partial). Choose ``max_radius_deg`` to pick the level automatically
    and bound the search.

    When ``data`` carries an ingest-time nested-HPX cell column
    (``cell_col`` at ``cell_level``), the match key is a shiftright of it —
    the big side stays JVM-only (no Arrow roundtrip of 100 TB through
    Python), with an in-plan assert_true range guard (every row validated
    inside whole-stage codegen; no sampling job). The search level is
    capped at ``cell_level``.
    """
    if level is None:
        if max_radius_deg is not None:
            r = max_radius_deg * RAD_PER_DEG
            level = 0
            while level < 13 and safe_ring1_rad(level + 1) >= r:
                level += 1
        else:
            level = 5
    use_cell = cell_col is not None and cell_level is not None
    if use_cell:
        level = min(level, cell_level)

    lvl = level
    qr, qd = q_cols
    dr, dd = d_cols

    if use_cell:
        dk = data.withColumn("_mc", hpx_cell_key(cell_col, cell_level, lvl))
    else:
        dk = data.withColumn("_mc", hpx_udf(lvl)(F.col(dr), F.col(dd)))

    rad = F.radians
    dot = (
        F.cos(rad(F.col("_qdec"))) * F.cos(rad(F.col(dd)))
        * F.cos(rad(F.col("_qra")) - rad(F.col(dr)))
        + F.sin(rad(F.col("_qdec"))) * F.sin(rad(F.col(dd)))
    )

    def probe(qdf: DataFrame, r_lo: int, r_hi: int,
              at_level: int) -> DataFrame:
        """Candidates in the shell disc(r_hi) \\ disc(r_lo) at ``at_level``
        (<= lvl): the data-side key is a shiftright of the level-``lvl``
        cell (nested parent = child >> 2/level), so a coarser probe never
        rescans through Python and never enumerates fine cells."""
        key = (F.col("_mc") if at_level == lvl
               else F.shiftright(F.col("_mc"), 2 * (lvl - at_level)))
        # shells are disjoint across widening rounds, so accumulated
        # candidate pairs never duplicate
        shell = neighbors_col(at_level, "_qpix", r_hi, inner=r_lo)
        qk = explode_cells(
            qdf.withColumn("_qpix", hpx_udf(at_level)("_qra", "_qdec")),
            shell, "_pk", [query_id, "_qra", "_qdec"])
        p = (dk.withColumn("_pk", key)
             .join(F.broadcast(qk), "_pk").drop("_pk", "_mc")
             .withColumn("dist_deg", F.degrees(F.acos(
                 F.least(F.greatest(dot, F.lit(-1.0)), F.lit(1.0))))))
        if max_radius_deg is not None:
            p = p.filter(F.col("dist_deg") <= max_radius_deg)
        return p

    qmeta = queries.select(F.col(query_id),
                           F.col(qr).alias("_qra"), F.col(qd).alias("_qdec"))

    # pairs is consumed repeatedly (starved checks + final rank) but is tiny
    # (queries x disc candidates); persisting it means the big data table is
    # scanned once per widening round, not once per consumer. The cache is
    # released before returning — repeated knn() calls must not accumulate
    # CacheManager entries.
    from pyspark import StorageLevel
    pairs = probe(qmeta, 0, rings, lvl).persist(StorageLevel.MEMORY_AND_DISK)
    first_cache = pairs

    # widening state: verified radius in radians + the level/rings that
    # realize it. Each round TARGETS 4x the verified radius and, when the
    # ring disc at the current level would exceed CELL_BUDGET cells per
    # starved query, COARSENS the probe level instead of enumerating more
    # cells (the broadcast stays bounded: starved x <=CELL_BUDGET rows).
    # Level-0 fits any radius (<= ~169 cells), so the terminal full-sphere
    # probe is a 12-key equi-join — never a cell blow-up, never a cross join.
    CELL_BUDGET = 4096
    probe_level = lvl
    probe_r = rings
    vrad = rings * safe_ring1_rad(lvl)

    def plan_round(target_rad: float) -> tuple[int, int]:
        """Coarsest-necessary (level, rings) whose disc covers target_rad
        within CELL_BUDGET cells."""
        for cand in range(probe_level, -1, -1):
            r_need = max(1, math.ceil(target_rad / safe_ring1_rad(cand)))
            if (2 * r_need + 1) ** 2 <= CELL_BUDGET or cand == 0:
                return cand, r_need
        raise AssertionError("unreachable")

    for _ in range(max_rounds):
        vr_deg = vrad / RAD_PER_DEG
        counts = (pairs.filter(F.col("dist_deg") <= vr_deg)
                  .groupBy(query_id).agg(F.count(F.lit(1)).alias("_n")))
        starved = (qmeta.join(counts, query_id, "left")
                   .filter(F.coalesce(F.col("_n"), F.lit(0)) < k)
                   .drop("_n"))
        if vrad >= math.pi:
            break  # disc covers the sphere: complete by construction
        if max_radius_deg is not None and vr_deg >= max_radius_deg:
            break  # the bounded search disc is already fully verified
        if starved.limit(1).count() == 0:
            break
        target = min(vrad * 4.0, math.pi)
        new_level, new_r = plan_round(target)
        if new_level == probe_level:
            # same level: probe only the NEW shell (disjoint by
            # construction, pairs accumulate)
            delta = probe(starved, probe_r, new_r, new_level)
            pairs = pairs.unionByName(delta.select(*pairs.columns))
        else:
            # coarser level: cells overlap the finer ones spatially, so
            # REPLACE the starved queries' pairs wholesale with the full
            # coarse disc (supersedes everything they had) — no duplicate
            # (query, row) candidates can survive
            keep = pairs.join(F.broadcast(starved.select(query_id)),
                              query_id, "left_anti")
            repl = probe(starved, 0, new_r, new_level)
            pairs = keep.unionByName(repl.select(*pairs.columns))
        # single-chain union, lineage truncated every round (Spark 4.1
        # iterative-loop pathology: see operators/graph.py)
        pairs = pairs.localCheckpoint(eager=True)
        probe_level, probe_r = new_level, new_r
        vrad = new_r * safe_ring1_rad(new_level)
    else:
        # loop exhausted without reaching a provably-complete state: raise
        # ONLY if some query is still starved (silent partial results are
        # the failure mode this loop exists to prevent)
        bounded_done = (max_radius_deg is not None
                        and vrad / RAD_PER_DEG >= max_radius_deg)
        if vrad < math.pi and not bounded_done:
            vr_deg = vrad / RAD_PER_DEG
            counts = (pairs.filter(F.col("dist_deg") <= vr_deg)
                      .groupBy(query_id).agg(F.count(F.lit(1)).alias("_n")))
            still = (qmeta.join(counts, query_id, "left")
                     .filter(F.coalesce(F.col("_n"), F.lit(0)) < k))
            if still.limit(1).count() > 0:
                raise RuntimeError(
                    f"knn widening exhausted max_rounds={max_rounds} before "
                    f"the verified radius covered the sphere (level {lvl}); "
                    f"raise max_rounds — results would otherwise be "
                    f"silently partial")

    order = [F.col("dist_deg").asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(query_id).orderBy(*order)

    out = (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .drop("_qra", "_qdec")
    )
    # k x queries rows: cheap to materialize; truncating lineage here lets
    # the pairs cache be dropped immediately instead of leaking per call
    out = out.localCheckpoint(eager=True)
    first_cache.unpersist()
    return out


def knn_join(left: DataFrame, right: DataFrame, k: int,
             level: int = 4,
             left_id: str = "left_id", right_id: str = "right_id",
             l_cols=("ra", "dec"), r_cols=("ra", "dec"),
             cell_col: str | None = None, cell_level: int | None = None,
             levels: tuple | None = None,
             auto_levels: bool = False,
             oversample: float = 2.0,
             max_fine_level: int = 16,
             prune_max_active: int = 200_000,
             exclude_self: bool = False,
             partial_topk: bool = False,
             salt_residual: bool | None = None,
             on_starved: str = "raise") -> DataFrame:
    """k nearest ``right`` rows for EVERY ``left`` row — both sides big
    (the self-kNN / k-nearest-source-per-object statistic; A6+J4 at table
    scale, reference seed htm.c:1582-1700's ring pruning).

    Unlike :func:`knn` (which broadcasts a small query frame), NEITHER
    side is broadcast: both sides are keyed at a probe level and the
    candidate join is a shuffled equi-join on the cell key (plan-asserted
    in tests) — left explodes into its ring-1 disc (healpix.neighbors_col,
    JVM Column math), so every true pair within the verified radius
    shares a key.

    Per-pass completeness criterion: a left row is SATISFIED when its
    k-th ranked candidate lies within safe_ring1_rad(level) — then no
    uncovered point (necessarily farther than the safe radius) can enter
    the true top-k. Unsatisfied rows re-probe at each coarser level in
    ``levels`` (default: level, level-2, 0; the coarse pass recomputes
    their candidates wholesale, so no duplicate pairs). Rows still
    starved after the coarsest pass (k-th neighbor beyond ~29 deg at
    level 0) hit ``on_starved``: "raise" (default — never silently
    partial) or "exact" (a LABELED crossJoin of just the starved rows
    against ``right`` — complete by construction; the starved set is the
    sparse tail, so the product stays bounded in practice).

    ``auto_levels=True`` replaces the fixed ladder with DENSITY-ADAPTIVE
    per-row probe levels — the skew fix a real sky needs: a dense region
    (e.g. 10k rows inside one probe cell) turns the cell equi-join into a
    single 10k x 10k shuffle key (~1e8 pair rows in ONE task) at any
    global level that suits the sparse sky. The right side is counted
    ONCE per cell at a reference level capped at 8 (<= 786k rows —
    broadcastable REGARDLESS of table size, it is level-bounded) with
    coarser grids derived by shiftright rollups; each left row reads
    its local density from the finest grid whose count is
    statistically stable (multi-resolution — a dense clump sees its
    fine-cell density, the sparse field a stable coarse-cell one), and
    each left row starts at the FINEST level whose verified radius is
    expected to hold ``k + oversample * sqrt(k)`` rows at its local
    density — enough that the k-th neighbor lies within vr with high
    Poisson probability, but no more: every even rung coarser costs 16x
    the candidate pairs, so a multiplicative margin (3*k-style) drags
    rows onto rungs quadratically more expensive than they need.
    Correctness never depends on the level choice (the
    satisfaction criterion re-checks), only the pair explosion does.
    Starved rows drop two levels (one even rung) per sweep.  (An
    observed-k-th-distance jump is impossible by construction: the
    vr prefilter — the round-4 rank-input win — removes every
    candidate beyond the rung's verified radius before ranking, so a
    starved row never carries a k-th distance to jump on.)

    MULTI-RUNG SWEEP: under ``auto_levels`` every outstanding rung is
    served in ONE job per round — each rung becomes a branch of a
    single union (keyed, semi-pruned and salted exactly as a dedicated
    pass would be, tagged with its rung's verified-radius literal), and
    the rank window, satisfaction check and anti-join run once over the
    union with a PER-ROW radius prefilter. Correctness is untouched (a
    left row sits on exactly one rung per sweep, so its candidate set
    and radius are identical to the dedicated pass's); what changes is
    the fixed cost — the old one-pass-per-rung schedule paid a full
    histogram + right re-key + rank shuffle + checkpoint barrier for
    rungs serving a few hundred rows (~8 s of a ~17 s sf0.1 run),
    while the sweep's small rungs ride the big rung's job as
    concurrently-scheduled branches.

    SPARSE-RUNG FOLDING: a rung holding only a handful of rows (a
    clumped sky's spot-edge tail, or starved rows cascading out of a
    finished sweep) folds into the next outstanding rung instead of
    paying a dedicated union branch (its own right-side keying and
    broadcast cell prune), whenever its bounded
    extra pair count (rows x profile-measured per-row density bound x
    the target rung's ring-1 disc area — exact where the drill-down
    measured, heuristic where refinement was truncated) stays under
    ``SPT_KNN_MERGE_PAIR_BUDGET`` (env, default 8M pairs). Folding is
    correctness-free by the same argument as the cascade (coarser
    probe = superset of candidates; satisfaction re-verifies) —
    measured A/B in bench_artifacts/knn_fold_probe.json (5 -> 3 passes
    on the sf1 bench sky, identical output, wall time
    neutral-to-positive within host noise). At cluster scale every
    rung is populated enough that the budget disables all folding.

    RESIDUAL EXTREME KEYS — a clump inside ONE cell at the finest
    refinable rung (``max_fine_level`` caps probing, so the drill-down
    cannot split it) — are handled by AUTO-SALTING the candidate join
    (``salt_residual=None`` resolves to on under ``auto_levels``; pass
    False to force off). A hot cell (>= ``SPT_KNN_RESIDUAL_HOT`` rows,
    env, default 4000) hashes its right rows into
    ceil(count / ``SPT_KNN_SALT_TARGET``) salt groups (env, default
    2000) and replicates the cell's left rows across them, so the
    count^2 pair enumeration that would otherwise run inside ONE join
    task parallelizes S ways — and every (l, r) pair still occurs
    exactly once, because the right row carries ONE salt. The per-task
    pair count drops from count^2 to count * SALT_TARGET: LINEAR in the
    clump size instead of quadratic, which is what makes a 100k-row hot
    cell (10^10 pairs — hours in one task) survivable. Measured
    (bench_artifacts/knn_skew_probe.json, same-window A/B pairs,
    checksums identical): 12k clump over a 500k field 94 s salted vs
    98 s unsalted (1.04x — the field dominates), 24k clump over a 64k
    field 243 s vs 301 s (1.24x) — the gap widens with clump size as
    the quadratic single-task enumeration takes over. The rank side
    needs no salt-aware change: Spark 4's partial WindowGroupLimit
    already keeps the rank exchange at O(k * rows) regardless
    (plan-asserted) — only the enumeration task itself needs splitting.
    ``partial_topk`` (per-cell partial top-k before the global rank)
    remains an explicit opt-in and is measured SLOWER in this regime
    (150 s vs 98 s on the 12k fixture): its zero-Exchange groupBy
    serializes inside the one hot join task.

    When both tables carry an ingest-time nested-HPX cell column
    (``cell_col`` at ``cell_level``), pass keys are shiftrights of it and
    the whole plan is JVM-only at probe levels <= ``cell_level`` (zero
    ArrowEvalPython, like crossmatch's cell-column path).

    Output: one row per (left row, rank): ``left_id``, ``right_id``,
    ``knn_rank`` (1-based, ordered by exact angular distance with
    ``right_id`` as the deterministic tiebreak). If the two id column
    names collide, suffixes ``_l``/``_r`` are appended.
    """
    if on_starved not in ("raise", "exact"):
        raise ValueError(f"unknown on_starved {on_starved!r}")
    if auto_levels and levels is not None:
        raise ValueError("auto_levels=True replaces the fixed `levels` "
                         "ladder; pass one or the other")
    use_cell = cell_col is not None and cell_level is not None
    if use_cell:
        level = min(level, cell_level)
    if auto_levels:
        levels = ()  # per-row rungs, built below from the density profile
    elif levels is None:
        levels = tuple(dict.fromkeys((level, max(level - 2, 0), 0)))
    else:
        levels = tuple(levels)
        if any(l > level for l in levels):
            raise ValueError("levels must be <= the starting level")

    lr, ld = l_cols
    rr, rd = r_cols
    out_lid = left_id + "_l" if left_id == right_id else left_id
    out_rid = right_id + "_r" if left_id == right_id else right_id

    spark = left.sparkSession
    lf = left.select(F.col(left_id).alias("_lid"),
                     F.col(lr).alias("_lra"), F.col(ld).alias("_ldec"),
                     *([F.col(cell_col).alias("_lcell")] if use_cell else []))
    rk_base = right.select(F.col(right_id).alias("_rid"),
                           F.col(rr).alias("_rra"), F.col(rd).alias("_rdec"),
                           *([F.col(cell_col).alias("_rcell")]
                             if use_cell else []))

    # ORDERING KEY: ``_dist`` holds the NEGATED pair cosine (-dot), not the
    # angular distance. acos is strictly decreasing, so ordering/thresholds
    # on -dot are EXACTLY the orderings/thresholds on the acos distance —
    # same ranks, same tiebreaks, same survivor sets — while the per-pair
    # cost drops from 5 trig + acos to 3 multiplies + 2 adds when both
    # sides carry precomputed unit vectors (guide §2.3/§1.2 "per-task
    # work": profiled at sf1 the candidate-pair distance evaluation was
    # ~200 CPU-s of the sweep's ~210 CPU-s main job). Output never exposes
    # a distance column, so the substitution is invisible outside.
    rad = F.radians
    trig_dot = (F.cos(rad(F.col("_ldec"))) * F.cos(rad(F.col("_rdec")))
                * F.cos(rad(F.col("_lra")) - rad(F.col("_rra")))
                + F.sin(rad(F.col("_ldec"))) * F.sin(rad(F.col("_rdec"))))
    xyz_dot = (F.col("_lx") * F.col("_rx") + F.col("_ly") * F.col("_ry")
               + F.col("_lz") * F.col("_rz"))

    def _with_xyz(df: DataFrame, pre: str, ra_c: str, dec_c: str) -> DataFrame:
        cr, cd = rad(F.col(ra_c)), rad(F.col(dec_c))
        return df.withColumns({f"{pre}x": F.cos(cr) * F.cos(cd),
                               f"{pre}y": F.sin(cr) * F.cos(cd),
                               f"{pre}z": F.sin(cd)})

    def _negcos(vr_deg: float) -> float:
        return -math.cos(vr_deg * RAD_PER_DEG)

    def rank_topk(cand: DataFrame, max_dist: float | None = None) -> DataFrame:
        """Rank candidates per left row; ``max_dist`` (the pass's verified
        radius as a NEGATED cosine — see the _dist note above) prunes
        candidates BEFORE the rank window. Safe by the same
        argument as the satisfaction criterion: a pass's output is kept
        only for rows whose k-th candidate lies within vr, and for those
        rows every true top-k member is within vr, so dropping farther
        candidates cannot change the kept top-k; unsatisfied rows discard
        this pass's output and re-probe coarser. Measured at sf1 (1M-row
        self-kNN): the level-6 background pass shuffles ~184 candidates
        per row into the window without the filter and ~16 with it — the
        window sort was the pass's dominant (and most host-noise-exposed)
        cost. Only the cascade's optimal-jump hint is lost (a starved
        row's k-th distance beyond vr is no longer observed, so it steps
        2 levels instead of jumping) — starved rows are the sparse tail."""
        if exclude_self:
            cand = cand.filter(F.col("_lid") != F.col("_rid"))
        # unit vectors when the caller precomputed them (the candidate-join
        # paths); the small fallback paths (starved crossJoin, vacuous
        # empty-left) evaluate the trig form per pair — each left row's
        # candidates all rank through exactly ONE of the two forms, so
        # per-row ordering is internally consistent
        pair = xyz_dot if "_lx" in cand.columns else trig_dot
        cand = cand.withColumn("_dist", -pair)
        if max_dist is not None:
            _md = (max_dist if isinstance(max_dist, Column)
                   else F.lit(max_dist))
            cand = cand.filter(F.col("_dist") <= _md)
        # project before the rank exchange (guide §2.3): _dist is already
        # computed and the radius filter applied, so the window needs only
        # (_lid, _rid, _dist) — every caller consumes exactly those plus
        # _rk. Coordinates (and the sweep's _vr literal) would otherwise
        # ride the rank shuffle as dead weight on every candidate row.
        cand = cand.select("_lid", "_rid", "_dist")
        w = Window.partitionBy("_lid").orderBy(F.col("_dist").asc(),
                                               F.col("_rid").asc())
        return (cand.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k))

    outputs = []
    todo = lf
    vr_table = {L: safe_ring1_rad(L) / RAD_PER_DEG
                for L in range(0, max(max_fine_level, level) + 1)}
    import time as _time0
    _t_prof0 = _time0.perf_counter()
    if auto_levels:
        # right-side density at a reference level capped at
        # DENSITY_REF_LEVEL: the counts frame is bounded by 12*4^8 = 786k
        # rows whatever the table size, so the broadcast below never
        # depends on data volume
        ref_top = (min(cell_level, DENSITY_REF_LEVEL) if use_cell
                   else DENSITY_REF_LEVEL)
        refs = list(range(ref_top, -1, -2))  # finest ... coarsest
        # MULTI-RESOLUTION density: a single global reference grid
        # cannot serve a skewed sky — too coarse and a dense clump's
        # density dilutes over the big cell (rows probe far too coarse,
        # quadratic pair blow-up); too fine and the sparse field's
        # per-cell counts are 0/1 Poisson noise (rows smear over every
        # rung). Instead: ONE groupBy at the finest reference level,
        # coarser grids derived by shiftright rollups (the nested-id
        # hierarchy), and each left row reads its density from the
        # FINEST grid whose cell count is statistically stable.
        MIN_CNT = 48  # ~14% relative Poisson error
        rref = (hpx_cell_key("_rcell", cell_level, ref_top) if use_cell
                else hpx_udf(ref_top)(F.col("_rra"), F.col("_rdec")))
        lref = (hpx_cell_key("_lcell", cell_level, ref_top) if use_cell
                else hpx_udf(ref_top)(F.col("_lra"), F.col("_ldec")))
        # rows with a null cell (null coordinates or ingest cell) can
        # never match a key; their group is dropped so no null ever
        # reaches the driver-side drill below
        counts_top = (rk_base.groupBy(rref.alias("_dc"))
                      .agg(F.count(F.lit(1)).alias("_dn"))
                      .filter(F.col("_dc").isNotNull())
                      .localCheckpoint(eager=True))

        def area(R):
            return 41252.96124941928 / (12 << (2 * R))  # sq deg / cell

        even_top = max_fine_level - (max_fine_level % 2)

        # HIERARCHICAL DRILL-DOWN below the reference grid: a sub-cell
        # clump (e.g. a 0.05-deg dense spot inside a 0.46-deg reference
        # cell) dilutes over the reference cell and reads ~100x below its
        # true local density, so its rows would probe 2-3 rungs too
        # coarse — each rung costing 16x the candidate pairs (measured:
        # a 10k-row spot at the diluted rung is a 165M-pair pass; at its
        # true rung, 10M). Refine the profile 2 levels at a time, but
        # ONLY inside cells hot enough to matter (count >= 4*MIN_CNT)
        # and at most TOP_REFINE cells per step — each step's counts
        # frame is therefore <= TOP_REFINE * 16 children no matter how
        # many rows the table has, so every broadcast stays bounded at
        # any scale. Fine cells below MIN_CNT are dropped (their rows
        # read the coarser, stable grid instead — the existing
        # finest-stable-grid rule).
        REFINE_CNT = 4 * MIN_CNT
        TOP_REFINE = 8192

        def _rkey_at(R):
            if use_cell and R <= cell_level:
                return hpx_cell_key("_rcell", cell_level, R)
            return F.shiftright("_rf", 2 * (even_top - R))

        fine_grids: list = []  # [(level, counts_df)] finest LAST
        srv = rk_base      # running survivor frame (rows in hot cells)
        srv_has_rf = False
        # materialize survivors once they are provably small: the lazy
        # chain otherwise re-evaluates from rk_base — a FULL table scan
        # plus the survivor Arrow keying — on every refinement step
        # (profiled at sf1: 1.5-2.6 s per step, ~pure rescan). The bound
        # is exact and driver-cheap: hot carries the per-cell counts, so
        # sum(_dn) IS the survivor row count. Above the cap (env
        # SPT_KNN_DRILL_CKPT_MAX) the old lazy behavior is kept — never
        # materialize an unbounded frame on a 100 TB table.
        import os as _os
        _ckpt_max = int(_os.environ.get("SPT_KNN_DRILL_CKPT_MAX",
                                        "8000000"))
        cur, lvlp = counts_top, ref_top
        # DRIVER-SIDE DRILL COMPLETION (guide §1.2 step 1 — fewer
        # passes): the iterative loop below pays ~4 Spark jobs per
        # refinement step (hot checkpoint+collect, survivor semi-join +
        # checkpoint, fine groupBy + checkpoint, emptiness probe) on a
        # survivor set whose EXACT size is known up front from the
        # hot-cell counts. When that mass is driver-safe (env
        # SPT_KNN_DRILL_COLLECT_MAX, default 4M keys = ~32 MB Arrow
        # collect) the survivors' even_top keys are collected ONCE and
        # every remaining refinement level is the same unique/ancestor
        # arithmetic in numpy — identical cells, identical counts,
        # identical TOP_REFINE/MIN_CNT gating, zero further jobs
        # (profiled at sf1: the loop's per-step jobs were ~2-4 s of the
        # ~5-10 s profile phase). Probe levels only shape performance,
        # and this path reproduces them exactly anyway; above the cap
        # (a 100 TB table's hot set can be anything) the distributed
        # loop below is unchanged.
        _collect_max = int(_os.environ.get("SPT_KNN_DRILL_COLLECT_MAX",
                                           "4000000"))
        _drill_done = False
        if lvlp + 2 <= even_top:
            hot0 = (counts_top.filter(F.col("_dn") >= REFINE_CNT)
                    .orderBy(F.col("_dn").desc()).limit(TOP_REFINE)
                    .collect())
            if not hot0:
                _drill_done = True  # no refinable cell anywhere
            elif sum(r["_dn"] for r in hot0) <= _collect_max:
                hdf = spark.createDataFrame(
                    [(int(r["_dc"]),) for r in hot0], "_hc long")
                if use_cell:
                    # prune on the ingest cell column (JVM; ref_top <=
                    # cell_level by construction), then key survivors
                    # only — the Arrow pass never sees the full table
                    srv0 = rk_base.join(
                        F.broadcast(hdf),
                        hpx_cell_key("_rcell", cell_level, ref_top)
                        == F.col("_hc"), "left_semi")
                    kcol = (hpx_cell_key("_rcell", cell_level, even_top)
                            if even_top <= cell_level
                            else hpx_udf(even_top)(F.col("_rra"),
                                                   F.col("_rdec")))
                    keyed = srv0.select(kcol.alias("_k"))
                else:
                    # no JVM key available: key the table once (the
                    # distributed loop pays the same full Arrow pass)
                    keyed = (rk_base.withColumn(
                        "_k", hpx_udf(even_top)(F.col("_rra"),
                                                F.col("_rdec")))
                        .join(F.broadcast(hdf),
                              F.shiftright("_k", 2 * (even_top - ref_top))
                              == F.col("_hc"), "left_semi")
                        .select("_k"))
                _keys = (keyed.filter(F.col("_k").isNotNull()).toPandas()
                         ["_k"].to_numpy().astype(np.int64))
                _hot = np.array([int(r["_dc"]) for r in hot0],
                                dtype=np.int64)
                while lvlp + 2 <= even_top:
                    nxt = lvlp + 2
                    if _hot.size == 0:
                        break
                    anc = _keys >> np.int64(2 * (even_top - lvlp))
                    _keys = _keys[np.isin(anc, _hot)]
                    fine_anc = _keys >> np.int64(2 * (even_top - nxt))
                    cells, cnts = np.unique(fine_anc, return_counts=True)
                    m = cnts >= MIN_CNT
                    cells, cnts = cells[m], cnts[m]
                    if cells.size == 0:
                        break
                    fdf = spark.createDataFrame(
                        pd.DataFrame({"_dc": cells.astype(np.int64),
                                      "_dn": cnts.astype(np.int64)}),
                        "_dc long, _dn long")
                    fine_grids.append((nxt, fdf))
                    cur, lvlp = fdf, nxt
                    hm = cnts >= REFINE_CNT
                    hc, hn = cells[hm], cnts[hm]
                    if hc.size > TOP_REFINE:
                        sel = np.argsort(-hn, kind="stable")[:TOP_REFINE]
                        hc = hc[sel]
                    _hot = hc
                _drill_done = True
        while not _drill_done and lvlp + 2 <= even_top:
            nxt = lvlp + 2
            hot = (cur.filter(F.col("_dn") >= REFINE_CNT)
                   .orderBy(F.col("_dn").desc()).limit(TOP_REFINE)
                   .select(F.col("_dc").alias("_hc"), "_dn")
                   .localCheckpoint(eager=True))
            # <= TOP_REFINE rows off a checkpointed frame: this collect
            # replaces the old limit(1).count() emptiness probe AND
            # yields the exact survivor count for the checkpoint gate
            hot_rows = hot.select("_dn").collect()
            if not hot_rows:
                break
            # prune FIRST (JVM key: the ingest cell column, or _rf
            # materialized on a previous step's survivors), THEN key the
            # survivors — with an ingest cell column the Arrow pass never
            # sees the full table (without one, the semi key itself needs
            # _rf, like the profile's own full-table groupBy did)
            if not srv_has_rf and not (use_cell and lvlp <= cell_level):
                srv = srv.withColumn(
                    "_rf", hpx_udf(even_top)(F.col("_rra"),
                                             F.col("_rdec")))
                srv_has_rf = True
            srv = srv.join(F.broadcast(hot.select("_hc")), _rkey_at(lvlp)
                           == F.col("_hc"), "left_semi")
            if not srv_has_rf and not (use_cell and nxt <= cell_level):
                # survivors keyed once at even_top; every refinement
                # level derives by shiftright (the nested-id prefix
                # property, same hierarchy the pass loop uses)
                srv = srv.withColumn(
                    "_rf", hpx_udf(even_top)(F.col("_rra"),
                                             F.col("_rdec")))
                srv_has_rf = True
            if sum(r["_dn"] for r in hot_rows) <= _ckpt_max:
                srv = srv.localCheckpoint(eager=True)
            fine = (srv.groupBy(_rkey_at(nxt).alias("_dc"))
                    .agg(F.count(F.lit(1)).alias("_dn"))
                    .filter(F.col("_dn") >= MIN_CNT)
                    .localCheckpoint(eager=True))
            if fine.limit(1).count() == 0:
                break
            fine_grids.append((nxt, fine))
            cur, lvlp = fine, nxt

        todo = lf.withColumn("_p", lref)
        if fine_grids and not (use_cell
                               and fine_grids[-1][0] <= cell_level):
            # (A semi/anti split-union that keyed only rows under hot-
            # cell ancestors through the Arrow UDF was measured SLOWER
            # at sf1 — +2 s: the double scan + union outweighed the
            # saved Arrow pass, which pipelines well at this width.)
            todo = todo.withColumn(
                "_pf", hpx_udf(even_top)(F.col("_lra"), F.col("_ldec")))

        def _lkey_at(R):
            if use_cell and R <= cell_level:
                return hpx_cell_key("_lcell", cell_level, R)
            return F.shiftright("_pf", 2 * (even_top - R))

        refs_all = [R for R, _ in reversed(fine_grids)] + refs
        for R, cdf in fine_grids:
            cdf = cdf.select(F.col("_dc").alias(f"_dc{R}"),
                             F.col("_dn").alias(f"_dn{R}"))
            todo = (todo.withColumn(f"_dc{R}", _lkey_at(R))
                    .join(F.broadcast(cdf), f"_dc{R}", "left"))
        for R in refs:
            cR = (counts_top if R == ref_top else
                  counts_top.groupBy(
                      F.shiftright("_dc", 2 * (ref_top - R)).alias("_dc"))
                  .agg(F.sum("_dn").alias("_dn")))
            cR = cR.select(F.col("_dc").alias(f"_dc{R}"),
                           F.col("_dn").alias(f"_dn{R}"))
            todo = (todo.withColumn(
                f"_dc{R}", F.shiftright("_p", 2 * (ref_top - R)))
                .join(F.broadcast(cR), f"_dc{R}", "left"))
        d = None  # rows / sq deg at the finest stable grid
        for R in refs_all:
            cnt = F.coalesce(F.col(f"_dn{R}"), F.lit(0)).cast("double")
            dens = cnt / F.lit(area(R))
            d = (F.when(cnt >= MIN_CNT, dens) if d is None
                 else d.when(cnt >= MIN_CNT, dens))
        cnt0 = F.coalesce(F.col(f"_dn{refs[-1]}"), F.lit(0)).cast("double")
        d = d.otherwise(cnt0 / F.lit(area(refs[-1])))
        # start level = finest even L whose verified-radius disc is
        # expected to hold need = k + oversample*sqrt(k) rows at the
        # row's local density (Poisson-aware: enough to satisfy with
        # high probability, and every even rung coarser costs 16x the
        # candidate pairs). EVEN rungs only: each pass has real fixed
        # cost, and one-level granularity buys nothing the satisfaction
        # check doesn't re-verify.
        need = k + oversample * math.sqrt(k)
        albl = None
        for L in range(even_top, 0, -2):
            thresh = need / (math.pi * vr_table[L] ** 2)  # rows / sq deg
            cond = d >= thresh
            albl = (F.when(cond, L) if albl is None
                    else albl.when(cond, L))
        albl = F.lit(0) if albl is None else albl.otherwise(0)
        drop_cols = (["_p"] + [f"_dc{R}" for R in refs_all]
                     + [f"_dn{R}" for R in refs_all])
        if "_pf" in todo.columns:
            drop_cols.append("_pf")
        todo = (todo.withColumn("_albl", albl)
                .drop(*drop_cols)
                .localCheckpoint(eager=True))
        if _os.environ.get("SPT_KNN_DEBUG"):
            print(f"[knn_join] density profile + todo assembly: "
                  f"{_time0.perf_counter() - _t_prof0:.1f}s")

    import os as _os
    import time as _time
    # RESIDUAL EXTREME-KEY DETECTION (see docstring): `cur` is the
    # finest drill-down counts frame (<= TOP_REFINE * 16 rows, already
    # checkpointed — this is a driver-cheap read of a tiny frame).
    # Whatever ended the drill loop, a cell >= RESIDUAL_HOT can only
    # still be there if no finer rung could take it: RESIDUAL_HOT >=
    # 4 * REFINE_CNT keeps every splittable ancestor above both refine
    # filters on the way down, so an early `break` (no hot / no fine
    # cells) proves no residual hot cell exists either.
    if salt_residual is None:
        salt_residual = auto_levels
    elif salt_residual and not auto_levels:
        # detection needs the auto drill-down's counts frame; silently
        # skipping would hand the user who explicitly asked for salting
        # the exact one-task quadratic they asked to avoid
        raise ValueError(
            "salt_residual=True requires auto_levels=True (residual "
            "hot cells are detected from the density drill-down's "
            "finest-rung counts; a fixed `levels` ladder has none)")
    _hot_fine: dict = {}   # finest-rung pix -> row count
    if salt_residual and auto_levels:
        _resid_hot = int(_os.environ.get("SPT_KNN_RESIDUAL_HOT", "4000"))
        # BOUNDED driver read: top-1024 hottest residual cells — far
        # beyond any physical sky's extreme tail, and the salt map must
        # stay a small plan literal
        _hot_fine = {int(r["_dc"]): int(r["_dn"]) for r in
                     cur.filter(F.col("_dn") >= _resid_hot)
                     .orderBy(F.col("_dn").desc()).limit(1024).collect()}
    _salt_target = max(1, int(_os.environ.get(
        "SPT_KNN_SALT_TARGET", "2000")))
    _DECISIONS["partial_topk"] = partial_topk
    _DECISIONS["salted_cells"] = len(_hot_fine)

    def _salt_map_at(lvl: int) -> dict:
        """Per-pass (cell-at-lvl -> salt count) for the residual hot
        cells, derived driver-side from the finest-rung counts.
        Coarser passes aggregate counts up to the ancestor; finer
        passes (at most one rung past lvlp — the drill loop's exit
        bound) spread the parent's count over its children
        (over-salting a child is harmless extra parallelism;
        under-salting would be the real risk)."""
        if not _hot_fine:
            return {}
        if lvl <= lvlp:
            agg: dict = {}
            for p, dn in _hot_fine.items():
                a = p >> (2 * (lvlp - lvl))
                agg[a] = agg.get(a, 0) + dn
            m = {a: -(-dn // _salt_target) for a, dn in agg.items()}
        else:
            fan = 1 << (2 * (lvl - lvlp))
            if fan > 16 or len(_hot_fine) * fan > 4096:
                # unreachable via the drill loop's exit bound; guards
                # future cap changes from exploding the map literal
                return {}
            m = {}
            for p, dn in _hot_fine.items():
                s = -(-dn // _salt_target)
                for i in range(fan):
                    m[(p << (2 * (lvl - lvlp))) + i] = s
        return {a: int(s) for a, s in m.items() if s > 1}
    _dbg = bool(_os.environ.get("SPT_KNN_DEBUG"))
    # SPARSE-RUNG COALESCING state (auto_levels; applied inside the pass
    # loop). Every pass pays a real fixed cost — the ~|left|-row todo
    # frame re-filters, anti-joins and re-checkpoints, the right side
    # re-keys — so a rung holding a small row tail (a clumped sky's
    # spot-edge rows, or a few starved rows cascading out of a finished
    # pass two levels at a time) costs far more in per-pass overhead
    # than its rows would add as candidate pairs at the next rung that
    # runs anyway. Pushing a row coarser is ALWAYS correctness-safe (a
    # coarser probe only widens the verified radius and the candidate
    # set; the satisfaction criterion re-verifies) — only the join's
    # pair count grows, and it is boundable without per-row state:
    # every row sitting at rung t has PROFILE-MEASURED local density
    # < _bound_of(t) (original rows: albl picked the FINEST rung whose
    # threshold their measured density met, so d < thresh(t+2); starved
    # rows arriving by cascade: fewer than k neighbors inside the
    # verified radius of the rung they failed, so d < thresh(failed
    # rung) — propagated via _bounds). CAVEAT: the bound is exact only
    # for the density the drill-down could SEE — where refinement was
    # truncated (MIN_CNT noise floor, TOP_REFINE cap) a sub-cell clump
    # reads diluted, so the budget is a heuristic cap there, not a
    # proof; the blow-up is still damped because folds only ever move
    # the few rows of a sparse rung, and a clump dense enough to
    # matter is exactly what the residual auto-salting below splits at
    # join time. Rung t folds into the next outstanding rung nxt iff
    # n_t * bound_t * disc(nxt) <= SPT_KNN_MERGE_PAIR_BUDGET (env;
    # default 8M pairs ~ well under one pass's fixed cost distributed).
    # At cluster scale every rung holds enough rows that the budget
    # stops all folding and the schedule is untouched — this exists for
    # the sparse tails (measured at 1M-row self-kNN: rungs serving
    # 475/8/7 rows cost 3.4-12 s each, ~pure fixed cost).
    _mbudget = float(_os.environ.get("SPT_KNN_MERGE_PAIR_BUDGET",
                                     "8000000"))
    _bounds: dict = {}  # rung -> density upper bound of rows parked there

    if auto_levels:
        def _bound_of(t: int) -> float:
            if t in _bounds:
                return _bounds[t]
            return (need / (math.pi * vr_table[t + 2] ** 2)
                    if t + 2 <= even_top else float("inf"))
    def _build_cand(active: DataFrame, lvl: int, n_active) -> DataFrame:
        """Candidate pairs for rows probing at ``lvl`` — the per-rung
        keying block shared by the fixed-ladder passes and the
        auto_levels sweep: ring-1 disc explode on the left, right side
        keyed at ``lvl`` (semi-pruned against the rung's bounded cell
        set when it is small), residual hot-cell salting. Returns the
        joined frame with ``_mc`` still attached (the partial_topk
        reduction groups on it); ``_salt`` is already dropped and
        ``exclude_self`` already applied."""
        if use_cell and lvl <= cell_level:
            lpix = hpx_cell_key("_lcell", cell_level, lvl)
            rkey = hpx_cell_key("_rcell", cell_level, lvl)
        else:
            lpix = hpx_udf(lvl)(F.col("_lra"), F.col("_ldec"))
            rkey = hpx_udf(lvl)(F.col("_rra"), F.col("_rdec"))
        # project before the join exchange (guide §2.3): the candidate
        # join and the rank only need id + coordinates; _lcell/_albl (and
        # _rcell on the right) would otherwise ride the exploded-left
        # shuffle — the widest exchange of the whole operator — as dead
        # weight.
        lk = explode_cells(
            _with_xyz(active, "_l", "_lra", "_ldec")
            .select("_lid", "_lx", "_ly", "_lz", lpix.alias("_pix")),
            neighbors_col(lvl, "_pix"), "_mc", ["_lid", "_lx", "_ly", "_lz"])
        rk = rk_base
        if n_active is not None and 0 < n_active <= prune_max_active:
            # small rungs (cascade tails, spot edges): semi-joining the
            # right side against the rung's (bounded, broadcastable)
            # candidate-cell set keeps the full right table from
            # re-keying for a handful of rows — only matching rows reach
            # the exchange. Big rungs skip this (their cell set covers
            # most of the sky, so the prune would reject nothing).
            # NOT checkpointed deliberately: an eager checkpoint here
            # was measured SLOWER (A/B at sf1: +2 s/fine rung) — it
            # serializes on the driver what the broadcast thread pool
            # otherwise evaluates concurrently across rungs, and with
            # the JVM disc expression the duplicate evaluation by the
            # ancestor prune below is cheap.
            cells = lk.select("_mc").distinct()
            if use_cell and lvl > cell_level:
                # fine rung: the per-rung cell UDF would otherwise key
                # the FULL right table before the cell prune can apply
                # (the fine cells only exist post-UDF). Prune first on
                # the ingest-time cell column: the fine cells' ancestors
                # at cell_level are a tiny broadcast set and the
                # comparison is a JVM shiftright — the UDF then keys
                # survivors only.
                anc = (cells.select(
                    F.shiftright("_mc", 2 * (lvl - cell_level))
                    .alias("_rcell")).distinct())
                rk = rk.join(F.broadcast(anc), "_rcell", "semi")
            rk = (rk.withColumn("_mc", rkey)
                  .join(F.broadcast(cells), "_mc", "semi"))
        else:
            rk = rk.withColumn("_mc", rkey)
        rk = (_with_xyz(rk, "_r", "_rra", "_rdec")
              .select("_rid", "_rx", "_ry", "_rz", "_mc"))
        smap = _salt_map_at(lvl) if auto_levels else {}
        if smap:
            # residual hot-cell salting (see docstring + detection
            # block): right rows of a hot cell split over S salt
            # groups, the cell's left rows replicate across them; the
            # composite (_mc, _salt) key turns the single hot join task
            # into S tasks. Non-hot cells resolve to S=1 (salt 0 both
            # sides) and join exactly as before.
            _pairs = []
            for _c, _s in sorted(smap.items()):
                _pairs.append(F.lit(int(_c)).cast("bigint"))
                _pairs.append(F.lit(int(_s)).cast("int"))
            _sm = F.create_map(*_pairs)
            _ns = F.coalesce(F.element_at(_sm, F.col("_mc")), F.lit(1))
            rk = (rk.withColumn("_salt", F.pmod(
                F.xxhash64("_rid"), _ns.cast("bigint")).cast("int")))
            lk = (lk.withColumn("_salt", F.explode(
                F.sequence(F.lit(0), _ns - 1))))
            if _dbg:
                print(f"[knn_join] lvl={lvl} salted {len(smap)} hot "
                      f"cells, max S={max(smap.values())}")
            # The rank window downstream needs NO salt-aware change:
            # Spark 4 plans rank-filter windows as WindowGroupLimit
            # with a PARTIAL pass map-side (plan-asserted in tests), so
            # each salt task already forwards <= k rows per left row to
            # the rank exchange — the shuffle is O(k * rows), never
            # O(pairs), salted or not. (A manual co-partitioned
            # pre-reduction window was measured SLOWER — 162 s vs
            # 135 s for the clump pass — because it forces a full sort
            # of every pair inside the salt tasks, re-doing work the
            # partial group-limit does in one streaming pass.)
            cand = lk.join(rk, ["_mc", "_salt"]).drop("_salt")
        else:
            cand = lk.join(rk, "_mc")
        if exclude_self:
            cand = cand.filter(F.col("_lid") != F.col("_rid"))
        return cand

    def _reduce_partial(cand: DataFrame, neg_cos_vr: float) -> DataFrame:
        """OPT-IN per-cell partial top-k before the global rank: the
        candidate join's output is already hash-partitioned on _mc,
        which satisfies the (_mc, _lid) clustering, so this groupBy
        adds ZERO Exchange (plan-asserted in tests) — it reduces the
        global rank's input from every-candidate-in-every-ring-cell to
        <= k rows per (left row, ring cell). Measured OFF-by-default
        because the window's shuffle sort on narrow rows beats the
        per-group collect_list + array_sort at every candidate density
        the auto_levels drill-down produces (isolated sf1 A/B: 59-65 s
        off vs 76-84 s on), and in the residual-extreme-key regime too
        (150 s vs 98 s on the 12k-clump probe): Spark 4's partial
        WindowGroupLimit already caps the rank exchange at k rows per
        left row map-side (plan-asserted), so this groupBy only re-does
        that reduction with a heavier operator — and the true hot-cell
        quadratic lives in the JOIN task, which probing finer or
        salting (salt_residual), not post-join reduction, removes.
        Kept as an explicit knob only. A (l, r) pair occurs under
        exactly one _mc (right side has one key; left ring cells are
        deduped), so no pair double-counts, and struct ordering
        (_dist, _rid) matches the window tiebreak."""
        per = (cand.withColumn("_dist", -xyz_dot)
               .filter(F.col("_dist") <= F.lit(neg_cos_vr))
               .groupBy("_mc", "_lid")
               .agg(F.slice(F.array_sort(F.collect_list(
                   F.struct("_dist", "_rid"))), 1, k).alias("_top")))
        return (per.select("_lid", F.explode("_top").alias("_s"))
                .select("_lid", F.col("_s._dist").alias("_dist"),
                        F.col("_s._rid").alias("_rid")))

    w_rank = Window.partitionBy("_lid").orderBy(F.col("_dist").asc(),
                                                F.col("_rid").asc())
    starved_acc: list = []  # auto mode: rows starved out of rung 0

    if not auto_levels:
        # FIXED LADDER: inherently sequential — each pass serves every
        # still-unsatisfied row at the next coarser level, so pass N+1's
        # input depends on pass N's satisfaction anti-join.
        for lvl in levels:
            _t0 = _time.perf_counter()
            ncv = _negcos(vr_table[lvl])  # vr threshold in -cos space
            cand = _build_cand(todo, lvl, None)
            if partial_topk:
                red = _reduce_partial(cand, ncv)
                ranked = (red.withColumn("_rk",
                                         F.row_number().over(w_rank))
                          .filter(F.col("_rk") <= k))
            else:
                ranked = rank_topk(cand.drop("_mc"), max_dist=ncv)
            # materialize the pass's top-k ONCE (<= k rows/left row,
            # narrow cols): sat, the output branch, and todo's eager
            # checkpoint all re-derive from it — without this the
            # candidate join + rank (the heavy stage) runs twice per
            # pass (anti-join materialization now, output eval later)
            topk = (ranked.select("_lid", "_rid", "_rk", "_dist")
                    .localCheckpoint(eager=True))
            # satisfied: the k-th candidate exists AND lies within the
            # pass's verified radius — then ring-1 coverage proves the
            # top-k exact
            sat = (topk.filter((F.col("_rk") == k)
                               & (F.col("_dist") <= ncv))
                   .select("_lid"))
            outputs.append(
                topk.join(sat, "_lid", "semi")
                .select("_lid", "_rid", F.col("_rk").alias("knn_rank")))
            # localCheckpoint truncates the per-pass lineage (Spark 4.1
            # iterative-loop pathology — see knn()/graph.py) before the
            # next pass reuses it
            todo = (todo.join(sat, "_lid", "left_anti")
                    .localCheckpoint(eager=True))
            if _dbg:
                print(f"[knn_join] lvl={lvl} pass done in "
                      f"{_time.perf_counter() - _t0:.1f}s, todo left: "
                      f"{todo.count()}")
            if todo.limit(1).count() == 0:
                todo = None
                break
    else:
        # MULTI-RUNG SWEEP: every outstanding rung becomes ONE branch of
        # a single union — each branch keyed/pruned/salted exactly as a
        # dedicated pass would be, tagged with its rung's verified
        # radius — and the rank window, satisfaction check and anti-join
        # run ONCE over the union. Correctness is per-row and unchanged:
        # a left row sits on exactly one rung per sweep (single _albl
        # value), so its candidate set and verified radius are identical
        # to what the dedicated pass gave it; branches never mix rows.
        # What changes is the fixed cost: the old schedule paid a full
        # pass (histogram job, right-side re-key, rank shuffle,
        # checkpoint barrier, anti-join) PER RUNG — measured at sf0.1,
        # ~8 s of a ~17 s run went to rungs serving 229-1,840 rows —
        # while the sweep pays it once per round, with the small rungs
        # riding the big rung's job as concurrently-scheduled union
        # branches. Starved rows still cascade two levels per SWEEP, so
        # clumped skies converge in the same number of rank rounds.
        _sweep = 0
        while todo is not None:
            _t0 = _time.perf_counter()
            # ONE histogram job on the shrinking checkpointed frame
            # serves the sweep's rung list, the per-rung active counts
            # (prune decisions), and the sparse-rung folding.
            _hist = {int(r["_albl"]): int(r["_n"]) for r in
                     todo.groupBy("_albl")
                     .agg(F.count(F.lit(1)).alias("_n")).collect()}
            if not _hist:  # left side exhausted (or empty from start)
                todo = None
                break
            # per-rung pair-density MASS ledger for the fold budget:
            # rows x density-bound summed per rung. A single max-bound
            # per rung (the r5 scheme) let one 8-row tail folded down
            # from a finer rung poison the whole rung's bound 16x and
            # veto an affordable fold (measured at sf1: the 166-row
            # rung-8 tail read 33M pairs under the max bound vs 3.6M
            # true mass, forcing an extra full sweep); summing masses
            # prices each row at its own bound instead.
            _mass = {r: _hist[r] * _bound_of(r) for r in _hist}
            while _hist:  # fold tail rungs (see _bounds above)
                _t = max(_hist)
                _lower = [r for r in _hist if r < _t]
                if _lower:
                    _nx = max(_lower)
                elif _t > 0:
                    # LONE tail rung: pre-cascade it one even rung coarser
                    # under the same pair budget. A small starved tail
                    # otherwise converges two levels per sweep, paying a
                    # full sweep's fixed cost (histogram job, branch
                    # build, rank barrier, anti-join, checkpoint —
                    # measured 1.6-4 s per sweep at sf1 for 133-166 rows)
                    # per step; probing coarser up front costs only the
                    # budget-bounded extra pairs and is correctness-free
                    # (coarser probe = superset candidates + larger vr;
                    # the satisfaction criterion re-verifies).
                    _nx = _t - 2
                else:
                    break
                if _mass[_t] * 9.0 * area(_nx) > _mbudget:
                    break
                todo = todo.withColumn(
                    "_albl", F.when(F.col("_albl") == _t, F.lit(_nx))
                    .otherwise(F.col("_albl")))
                _bounds[_nx] = max(_bound_of(_nx), _bound_of(_t))
                if _dbg:
                    print(f"[knn_join] folded sparse rung {_t} "
                          f"({_hist[_t]} rows) into rung {_nx}")
                _mass[_nx] = _mass.get(_nx, 0.0) + _mass.pop(_t)
                _hist[_nx] = _hist.get(_nx, 0) + _hist.pop(_t)
            rungs = sorted(_hist, reverse=True)
            branches = []
            for lvl in rungs:
                act = (todo.filter(F.col("_albl") == lvl)
                       if len(rungs) > 1 else todo)
                cand = _build_cand(act, lvl, _hist[lvl])
                if partial_topk:
                    # the reduction already applies the rung's vr
                    # prefilter; reduced branches union directly into
                    # the global rank
                    branches.append(
                        _reduce_partial(cand, _negcos(vr_table[lvl])))
                else:
                    branches.append(cand.drop("_mc").withColumn(
                        "_vr", F.lit(_negcos(vr_table[lvl]))))
            swept = branches[0]
            for b in branches[1:]:
                swept = swept.unionByName(b)
            if partial_topk:
                ranked = (swept.withColumn("_rk",
                                           F.row_number().over(w_rank))
                          .filter(F.col("_rk") <= k))
            else:
                # per-row vr prefilter (the Column form of rank_topk's
                # max_dist): each candidate is kept only within ITS
                # row's rung radius, exactly as the dedicated pass did
                ranked = rank_topk(swept, max_dist=F.col("_vr"))
            # materialize the sweep's top-k ONCE (see the fixed-ladder
            # comment) — one checkpoint barrier per sweep, not per rung
            topk = (ranked.select("_lid", "_rid", "_rk", "_dist")
                    .localCheckpoint(eager=True))
            # satisfied: the k-th candidate exists — the vr prefilter
            # already guarantees it lies within the row's own verified
            # radius, so ring-1 coverage proves the top-k exact
            sat = topk.filter(F.col("_rk") == k).select("_lid")
            # satisfied-count accounting: sat holds exactly one row per
            # satisfied left id and topk is checkpointed, so counting it
            # is a cheap local job — when EVERY row of the sweep is
            # satisfied (the terminal sweep, by construction of the
            # cascade) the anti-join + cascade + eager checkpoint +
            # emptiness probe below are pure fixed cost and are skipped
            # outright. (Duplicate left ids would make n_sat undercount
            # vs the row histogram; that only forfeits the shortcut,
            # never correctness.) Only usable when no rung-0 rows are in
            # flight — those must be split out into starved_acc below.
            n_sat = sat.count() if 0 not in _hist else None
            # with n_sat known the sat-side joins can be planned
            # deliberately (guide §3.1): below the cap a broadcast hash
            # semi/anti replaces a two-sided sort-merge of the ~|rows|
            # frames (profiled ~2 s/pass at 1M rows); above it — at
            # cluster scale n_sat is billions — the planner's shuffle
            # join stands.
            _sat_bc = int(_os.environ.get("SPT_KNN_SAT_BC_MAX", "4000000"))
            sat_j = (F.broadcast(sat)
                     if n_sat is not None and n_sat <= _sat_bc else sat)
            outputs.append(
                topk.join(sat_j, "_lid", "semi")
                .select("_lid", "_rid", F.col("_rk").alias("knn_rank")))
            if n_sat is not None and n_sat >= sum(_hist.values()):
                todo = None
            else:
                todo = todo.join(sat_j, "_lid", "left_anti")
                # rows starved at lvl found < k neighbors inside vr(lvl):
                # their local density is provably < need/(pi*vr(lvl)^2) —
                # record it so the next sweep's folding can bound them.
                # (Bounds read the pre-sweep state; each rung's rows land
                # on a distinct target rung, so update order cannot
                # matter.)
                _nb: dict = {}
                for lvl in rungs:
                    if lvl == 0:
                        continue
                    _cb = min(_bound_of(lvl),
                              need / (math.pi * vr_table[lvl] ** 2))
                    _nb[lvl - 2] = max(
                        _nb.get(lvl - 2, _bound_of(lvl - 2)), _cb)
                if 0 in _hist:
                    # rung-0 rows just had their final (coarsest) chance:
                    # still-unsatisfied ones are genuinely starved (k-th
                    # neighbor beyond the level-0 verified radius) and
                    # fall through to on_starved below instead of
                    # re-sweeping
                    starved_acc.append(
                        todo.filter(F.col("_albl") == 0)
                        .localCheckpoint(eager=True))
                    todo = todo.filter(F.col("_albl") > 0)
                _bounds.update(_nb)
                # starved rows drop two levels (one even rung) per sweep.
                # (An observed-k-th-distance jump is impossible by
                # construction: the vr prefilter removes every candidate
                # beyond the rung's radius before ranking, so a starved
                # row never carries a k-th distance to jump on.)
                # localCheckpoint truncates the per-sweep lineage
                # (Spark 4.1 iterative-loop pathology — see
                # knn()/graph.py) before the next sweep.
                todo = (todo.withColumn("_albl",
                                        F.col("_albl") - F.lit(2))
                        .localCheckpoint(eager=True))
                # when n_sat is known the remaining count is too — the
                # per-sweep emptiness probe job is only needed after a
                # rung-0 split (n_sat unknown there)
                if n_sat is None and todo.limit(1).count() == 0:
                    todo = None
            _sweep += 1
            if _dbg:
                print(f"[knn_join] sweep {_sweep} rungs={rungs} done "
                      f"in {_time.perf_counter() - _t0:.1f}s, "
                      f"todo left: "
                      f"{0 if todo is None else todo.count()}")

    starved = todo
    for s in starved_acc:
        starved = s if starved is None else starved.unionByName(s)
    if starved is not None and starved.limit(1).count() > 0:
        if on_starved == "raise":
            n = starved.count()
            last = 0 if auto_levels else levels[-1]
            raise RuntimeError(
                f"knn_join: {n} left rows still starved after the "
                f"level-{last} pass (k-th neighbor beyond its "
                f"~{safe_ring1_rad(last) / RAD_PER_DEG:.0f} deg "
                "verified radius); pass on_starved='exact' or add coarser "
                "levels — results would otherwise be silently partial")
        # LABELED exact fallback: all-pairs for the starved tail only
        topk = rank_topk(starved.crossJoin(rk_base))
        outputs.append(topk.select("_lid", "_rid",
                                   F.col("_rk").alias("knn_rank")))

    if not outputs:  # empty left side: a vacuous, correctly-typed result
        outputs.append(
            rank_topk(lf.limit(0).crossJoin(rk_base))
            .select("_lid", "_rid", F.col("_rk").alias("knn_rank")))
    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o)
    return out.select(F.col("_lid").alias(out_lid),
                      F.col("_rid").alias(out_rid), "knn_rank")

