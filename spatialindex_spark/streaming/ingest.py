"""Structured Streaming ingest (engine extension; the reference is batch-only
— SURVEY.md §2.9 records no streaming surface).

``stream_cell_counts`` maintains the per-cell counts table (the A5 "tree
counts" analogue) incrementally from an event stream with late-data
tolerance: readStream -> cell assignment UDF -> watermark + windowed
groupBy -> writeStream. Used for continuously-ingested image catalogs where
the hot-cell list (J6 salting input) must stay fresh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import hpx_udf


def _round_half_up(arr):
    """Bit-match Spark ``F.round`` on doubles (BigDecimal.valueOf =
    shortest-decimal string, HALF_UP).  Python ``repr`` produces the
    same shortest decimal form and ``decimal`` applies the same
    rounding — verified identical to the JVM over randomized + halfway
    + adversarial batteries (pandas/numpy ``round`` is HALF_EVEN and
    DIVERGES on exact .5 values, silently breaking the documented
    bit-parity with the batch operators).  Scalar loop: per-key
    micro-batch frames here are small."""
    import decimal

    import numpy as np
    import pandas as pd

    q1 = decimal.Decimal(1)
    a = np.asarray(pd.Series(arr).to_numpy(), dtype=np.float64)
    out = np.empty(a.size, dtype=np.int64)
    for i in range(a.size):
        out[i] = int(decimal.Decimal(repr(float(a[i]))).quantize(
            q1, rounding=decimal.ROUND_HALF_UP))
    return out


def _div_trunc(a, b: int):
    """Spark ``div`` (truncate toward zero) for int64 arrays — Python
    ``//`` floors, which lands negative (pre-epoch) ticks one bucket
    lower than the batch operator's ``div``."""
    import numpy as np

    a = np.asarray(a, dtype=np.int64)
    q = a // b
    return q + ((a % b != 0) & ((a < 0) != (b < 0)))


def stream_cell_counts(stream: DataFrame, level: int = 7,
                       ts_col: str = "ts", ra_col: str = "ra",
                       dec_col: str = "dec",
                       watermark: str = "10 minutes",
                       window: str = "5 minutes") -> DataFrame:
    """events stream (ts, ra, dec, ...) -> windowed per-cell counts.

    Output mode 'update' keeps state bounded by the watermark; the sink
    (parquet/memory) accumulates (window, cell, count) rows that compact
    into the cell-counts table."""
    cells = stream.withColumn("spt_ind", hpx_udf(level)(F.col(ra_col), F.col(dec_col)))
    # parquet TIMESTAMP_NTZ is not a valid event-time type; normalize
    cells = cells.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        cells.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("spt_ind"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def start_to_memory(counts: DataFrame, name: str = "cell_counts_stream"):
    """Debug/test sink."""
    return (counts.writeStream.outputMode("update")
            .format("memory").queryName(name).start())


def stream_region_filter(stream: DataFrame, ra: float, dec: float,
                         radius: float, level: int = 7,
                         ra_col: str = "ra", dec_col: str = "dec") -> DataFrame:
    """Two-phase cone search on a stream: the same coarse cell-range
    predicate + exact dot-product filter the batch engine generates, applied
    stateless per micro-batch (predicates are stream-agnostic Columns)."""
    import math

    from ..functions.cover import hpx_cone_ranges, ranges_predicate
    from ..functions.geometry import RAD_PER_DEG, sc_to_v3

    cells = stream.withColumn("spt_ind",
                              hpx_udf(level)(F.col(ra_col), F.col(dec_col)))
    pred = ranges_predicate(F.col("spt_ind"), hpx_cone_ranges(level, ra, dec, radius))
    c = sc_to_v3(ra, dec)
    rad = F.radians
    geom = (F.cos(rad(ra_col)) * F.cos(rad(dec_col)) * c.x
            + F.sin(rad(ra_col)) * F.cos(rad(dec_col)) * c.y
            + F.sin(rad(dec_col)) * c.z) >= math.cos(radius * RAD_PER_DEG)
    return cells.filter(pred).filter(geom)


def stream_running_cell_totals(stream: DataFrame, level: int = 7,
                               ra_col: str = "ra",
                               dec_col: str = "dec") -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): cumulative row
    count per cell across ALL micro-batches — the incrementally-maintained
    A5 counts table. State per cell is one int; update mode emits rows only
    for cells touched by the current batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cells = stream.withColumn("spt_ind",
                              hpx_udf(level)(F.col(ra_col), F.col(dec_col)))

    def update(key, pdfs, state: GroupState):
        n = sum(len(pdf) for pdf in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"spt_ind": [key[0]], "total": [total]})

    return (cells.groupBy("spt_ind")
            .applyInPandasWithState(update, "spt_ind long, total long",
                                    "total long", "update",
                                    GroupStateTimeout.NoTimeout))


def stream_exact_dedup(stream: DataFrame, text_col: str = "text",
                       ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup for continuously-ingested training text: keep
    the first arrival of each normalized-content hash, drop replays that
    arrive within the watermark horizon. State is ONE (hash, hash2) pair
    per distinct doc inside the horizon (dropDuplicatesWithinWatermark
    evicts expired keys), so memory is bounded by ingest rate x horizon —
    the standard shape for dedup-on-ingest at firehose scale. The same
    two-independent-hash key as batch exact_dedup (128-bit collision
    safety; the text itself never enters state)."""
    t = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    withkeys = (stream
                .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
                .withColumn("_h", F.xxhash64(t))
                .withColumn("_h2", F.xxhash64(F.lit("dedup2"), t)))
    return (withkeys.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_h", "_h2"])
            .drop("_h", "_h2"))


def stream_sessionize(stream: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", event_col: str = "event_id",
                      gap_minutes: float = 30.0) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState): per-user
    state is (last event epoch-seconds, current session index) — a session
    continues ACROSS micro-batches, which no per-batch window can do.
    Events inside each batch are ordered by (ts, event_id) — the same
    deterministic tiebreak as the batch sessionize — and the gap rule is
    identical, so an IN-ORDER stream replay of a day of events yields the
    batch operator's session indices. Like any gap sessionizer without
    watermark reordering, cross-batch arrival order is trusted: events
    arriving out of event-time order across micro-batches join the session
    active at arrival. State is two numbers per active user."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60.0

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["_sec", event_col], kind="stable")
        last_ts, seq = state.get if state.exists else (float("-inf"), -1)
        out_seq = []
        for sec in pdf["_sec"]:
            sec = float(sec)
            if sec - last_ts > gap_s:
                seq += 1
            last_ts = sec
            out_seq.append(seq)
        state.update((last_ts, seq))
        yield pd.DataFrame({
            user_col: [key[0]] * len(pdf),
            event_col: pdf[event_col].to_numpy(),
            "session_seq": out_seq,
        })

    # epoch seconds computed JVM-side with the batch operator's exact
    # cast chain (timestamp -> double). Arrow hands TimestampType to
    # pandas as session-tz-localized NAIVE wall-clock, and naive
    # .timestamp() re-interprets that as UTC — a mapping that shifts
    # across a DST transition (spurious split/merge) and diverges from
    # batch sessionize's documented tz-independence.
    src = stream.select(
        F.col(user_col), F.col(event_col),
        F.col(ts_col).cast("timestamp").cast("double").alias("_sec"))
    return (src.groupBy(user_col)
            .applyInPandasWithState(
                update,
                f"{user_col} long, {event_col} long, session_seq long",
                "last_ts double, seq long", "update",
                GroupStateTimeout.NoTimeout))


def stream_crossmatch(stream: DataFrame, catalog: DataFrame,
                      radius_deg: float,
                      cell_col: str = "hpx7", cell_level: int = 7,
                      ra_col: str = "ra", dec_col: str = "dec"):
    """Streaming crossmatch: match every arriving detection against a
    STATIC catalog within ``radius_deg`` — the alert-association pattern
    (new observations vs a reference survey).

    Plan shape: the catalog side is keyed once by its ingest-time cell
    column (shiftright to the match level — pure JVM, exactly the batch
    crossmatch's cell_col path, joins.py); the STREAM side explodes each
    row into its ring-1 neighbor cells (healpix.neighbors_col, JVM Column
    math), so every true pair shares an equi-join key and the stateless
    per-micro-batch join needs no watermark or state store. Exact
    dot-product distance filters after. The static side is the big one at
    scale — it never re-keys per batch (Spark caches the batch plan), and
    the stream side's per-row cost is a few bit operations + <= 9 key
    rows."""
    import math

    from ..functions.geometry import RAD_PER_DEG
    from ..functions.healpix import explode_cells, neighbors_col
    from ..operators.joins import hpx_cell_key, ring_cover_level

    # Radii beyond even the order-0 ring-1 bound (~29 deg) drop to level 0
    # with a multi-ring disc — the same chain-coverage argument as batch
    # crossmatch's rings>1 path, so no radius silently under-matches.
    lvl, rings = ring_cover_level(radius_deg, cell_level)
    cat = (catalog.withColumn("_mc", hpx_cell_key(cell_col, cell_level, lvl))
           .withColumnRenamed(ra_col, "cat_ra")
           .withColumnRenamed(dec_col, "cat_dec")
           .drop(cell_col))   # both sides carry it; avoid ambiguous output
    s = explode_cells(
        stream.withColumn("_pix", hpx_cell_key(cell_col, cell_level, lvl)),
        neighbors_col(lvl, "_pix", rings), "_mc", stream.columns)
    pairs = s.join(cat, "_mc").drop("_mc")
    cosr = math.cos(radius_deg * RAD_PER_DEG)
    rad = F.radians
    dot = (F.cos(rad(F.col(dec_col))) * F.cos(rad(F.col("cat_dec")))
           * F.cos(rad(F.col(ra_col)) - rad(F.col("cat_ra")))
           + F.sin(rad(F.col(dec_col))) * F.sin(rad(F.col("cat_dec"))))
    return pairs.filter(dot >= F.lit(cosr))


def stream_transients(stream: DataFrame, catalog: DataFrame,
                      radius_deg: float,
                      cell_col: str = "hpx7", cell_level: int = 7,
                      ra_col: str = "ra", dec_col: str = "dec"):
    """Streaming transient detection: emit every arriving detection with
    NO static-catalog counterpart within ``radius_deg`` — the alert
    front end's "new source" filter (the streaming face of
    :func:`~spatialindex_spark.operators.joins.anti_crossmatch`).

    Plan shape differs from :func:`stream_crossmatch` deliberately: an
    anti join cannot use the exploded-STREAM formulation (a row is
    transient only if ALL its ring cells miss, which would need a
    per-row aggregation and thus a watermark). Instead the STATIC
    catalog side explodes into its ring cells once (adjacency is
    symmetric, so coverage is identical), each stream row keeps its
    single ingest-derived cell key, and the whole operator is one
    stateless stream-static LEFT ANTI equi-join per micro-batch with
    the exact dot-product cut in the join condition — no watermark, no
    state store, stream columns pass through untouched."""
    import math

    from ..functions.geometry import RAD_PER_DEG
    from ..functions.healpix import explode_cells, neighbors_col
    from ..operators.joins import hpx_cell_key, ring_cover_level

    lvl, rings = ring_cover_level(radius_deg, cell_level)
    cat = explode_cells(
        catalog.select(F.col(ra_col).alias("_cra"),
                       F.col(dec_col).alias("_cdec"),
                       hpx_cell_key(cell_col, cell_level, lvl).alias("_pix")),
        neighbors_col(lvl, "_pix", rings), "_mc", ["_cra", "_cdec"])
    s = stream.withColumn("_smc", hpx_cell_key(cell_col, cell_level, lvl))
    cosr = math.cos(radius_deg * RAD_PER_DEG)
    rad = F.radians
    dot = (F.cos(rad(s[dec_col])) * F.cos(rad(cat["_cdec"]))
           * F.cos(rad(s[ra_col]) - rad(cat["_cra"]))
           + F.sin(rad(s[dec_col])) * F.sin(rad(cat["_cdec"])))
    cond = (s["_smc"] == cat["_mc"]) & (dot >= F.lit(cosr))
    return s.join(cat, cond, "left_anti").drop("_smc")


def stream_cutout(stream_images: DataFrame, targets: DataFrame,
                  scale_deg_px: float, size_px: int, max_dim_px: int,
                  cell_col: str = "hpx7", cell_level: int = 7,
                  target_id: str = "target_id",
                  image_id: str = "image_id"):
    """Streaming cutout service: as images arrive, emit the clipped
    ``size_px`` window for every STATIC target that lands inside each
    new image's footprint — the postage-stamp/alert pattern (new
    exposures trigger cutouts at known source positions).

    Plan shape mirrors :func:`stream_crossmatch`: the static target list
    is keyed once at the match level; the STREAM side explodes into its
    ring-1 (or multi-ring at level 0) neighbor cells via
    healpix.neighbors_col, so the per-micro-batch join is a stateless
    equi-join — no
    watermark or state store. Window math is the batch operator's JVM
    Column trig (operators/cutouts.py); results across micro-batches
    equal the batch ``cutout_windows`` on the same rows (pytest-gated).

    ``max_dim_px`` must bound max(w, h) of the stream (a stream cannot
    be aggregated at plan time); rows exceeding it raise at runtime via
    an in-plan guard rather than silently under-matching.
    """
    from ..functions.healpix import explode_cells, neighbors_col
    from ..operators.cutouts import _tan_px_cols, pairing_radius_deg
    from ..operators.joins import hpx_cell_key, ring_cover_level

    radius = pairing_radius_deg(scale_deg_px, max_dim_px)
    lvl, rings = ring_cover_level(radius, cell_level)

    tgt = (targets.select(target_id, F.col("ra").alias("t_ra"),
                          F.col("dec").alias("t_dec"))
           .withColumn("_mc", hpx_udf(lvl)("t_ra", "t_dec")))

    # guard folded into the join key (the repo's zero-extra-stage
    # assert_true pattern, joins.py): an image wider than the declared
    # bound would make the candidate radius unsound — fail loudly
    guard = F.assert_true(
        F.greatest(F.col("w"), F.col("h")) <= F.lit(max_dim_px),
        "stream_cutout: image exceeds declared max_dim_px — "
        "candidate radius bound is unsound; raise max_dim_px")
    pixkey = F.when(guard.isNull(), hpx_cell_key(cell_col, cell_level, lvl))
    s = explode_cells(stream_images.withColumn("_pix", pixkey),
                      neighbors_col(lvl, "_pix", rings), "_mc",
                      stream_images.columns)
    pairs = s.join(tgt, "_mc").drop("_mc")

    w, h = F.col("w"), F.col("h")
    px, py, den = _tan_px_cols(F.col("t_ra"), F.col("t_dec"),
                               F.col("ra"), F.col("dec"), w, h,
                               scale_deg_px)
    inside = (den > 0) & (px >= 0) & (px < w) & (py >= 0) & (py < h)
    half = size_px // 2
    x0r = F.floor(px).cast("int") - F.lit(half)
    y0r = F.floor(py).cast("int") - F.lit(half)
    x0 = F.greatest(F.lit(0), x0r)
    y0 = F.greatest(F.lit(0), y0r)
    x1 = F.least(w.cast("int"), x0r + F.lit(size_px))
    y1 = F.least(h.cast("int"), y0r + F.lit(size_px))
    return (pairs.filter(inside)
            .select(target_id, image_id,
                    F.round(px, 6).alias("px"), F.round(py, 6).alias("py"),
                    x0.alias("x0"), x1.alias("x1"),
                    y0.alias("y0"), y1.alias("y1"),
                    ((x1 - x0 == size_px) & (y1 - y0 == size_px))
                    .alias("complete")))


def stream_simhash_dedup(stream: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", ts_col: str = "ts",
                         band_bits: int = 16, max_hamming: int = 3,
                         k: int = 5, max_per_band: int = 256):
    """Streaming NEAR-duplicate text detection (banded simhash): emits one
    loser record (id, ts, dup flag) for every arriving doc whose simhash
    lies within ``max_hamming`` of ANY earlier doc — the streaming twin of
    batch ``simhash_dedup``, with the same pigeonhole band guarantee.

    Shape: the 64-bit simhash (one Arrow pass) explodes into 64/band_bits
    band keys; per band-key state holds the recent (id, hash) pairs
    (NEVER the text — 16 bytes/doc/band), appended for winners AND losers
    so transitive chains A~B~C drop both B and C exactly like the batch
    operator. ``max_per_band`` caps state per key (FIFO evict) to bound
    memory at firehose rates. Output is the PER-BAND verdict stream: a
    doc matched in m bands emits m rows, so consumers dedupe on the id
    (idempotent removal — or chain dropDuplicatesWithinWatermark where
    the Spark version supports stacking stateful operators). Total state
    is absolutely bounded: at most nbands * 2^band_bits keys (262k at the
    defaults) x max_per_band 16-byte entries — no timeout needed."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import _validate_bands, simhash_udf

    nbands = _validate_bands(band_bits, max_hamming)
    mask = (1 << band_bits) - 1
    sh = (stream
          .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
          .withColumn("_sh", simhash_udf(k)(F.col(text_col)))
          .filter(F.col("_sh").isNotNull()))
    stacked = sh.select(
        id_col, ts_col, "_sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("b"),
                     F.shiftrightunsigned("_sh", b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("bh"))
            for b in range(nbands)])).alias("_k")
    ).select(id_col, ts_col, "_sh", F.col("_k.b").alias("band"),
             F.col("_k.bh").alias("bh"))

    def update(key, pdfs, state: GroupState):
        ids, hashes = ([], []) if not state.exists else state.get
        ids, hashes = list(ids), list(hashes)
        # O(1) membership alongside the lists (r5 advice: the linear
        # `in zip(...)` probe made state maintenance O(n^2) per batch
        # as a band fills; the set is rebuilt from state per batch and
        # kept in lockstep with the lists — same membership semantics)
        seen = set(zip(ids, hashes))
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col])
            for rid, rts, rhash in zip(pdf[id_col], pdf[ts_col], pdf["_sh"]):
                # owner exclusion (span_dedup's idiom): an at-least-once
                # replay of the SAME doc must not match its own earlier
                # hash — that flagged the only copy as a near-dup and
                # got it deleted downstream
                dup = any(oid != int(rid)
                          and bin(int(rhash) ^ int(h)).count("1")
                          <= max_hamming
                          for oid, h in zip(ids, hashes))
                out.append((rid, rts, dup))
                if (int(rid), int(rhash)) not in seen:
                    seen.add((int(rid), int(rhash)))
                    ids.append(int(rid))
                    hashes.append(int(rhash))
        if len(ids) > max_per_band:
            ids = ids[-max_per_band:]
            hashes = hashes[-max_per_band:]
        state.update((ids, hashes))
        yield pd.DataFrame({id_col: [o[0] for o in out],
                            ts_col: [o[1] for o in out],
                            "near_dup": [o[2] for o in out]})

    return (stacked.groupBy("band", "bh")
            .applyInPandasWithState(
                update,
                f"{id_col} long, {ts_col} timestamp, near_dup boolean",
                "ids array<long>, hashes array<long>",
                "append", GroupStateTimeout.NoTimeout))


def stream_detect(stream_images: DataFrame, scale_deg_px: float,
                  threshold: int = 255,
                  image_id: str = "image_id",
                  bytes_col: str = "bytes"):
    """Detection-on-ingest: run source extraction + astrometry on every
    arriving image micro-batch (the alert-pipeline front end — new
    exposures emit fresh source lists downstream).

    The batch operator (operators/detect.py) is already a stateless
    map (mapInPandas + Column trig, no shuffle), so it runs unchanged
    under Structured Streaming — no watermark, no state store, and
    micro-batch results equal the batch operator on the same rows
    (pytest-gated)."""
    from ..operators.detect import detect_sources

    return detect_sources(stream_images, scale_deg_px,
                          threshold=threshold, image_id=image_id,
                          bytes_col=bytes_col)


def stream_variability(stream: DataFrame, key_col: str = "user_id",
                       t_col: str = "t", y_col: str = "y",
                       y_quant: int = 100) -> DataFrame:
    """Stateful streaming variability statistics: the cross-batch
    incremental twin of operators/timedomain.py:variability_stats.

    Per-key state is SEVEN int64 moments — (n, sy, syy, mn, mx, sd2,
    last_yq) — updated in (t, yq) order within each micro-batch, so the
    running von Neumann eta, mean, variance and amplitude are EXACT at
    every emission: an in-order stream replay ends at bit-identical
    integer moments to the batch operator on the union (the emitted
    ratios use the same fixed-shape IEEE tree). State never grows with
    history: 56 bytes/object, the y values themselves are never stored.
    Like the gap sessionizer, cross-batch event-time order is trusted
    (no watermark reordering); out-of-order arrivals chain successive
    differences in arrival order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    q = float(y_quant)

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf["_yq"] = _round_half_up(pdf[y_col] * y_quant)
        pdf = pdf.sort_values([t_col, "_yq"], kind="stable")
        if state.exists:
            n, sy, syy, mn, mx, sd2, last = state.get
        else:
            n, sy, syy, mn, mx, sd2, last = 0, 0, 0, None, None, 0, None
        for v in pdf["_yq"]:
            v = int(v)
            n += 1
            sy += v
            syy += v * v
            mn = v if mn is None else min(mn, v)
            mx = v if mx is None else max(mx, v)
            if last is not None:
                sd2 += (v - last) * (v - last)
            last = v
        state.update((n, sy, syy, mn, mx, sd2, last))
        ssq = syy - (sy * sy) / n
        var_y = round((ssq / (n - 1)) / (q * q), 9) if n > 1 else None
        eta = round(sd2 / ssq, 9) if n > 1 and ssq != 0 else None
        yield pd.DataFrame({
            key_col: [key[0]], "n_obs": [n],
            "mean_y": [round((sy / n) / q, 9)],
            "var_y": [var_y], "amp_y": [(mx - mn) / q], "eta": [eta],
        })

    return (stream.groupBy(key_col)
            .applyInPandasWithState(
                update,
                f"{key_col} long, n_obs long, mean_y double, "
                "var_y double, amp_y double, eta double",
                "n long, sy long, syy long, mn long, mx long, sd2 long, "
                "last long", "update", GroupStateTimeout.NoTimeout))


def stream_periodogram(stream: DataFrame, freqs, key_col: str = "user_id",
                       t_col: str = "t", y_col: str = "y",
                       y_quant: int = 100,
                       trig_quant: int = 1_000_000) -> DataFrame:
    """Stateful streaming Lomb-Scargle: the cross-batch incremental twin
    of operators/timedomain.py:lomb_scargle. Each micro-batch first
    explodes rows over the literal frequency grid (map-only), then the
    per-(key, freq) state — TEN int64 sums — accumulates the quantized
    trig moments, and every emission computes the tau-free GLS power
    from the running sums: after any in-order replay the spectrum is
    bit-identical to the batch operator on the union. State is 80
    bytes/object/frequency; the time series itself is never stored, so
    a survey can maintain live per-object periodograms over unbounded
    history.
    """
    import math as _m

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    fl = [float(f) for f in freqs]
    if not fl:
        raise ValueError("freqs must be non-empty")
    grid = F.explode(F.array(*[
        F.struct(F.lit(f).alias("freq"),
                 F.lit(_m.tau * f).alias("_w")) for f in fl])).alias("_g")
    tq = float(trig_quant)
    exploded = (stream.select(F.col(key_col), F.col(t_col), F.col(y_col),
                              grid)
                .select(key_col, F.col("_g.freq").alias("freq"),
                        (F.col("_g._w") * F.col(t_col)).alias("_wt"),
                        F.col(y_col)))

    import numpy as np

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        yq = _round_half_up(pdf[y_col].to_numpy() * y_quant)
        c = _round_half_up(np.cos(pdf["_wt"].to_numpy()) * tq)
        s = _round_half_up(np.sin(pdf["_wt"].to_numpy()) * tq)
        z = (state.get if state.exists else (0,) * 10)
        n = z[0] + len(pdf)
        sy = z[1] + int(yq.sum())
        syy = z[2] + int((yq * yq).sum())
        c1 = z[3] + int(c.sum())
        s1 = z[4] + int(s.sum())
        yc = z[5] + int((yq * c).sum())
        ys = z[6] + int((yq * s).sum())
        cc = z[7] + int((c * c).sum())
        ss = z[8] + int((s * s).sum())
        cs = z[9] + int((c * s).sum())
        state.update((n, sy, syy, c1, s1, yc, ys, cc, ss, cs))
        YC = yc - (sy * c1) / n
        YS = ys - (sy * s1) / n
        CC = cc - (c1 * c1) / n
        SS = ss - (s1 * s1) / n
        CS = cs - (c1 * s1) / n
        YY = syy - (sy * sy) / n
        D = CC * SS - CS * CS
        power = None
        if D != 0 and YY != 0:
            num = SS * (YC * YC) - (2.0 * CS) * (YC * YS) + CC * (YS * YS)
            power = round(num / (D * YY), 9)
        yield pd.DataFrame({
            key_col: [key[0]], "freq": [key[1]], "n_obs": [n],
            "power": [power],
        })

    return (exploded.groupBy(key_col, "freq")
            .applyInPandasWithState(
                update,
                f"{key_col} long, freq double, n_obs long, power double",
                "n long, sy long, syy long, c1 long, s1 long, yc long, "
                "ys long, cc long, ss long, cs long", "update",
                GroupStateTimeout.NoTimeout))


def stream_phase_fold(stream: DataFrame, period_us: int, n_bins: int = 8,
                      key_col: str = "user_id", t_col: str = "t_us",
                      y_col: str = "value",
                      y_quant: int = 1000) -> DataFrame:
    """Stateful streaming phase folding: the cross-batch incremental twin
    of operators/timedomain.py:phase_fold. Per-key state is four int64
    arrays of length ``n_bins`` — (n, sum_yq, min_yq, max_yq) per phase
    bin — so the running folded profile is EXACT at every emission (the
    phase bin is pure integer arithmetic, identical to the batch
    operator's ``((t % P) * B) div P``; arrival order is irrelevant
    because per-bin sums are order-free). State is 32*n_bins bytes per
    object regardless of history length: a survey can maintain live
    folded lightcurves for every known periodic object on an unbounded
    detection stream. Every micro-batch emits the key's full non-empty
    profile (outputMode update keeps the latest per (key, bin))."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    P, B = int(period_us), int(n_bins)
    q = float(y_quant)

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            ns, sys_, mns, mxs = (list(x) for x in state.get)
        else:
            ns = [0] * B
            sys_ = [0] * B
            mns = [None] * B
            mxs = [None] * B
        tq = pdf[t_col].astype("int64")
        bins = ((tq % P + P) % P) * B // P
        yqs = _round_half_up(pdf[y_col] * y_quant)
        for b, v in zip(bins, yqs):
            b, v = int(b), int(v)
            ns[b] += 1
            sys_[b] += v
            mns[b] = v if mns[b] is None else min(mns[b], v)
            mxs[b] = v if mxs[b] is None else max(mxs[b], v)
        state.update((ns, sys_, mns, mxs))
        out = {key_col: [], "phase_bin": [], "n_obs": [], "mean_y": [],
               "amp_y": []}
        for b in range(B):
            if ns[b] == 0:
                continue
            out[key_col].append(key[0])
            out["phase_bin"].append(b)
            out["n_obs"].append(ns[b])
            out["mean_y"].append(round((sys_[b] / ns[b]) / q, 9))
            out["amp_y"].append((mxs[b] - mns[b]) / q)
        yield pd.DataFrame(out)

    return (stream.groupBy(key_col)
            .applyInPandasWithState(
                update,
                f"{key_col} long, phase_bin int, n_obs long, "
                "mean_y double, amp_y double",
                "ns array<long>, sys array<long>, mns array<long>, "
                "mxs array<long>", "update", GroupStateTimeout.NoTimeout))


def stream_proper_motions(stream: DataFrame, key_col: str = "obj_id",
                          t_col: str = "t_us",
                          ra_col: str = "ra", dec_col: str = "dec",
                          t_quant_us: int = 3_600_000_000,
                          pos_quant: int = 1_000_000) -> DataFrame:
    """Stateful streaming proper-motion fit: the cross-batch incremental
    twin of operators/timedomain.py:proper_motions' fit stage (the
    association happens upstream; this consumes already-keyed epochs).

    Per-key state is SEVEN int64 sufficient statistics — (n, st, stt,
    sra, stra, sdec, stdec) — exactly the batch operator's shared-fit
    moments, so after any in-order replay the running slopes/intercepts
    are bit-identical to the batch fit on the union (same fixed IEEE
    Cramer tree). 56 bytes/object; positions are never stored, so a
    survey maintains LIVE per-object proper motions over unbounded
    epoch history.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    q = float(pos_quant)

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf["_t"] = _div_trunc(pdf[t_col].astype("int64"), t_quant_us)
        pdf["_ra"] = _round_half_up(pdf[ra_col] * pos_quant)
        pdf["_dec"] = _round_half_up(pdf[dec_col] * pos_quant)
        if state.exists:
            n, st, stt, sra, stra, sdec, stdec = state.get
        else:
            n, st, stt, sra, stra, sdec, stdec = 0, 0, 0, 0, 0, 0, 0
        n += int(len(pdf))
        st += int(pdf["_t"].sum())
        stt += int((pdf["_t"] * pdf["_t"]).sum())
        sra += int(pdf["_ra"].sum())
        stra += int((pdf["_t"] * pdf["_ra"]).sum())
        sdec += int(pdf["_dec"].sum())
        stdec += int((pdf["_t"] * pdf["_dec"]).sum())
        state.update((n, st, stt, sra, stra, sdec, stdec))
        den = float(n) * float(stt) - float(st) * float(st)
        out = {key_col: [key[0]], "n_obs": [n], "pm_ra": [None],
               "pm_dec": [None], "ra0": [None], "dec0": [None]}
        if den != 0:
            for sy, sty, sl_k, ic_k in ((sra, stra, "pm_ra", "ra0"),
                                        (sdec, stdec, "pm_dec", "dec0")):
                slope_q = (float(n) * float(sty)
                           - float(st) * float(sy)) / den
                out[sl_k] = [round(slope_q / q, 9)]
                out[ic_k] = [round(
                    ((float(sy) - slope_q * float(st)) / float(n)) / q, 9)]
        yield pd.DataFrame(out)

    return (stream.groupBy(key_col)
            .applyInPandasWithState(
                update,
                f"{key_col} long, n_obs long, pm_ra double, "
                "pm_dec double, ra0 double, dec0 double",
                "n long, st long, stt long, sra long, stra long, "
                "sdec long, stdec long", "update",
                GroupStateTimeout.NoTimeout))


def stream_span_dedup(stream: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", ts_col: str = "ts",
                      window: int = 64, stride: int = 16,
                      anchor: str = "space",
                      bucket_bits: int = 20,
                      max_per_bucket: int = 4096) -> DataFrame:
    """Streaming exact-substring (span) dedup — the ingest-time twin of
    batch ``dedup.span_dup_fraction``: flags every arriving span whose
    content was ALREADY ingested from a different document, so a
    partial mirror is caught the moment it enters the firehose (the
    batch operator's symmetric marking needs the whole corpus; the
    streaming semantic is keep-first, like stream_exact_dedup).

    Shape: arriving docs explode MAP-SIDE into (doc, ts, two 8-byte span
    hashes) via the shared ``span_hash_rows`` extraction (anchor="space"
    = alignment-free word anchors; text never enters state). Spans group
    by the low ``bucket_bits`` of the first hash; per-bucket state holds
    (h1, h2, first-owner id) triples — 24 B per DISTINCT span, capped at
    ``max_per_bucket`` per bucket with FIFO eviction, so total state is
    absolutely bounded at 2^bucket_bits x max_per_bucket entries
    whatever the ingest rate (evictions trade recall for memory,
    documented like stream_simhash_dedup's per-band cap). A replayed
    span from the SAME document neither flags nor widens state.

    Output is the PER-SPAN verdict stream (id, ts, dup): consumers
    aggregate per doc id for an n_dup_spans / dup_frac gate — the
    per-doc rollup stays with the consumer because stacking another
    stateful aggregation behind applyInPandasWithState is not
    universally supported. Within a micro-batch, rows process in
    (ts, id) order, so same-batch cross-document copies flag exactly
    like the across-batch case.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import span_hash_rows

    mask = (1 << bucket_bits) - 1
    spans = (span_hash_rows(
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")),
        text_col, id_col, window=window, stride=stride, anchor=anchor,
        keep=(ts_col,))
        .withColumn("_b", F.col("_h1").bitwiseAND(F.lit(mask))))

    def update(key, pdfs, state: GroupState):
        h1s, h2s, owners = ([], [], []) if not state.exists else state.get
        h1s, h2s, owners = list(h1s), list(h2s), list(owners)
        seen = {(a, b): o for a, b, o in zip(h1s, h2s, owners)}
        out_id, out_ts, out_dup = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col])
            for rid, rts, h1, h2 in zip(pdf[id_col], pdf[ts_col],
                                        pdf["_h1"], pdf["_h2"]):
                k2 = (int(h1), int(h2))
                owner = seen.get(k2)
                out_id.append(rid)
                out_ts.append(rts)
                out_dup.append(owner is not None and owner != int(rid))
                if owner is None:
                    seen[k2] = int(rid)
                    h1s.append(k2[0])
                    h2s.append(k2[1])
                    owners.append(int(rid))
        if len(h1s) > max_per_bucket:
            h1s = h1s[-max_per_bucket:]
            h2s = h2s[-max_per_bucket:]
            owners = owners[-max_per_bucket:]
        state.update((h1s, h2s, owners))
        yield pd.DataFrame({id_col: out_id, ts_col: out_ts,
                            "dup": out_dup})

    return (spans.groupBy("_b")
            .applyInPandasWithState(
                update,
                f"{id_col} long, {ts_col} timestamp, dup boolean",
                "h1s array<long>, h2s array<long>, owners array<long>",
                "append", GroupStateTimeout.NoTimeout))
