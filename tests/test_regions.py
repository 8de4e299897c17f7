"""Property tests for extended region geometry (regions.py) and streaming."""

import math

import numpy as np
import pytest

from spatialindex_spark.functions.geometry import (
    RAD_PER_DEG,
    sc_to_v3,
    v_dot,
)
from spatialindex_spark.functions.htm import htm_id
from spatialindex_spark.functions.regions import (
    SphericalEllipse,
    convex,
    convex_hull,
    htm_ellipse_ranges,
    poly_area,
    poly_box,
    poly_line,
    poly_ngon,
    poly_pad,
    v3_ne,
    v3_rot,
)


def test_ne_basis_orthonormal():
    rng = np.random.default_rng(0)
    for _ in range(50):
        v = sc_to_v3(rng.uniform(0, 360), rng.uniform(-89, 89))
        n, e = v3_ne(v)
        assert abs(v_dot(n, e)) < 1e-12
        assert abs(v_dot(n, v)) < 1e-12
        assert abs(v_dot(e, v)) < 1e-12


def test_rot_preserves_angle():
    v = sc_to_v3(10.0, 20.0)
    k = sc_to_v3(10.0, 80.0)
    r = v3_rot(v, k, 25.0)
    assert abs(v_dot(r, k) - v_dot(v, k)) < 1e-9


def test_box_contains_center_and_area():
    cen = sc_to_v3(120.0, 30.0)
    box = poly_box(cen, 4.0, 2.0, 0.0)
    assert box.contains(cen)
    # area ~ w*h*cos(dec) steradians-ish; just sanity bounds
    a = poly_area(box)
    expect = (4.0 * RAD_PER_DEG) * (2.0 * RAD_PER_DEG)
    assert 0.5 * expect < a < 2.0 * expect


def test_ngon_inscribed_in_circle():
    cen = sc_to_v3(200.0, -45.0)
    poly = poly_ngon(cen, 3.0, 8)
    cosr = math.cos(3.0 * RAD_PER_DEG)
    for v in poly.verts:
        assert abs(v_dot(v, cen) - cosr) < 1e-12
    assert poly.contains(cen)


def test_line_corridor_contains_midpoint():
    v1 = sc_to_v3(10.0, 0.0)
    v2 = sc_to_v3(20.0, 5.0)
    cor = poly_line(v1, v2, 1.0)
    mid = sc_to_v3(15.0, 2.5)
    assert cor.contains(mid)
    assert not cor.contains(sc_to_v3(15.0, 10.0))


def test_pad_grows_polygon():
    cen = sc_to_v3(50.0, 10.0)
    box = poly_box(cen, 2.0, 2.0, 0.0)
    padded = poly_pad(box, 0.5)
    # a point just outside the box but within the pad margin
    p = sc_to_v3(50.0, 11.3)
    assert not box.contains(p)
    assert padded.contains(p)
    assert poly_area(padded) > poly_area(box)


def test_convex_hull_contains_inputs():
    rng = np.random.default_rng(3)
    pts = [sc_to_v3(100 + rng.uniform(0, 10), 20 + rng.uniform(0, 10))
           for _ in range(20)]
    hull = convex_hull(pts)
    for p in pts:
        assert hull.contains(p) or any(
            abs(v_dot(p, e)) < 1e-12 for e in hull.edges)


def test_convex_orientation():
    ccw = [sc_to_v3(0, 0), sc_to_v3(5, 0), sc_to_v3(5, 5), sc_to_v3(0, 5)]
    assert convex(ccw) != 0
    bowtie = [sc_to_v3(0, 0), sc_to_v3(5, 5), sc_to_v3(5, 0), sc_to_v3(0, 5)]
    assert convex(bowtie) == 0


def test_ellipse_covering_superset():
    """Every point inside the ellipse lies in a covered cell."""
    ell = SphericalEllipse.from_center(sc_to_v3(200.0, 10.0), 8.0, 4.0, 30.0)
    ranges = np.array(htm_ellipse_ranges(ell, 7))
    rng = np.random.default_rng(5)
    ra = 200.0 + rng.uniform(-12, 12, 3000)
    dec = 10.0 + rng.uniform(-12, 12, 3000)
    from spatialindex_spark.functions.geometry import radec_to_xyz

    x, y, z = radec_to_xyz(ra, dec)
    inside = ell.contains_cols(x, y, z)
    cells = htm_id(x[inside], y[inside], z[inside], 7)
    for c in cells:
        assert ((ranges[:, 0] <= c) & (c <= ranges[:, 1])).any()


def test_ellipse_foci_definition():
    f1 = sc_to_v3(100.0, 20.0)
    f2 = sc_to_v3(104.0, 20.0)
    ell = SphericalEllipse.from_foci(f1, f2, 3.0)
    # center of segment must be inside; a far point outside
    assert ell.contains(sc_to_v3(102.0, 20.0))
    assert not ell.contains(sc_to_v3(102.0, 28.0))


def test_streaming_cell_counts(spark, tmp_path):
    """Structured Streaming per-cell counts over a file stream."""
    import time

    from pyspark.sql import functions as F
    from spatialindex_spark.streaming.ingest import start_to_memory, stream_cell_counts

    src = str(tmp_path / "events_in")
    (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
     .withColumn("ra", (F.col("event_id") * F.lit(0.618034)) % 360)
     .withColumn("dec", F.degrees(F.asin(2 * ((F.col("user_id") * F.lit(0.381966)) % 1) - 1)))
     .write.parquet(src))

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    counts = stream_cell_counts(stream, level=4)
    q = start_to_memory(counts, "t_cells")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT sum(cnt) AS n FROM t_cells").collect()[0]["n"]
        assert got == 1000
    finally:
        q.stop()


def test_convex_hull_exact_contains_all_inputs_many_seeds():
    """mode='exact' fixes the reference's closing-backtrack bug (FIXTURES.md):
    every input point satisfies all edge-plane constraints to fp precision."""
    rng = np.random.default_rng(11)
    for _ in range(25):
        cra = rng.uniform(5, 355)
        cdec = rng.uniform(-70, 70)
        spread = rng.uniform(0.3, 9)
        pts = [sc_to_v3(cra + rng.uniform(-spread, spread),
                        cdec + rng.uniform(-spread, spread))
               for _ in range(int(rng.integers(3, 40)))]
        hull = convex_hull(pts)
        for p in pts:
            assert min(v_dot(p, e) for e in hull.edges) > -1e-9


def test_hemispherical():
    """G6 (htm_v3_hemispherical): open-hemisphere LP feasibility; 117/117
    randomized cases matched the reference binary's EHEMIS behavior."""
    from spatialindex_spark.functions.geometry import V3
    from spatialindex_spark.functions.regions import hemispherical

    assert hemispherical([sc_to_v3(10, 10), sc_to_v3(20, 15), sc_to_v3(15, 5)])
    assert not hemispherical([V3(1, 0, 0), V3(-1, 0, 0)])
    assert not hemispherical([sc_to_v3(0, 0), sc_to_v3(120, 0), sc_to_v3(240, 0)])
    assert hemispherical([sc_to_v3(0, 0), sc_to_v3(60, 0), sc_to_v3(120, 0)])
    assert hemispherical([V3(1, 0, 0), V3(0, 1, 0), V3(0, 0, 1)])
    # axis-aligned 0D/1D fallbacks
    assert hemispherical([V3(1, 0, 0)])
    assert not hemispherical([V3(0, 1, 0), V3(0, -1, 0)])
    # hull rejects non-hemispherical input (reference: HTM_EHEMIS)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="hemispherical"):
        convex_hull([sc_to_v3(0, 0), sc_to_v3(120, 0), sc_to_v3(240, 0)])


def test_streaming_region_filter_and_stateful_totals(spark, tmp_path):
    """Streaming two-phase cone filter matches the batch result, and the
    applyInPandasWithState running totals accumulate across micro-batches."""
    import time as _time

    from spatialindex_spark.streaming.ingest import (
        stream_region_filter, stream_running_cell_totals)

    src = str(tmp_path / "src")
    rows1 = [(float(i * 3.7 % 360), float((i * 7.3) % 160 - 80)) for i in range(500)]
    spark.createDataFrame(rows1, "ra double, dec double") \
        .write.mode("append").parquet(src)

    stream = spark.readStream.schema("ra double, dec double").parquet(src)
    flt = stream_region_filter(stream, 34.0, 45.0, 20.0, level=5)
    q = (flt.writeStream.outputMode("append").format("memory")
         .queryName("region_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM region_stream").collect()[0].n
    batch = spark.createDataFrame(rows1, "ra double, dec double")
    from spatialindex_spark.streaming.ingest import stream_region_filter as _f
    want = _f(batch, 34.0, 45.0, 20.0, level=5).count()
    assert got == want > 0

    tot = stream_running_cell_totals(
        spark.readStream.schema("ra double, dec double").parquet(src), level=2)
    ckpt = str(tmp_path / "ckpt")
    q2 = (tot.writeStream.outputMode("update").format("memory")
          .queryName("cell_totals").option("checkpointLocation", ckpt)
          .start())
    q2.processAllAvailable()
    t1 = {r.spt_ind: r.total
          for r in spark.sql("SELECT * FROM cell_totals").collect()}
    # second micro-batch into the SAME query: same rows again -> the state
    # carries over and per-cell totals double (update mode appends the new
    # totals to the memory table; take max per key)
    spark.createDataFrame(rows1, "ra double, dec double") \
        .write.mode("append").parquet(src)
    q2.processAllAvailable()
    rows = spark.sql("SELECT spt_ind, max(total) AS total FROM cell_totals "
                     "GROUP BY spt_ind").collect()
    q2.stop()
    t2 = {r.spt_ind: r.total for r in rows}
    assert sum(t1.values()) == 500
    assert all(t2[k] == 2 * v for k, v in t1.items())
    assert sum(t2.values()) == 1000


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming dedup-on-ingest: replayed documents (same normalized text,
    later timestamps within the watermark) are dropped; first arrivals and
    distinct docs pass. State holds only the two 64-bit hashes per doc."""
    import datetime

    from pyspark.sql import functions as F
    from spatialindex_spark.streaming.ingest import stream_exact_dedup

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(200):
        rows.append((i, f"document body number {i % 120}",
                     t0 + datetime.timedelta(seconds=i)))
    # 120 distinct texts; ids 120..199 are replays of 0..79
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(rows, "doc_id long, text string, ts timestamp") \
        .write.parquet(src)

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    out = stream_exact_dedup(stream, watermark="1 hour")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("t_dedup").start())
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) n, count(DISTINCT text) d "
                        "FROM t_dedup").collect()[0]
        assert got["n"] == 120 and got["d"] == 120
    finally:
        q.stop()


def test_stream_sessionize_across_batches(spark, tmp_path):
    """Stateful streaming sessionization: sessions must CONTINUE across
    micro-batches (file 2's events within the gap of file 1's last event
    stay in the same session; beyond the gap they start a new one), and
    the final indices must equal the batch sessionize on the union."""
    import datetime

    from spatialindex_spark.operators.asof import sessionize
    from spatialindex_spark.streaming.ingest import stream_sessionize

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    batch1 = [(1, 1, t0), (2, 1, t0 + datetime.timedelta(minutes=10)),
              (3, 2, t0)]
    batch2 = [(4, 1, t0 + datetime.timedelta(minutes=20)),   # continues
              (5, 2, t0 + datetime.timedelta(minutes=90)),   # new session
              (6, 1, t0 + datetime.timedelta(minutes=120))]  # new session
    src = str(tmp_path / "ev_in")
    schema = "event_id long, user_id long, ts timestamp"
    # ONE file per intended micro-batch: the file source feeds files in
    # arbitrary order, and a gap-sessionizer (like any without watermark
    # reordering) assumes stream order ~ event-time order
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_sessionize(stream, gap_minutes=30.0)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_sess").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r.event_id: r.session_seq
               for r in spark.sql("SELECT * FROM t_sess").collect()}
    finally:
        q.stop()
    want = {r.event_id: r.session_seq
            for r in sessionize(
                spark.createDataFrame(batch1 + batch2, schema)).collect()}
    assert got == want
    assert want[4] == 0 and want[5] == 1 and want[6] == 1

def test_stream_crossmatch_matches_batch(spark, tmp_path):
    """Streaming crossmatch vs a static catalog: the stateless
    per-micro-batch join (JVM ring-disc explode + cell equi-join + exact
    geometry) returns EXACTLY the batch crossmatch pairs for the same
    rows, across two micro-batches."""
    from pyspark.sql import functions as F

    from spatialindex_spark.functions.udfs import hpx_udf
    from spatialindex_spark.operators.joins import crossmatch
    from spatialindex_spark.streaming.ingest import stream_crossmatch

    # static catalog: 800 sky rows with the ingest-time hpx7 key
    cat_rows = [(int(i), float(i * 3.7 % 360), float((i * 7.3) % 160 - 80))
                for i in range(800)]
    catalog = (spark.createDataFrame(
        cat_rows, "cat_id long, ra double, dec double")
        .withColumn("hpx7", hpx_udf(7)("ra", "dec"))
        .localCheckpoint(eager=True))

    # detections: jittered copies of a catalog subset (guaranteed matches)
    det = [(int(1000 + i), float((i * 13 * 3.7 % 360) + 0.01),
            float(((i * 13 * 7.3) % 160 - 80) + 0.01)) for i in range(60)]
    src = str(tmp_path / "dets")
    half = len(det) // 2
    spark.createDataFrame(det[:half], "det_id long, ra double, dec double") \
        .coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(det[half:], "det_id long, ra double, dec double") \
        .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("det_id long, ra double, dec double").parquet(src)
              .withColumn("hpx7", hpx_udf(7)("ra", "dec")))
    out = stream_crossmatch(stream, catalog, 0.1,
                            cell_col="hpx7", cell_level=7)
    q = (out.select("det_id", "cat_id").writeStream.outputMode("append")
         .format("memory").queryName("xm_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.det_id, r.cat_id) for r in
           spark.sql("SELECT * FROM xm_stream").collect()}

    det_batch = (spark.createDataFrame(
        det, "det_id long, ra double, dec double")
        .withColumn("hpx7", hpx_udf(7)("ra", "dec")))
    want = {(r.det_id_l, r.cat_id_r) for r in crossmatch(
        det_batch, catalog, 0.1, cell_col="hpx7", cell_level=7)
        .select("det_id_l", "cat_id_r").collect()}
    assert got == want
    assert len(got) >= half  # jittered copies actually matched

    # a radius beyond the order-0 ring-1 bound (~29 deg) takes the
    # level-0 multi-ring disc path — results must still equal batch
    # crossmatch exactly (r3 advice: the old code silently under-matched)
    out45 = stream_crossmatch(stream, catalog, 45.0,
                              cell_col="hpx7", cell_level=7)
    q45 = (out45.select("det_id", "cat_id").writeStream
           .outputMode("append").format("memory").queryName("xm45")
           .trigger(availableNow=True).start())
    q45.awaitTermination(120)
    got45 = {(r.det_id, r.cat_id) for r in
             spark.sql("SELECT * FROM xm45").collect()}
    want45 = {(r.det_id_l, r.cat_id_r) for r in crossmatch(
        det_batch, catalog, 45.0, cell_col="hpx7", cell_level=7)
        .select("det_id_l", "cat_id_r").collect()}
    assert got45 == want45
    assert len(got45) > len(got)  # 45-deg matches strictly more pairs


def test_stream_simhash_dedup(spark, tmp_path):
    """Streaming banded-simhash near-dup detection: losers across TWO
    micro-batches equal the batch simhash_dedup losers when arrival order
    matches id order; state carries across batches (a batch-2 replay of a
    batch-1 doc is flagged) and first arrivals are never flagged."""
    from pyspark.sql import functions as F

    from spatialindex_spark.operators.dedup import simhash_dedup
    from spatialindex_spark.streaming.ingest import stream_simhash_dedup

    base = [
        "the quick brown fox jumps over a lazy dog near the old bridge",
        "completely different content about distributed query engines",
        "sphere indexing with hierarchical triangular meshes works well",
        "training data pipelines pack documents into fixed windows",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, f"2024-01-01 10:0{i}:00", t * 4))
    # batch-2: replays (near-dups) of docs 0 and 2, one fresh doc
    rows2 = [
        (10, "2024-01-01 10:10:00", base[0] * 4),
        (11, "2024-01-01 10:11:00", base[2] * 4),
        (12, "2024-01-01 10:12:00",
         "a wholly novel paragraph mentioning starlight and parquet " * 4),
    ]
    src = str(tmp_path / "docs")
    schema = "doc_id long, ts string, text string"
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_simhash_dedup(stream)
    ckpt = str(tmp_path / "ckpt")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sh_stream").option("checkpointLocation", ckpt)
         .start())
    q.processAllAvailable()
    first = {r.doc_id for r in
             spark.sql("SELECT DISTINCT doc_id FROM sh_stream "
                       "WHERE near_dup").collect()}
    assert first == set()     # all batch-1 docs are first arrivals

    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()

    # at-least-once REDELIVERY: the same doc_id 12 with the same text
    # arrives again — owner exclusion must keep it from matching its own
    # earlier hash (flagging the only copy would delete the document)
    spark.createDataFrame([rows2[2]], schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    losers = {r.doc_id for r in
              spark.sql("SELECT DISTINCT doc_id FROM sh_stream "
                        "WHERE near_dup").collect()}
    assert 12 not in losers

    all_rows = spark.createDataFrame(rows + rows2, schema)
    kept = {r.doc_id for r in
            simhash_dedup(all_rows).select("doc_id").collect()}
    batch_losers = {r[0] for r in rows + rows2} - kept
    assert losers == batch_losers == {10, 11}


def test_stream_span_dedup(spark, tmp_path):
    """Streaming exact-substring dedup across TWO micro-batches: the
    per-span verdict stream equals a keep-first replay of the batch
    span extraction in (ts, id) order — a batch-2 copy of batch-1
    content flags even at a MISALIGNED byte offset (word anchors), a
    same-doc replayed span does not flag, and first arrivals never do."""
    from pyspark.sql import functions as F

    from spatialindex_spark.operators.dedup import span_hash_rows
    from spatialindex_spark.streaming.ingest import stream_span_dedup

    shared = ("the quick brown fox jumps over the lazy dog again "
              "and again in the meadow tonight")
    rows = [
        (0, "2024-01-01 10:00:00",
         "AAA " * 10 + shared + " tail zero unique text here pad"),
        (1, "2024-01-01 10:01:00",
         "totally unrelated document with no shared content at all"),
        # same-doc internal repetition must NOT flag (cross-doc only)
        (2, "2024-01-01 10:02:00",
         "repeat me now " * 12 + "and some unique suffix words"),
    ]
    # batch-2: the shared block re-arrives at a DIFFERENT offset
    rows2 = [
        (10, "2024-01-01 10:10:00",
         "B " * 7 + shared + " different tail one more unique xx"),
        (11, "2024-01-01 10:11:00",
         "a wholly novel paragraph mentioning starlight and parquet"),
    ]
    src = str(tmp_path / "docs")
    schema = "doc_id long, ts string, text string"
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_span_dedup(stream, window=32)
    ckpt = str(tmp_path / "ckpt_span")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("span_stream").option("checkpointLocation", ckpt)
         .start())
    q.processAllAvailable()
    assert spark.sql(
        "SELECT count(*) c FROM span_stream WHERE dup").first()["c"] == 0

    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {(r.doc_id, r.dup): r.c for r in spark.sql(
        "SELECT doc_id, dup, count(*) c FROM span_stream "
        "GROUP BY doc_id, dup").collect()}

    # keep-first replay over the union with the SAME span extraction
    all_rows = spark.createDataFrame(rows + rows2, schema)
    hashes = (span_hash_rows(all_rows, "text", "doc_id",
                             window=32, anchor="space", keep=("ts",))
              .orderBy("ts", "doc_id").collect())
    seen: dict = {}
    want: dict = {}
    for r in hashes:
        k = (r["_h1"], r["_h2"])
        owner = seen.setdefault(k, r["doc_id"])
        dup = bool(owner != r["doc_id"])
        want[(r["doc_id"], dup)] = want.get((r["doc_id"], dup), 0) + 1
    assert got == want
    # the misaligned batch-2 copy flagged; the internal repeater did not
    assert got.get((10, True), 0) > 0
    assert got.get((2, True), 0) == 0


def test_stream_sessionize_tz_independent_across_dst(spark, tmp_path):
    """The stream's gap must be measured on epoch instants (batch
    sessionize's documented tz-independence), not session-tz wall-clock:
    with session tz America/New_York, two events 10 REAL minutes apart
    straddling the 2024-03-10 spring-forward read 70 wall-clock minutes
    apart — the old naive .timestamp() path split the session there
    (regression for the _sec epoch-cast fix)."""
    import datetime

    from spatialindex_spark.operators.asof import sessionize
    from spatialindex_spark.streaming.ingest import stream_sessionize

    utc = datetime.timezone.utc
    # 06:55 UTC = 01:55 EST; 07:05 UTC = 03:05 EDT (wall +70 min)
    rows = [
        (1, 1, datetime.datetime(2024, 3, 10, 6, 40, tzinfo=utc)),
        (2, 1, datetime.datetime(2024, 3, 10, 6, 55, tzinfo=utc)),
        (3, 1, datetime.datetime(2024, 3, 10, 7, 5, tzinfo=utc)),
        (4, 1, datetime.datetime(2024, 3, 10, 8, 30, tzinfo=utc)),  # new
    ]
    schema = "event_id long, user_id long, ts timestamp"
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        src = str(tmp_path / "dst_in")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = (spark.readStream.schema(spark.read.parquet(src).schema)
                  .parquet(src))
        out = stream_sessionize(stream, gap_minutes=30.0)
        q = (out.writeStream.outputMode("update").format("memory")
             .queryName("t_dst").start())
        try:
            q.processAllAvailable()
            got = {r.event_id: r.session_seq
                   for r in spark.sql("SELECT * FROM t_dst").collect()}
        finally:
            q.stop()
        want = {r.event_id: r.session_seq for r in sessionize(
            spark.createDataFrame(rows, schema)).collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == want
    # events 2->3 are 10 real minutes apart: SAME session despite the
    # 70-minute wall-clock jump; event 4 starts a new one
    assert got[2] == got[3] == 0 and got[4] == 1
