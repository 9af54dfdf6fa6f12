"""Streaming (availableNow ≡ batch twin ≡ DuckDB oracle) and multimodal
plumbing tests."""

from __future__ import annotations



import pandas as pd
import pytest
from pyspark.sql import functions as F

from query_planner_optimizer_spark.operators import multimodal
from query_planner_optimizer_spark.streaming import windows

from .conftest import SF_DIR, assert_matches_duckdb, normalize


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    # File-source streams need a directory of *prepared* parquet (the
    # raw testdata stores TIMESTAMP(NANOS), which the declared stream
    # schema can't read) — stage it through the Catalog's restore path.
    from query_planner_optimizer_spark.catalog import Catalog

    d = str(tmp_path_factory.mktemp("events_stream"))
    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_hourly_rollup_matches_oracle(spark, ddb):
    df = windows.q_hourly_rollup(spark, SF_DIR)
    assert_matches_duckdb(df, ddb, windows.entry_oracles()["stream_hourly_rollup"])


def test_sessionize_matches_oracle(spark, ddb):
    df = windows.q_sessionize(spark, SF_DIR)
    assert_matches_duckdb(df, ddb, windows.entry_oracles()["stream_sessionize"])


def test_fetch_arrow_rows_identical_to_collect(spark):
    """The Arrow-batched fetch (``DataFrame.toArrow()``) returns exactly
    the rows collect() returns (same values, same columns) — only the
    transfer encoding differs. Timestamps normalize through epoch
    seconds: collect() hands back naive local-time datetimes while
    Arrow hands back tz-aware ones; .timestamp() maps both to the same
    instant."""
    import datetime

    def norm(v):
        if isinstance(v, datetime.datetime):
            return round(v.timestamp(), 6)
        return v

    df = windows.q_sessionize(spark, SF_DIR)
    via_collect = sorted(tuple(norm(v) for v in r) for r in df.collect())
    via_arrow = sorted(
        tuple(norm(d[c]) for c in df.columns)
        for d in df.toArrow().to_pylist()
    )
    assert via_arrow == via_collect


def test_streaming_rollup_equals_batch(spark, events_stream_dir):
    """Run the SAME rollup through Structured Streaming (availableNow →
    memory sink) and through batch; results must be identical once the
    stream is fully consumed."""
    stream_df = windows.streaming_hourly_rollup(spark, events_stream_dir)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("hourly_rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM hourly_rollup_test").toPandas()

    batch = windows.hourly_rollup(
        spark.read.parquet(events_stream_dir)
    ).toPandas()
    pd.testing.assert_frame_equal(
        normalize(got), normalize(batch), check_dtype=False
    )


def test_streaming_sliding_rollup_equals_batch(spark, ddb, events_stream_dir):
    """Sliding (hopping) windows: streaming availableNow ≡ batch, and
    the batch twin matches the DuckDB window-expansion oracle."""
    stream = windows.sliding_rollup(
        windows.read_events_stream(spark, events_stream_dir),
        watermark="2 hours",
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("sliding_rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sliding_rollup_test").toPandas()
    batch = windows.sliding_rollup(
        spark.read.parquet(events_stream_dir)
    ).toPandas()
    pd.testing.assert_frame_equal(
        normalize(got), normalize(batch), check_dtype=False
    )
    # every event lands in exactly window/slide = 4 windows
    n_events = spark.read.parquet(events_stream_dir).count()
    assert batch["n_events"].sum() == 4 * n_events


def test_interval_join_matches_oracle(spark, ddb):
    df = windows.q_interval_join(spark, SF_DIR)
    assert_matches_duckdb(df, ddb, windows.entry_oracles()["stream_interval_join"])


def test_streaming_interval_join_equals_batch(spark, events_stream_dir):
    """Stream-stream inner interval join (watermarked both sides) over
    availableNow must produce exactly the batch-twin rows — inner
    interval joins emit on match, so no rows are stranded in state."""
    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    sc, sp = split(windows.read_events_stream(spark, events_stream_dir))
    stream_df = windows.interval_join(sc, sp, watermark="2 hours")
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("interval_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM interval_join_test").toPandas()

    bc, bp = split(spark.read.parquet(events_stream_dir))
    batch = windows.interval_join(bc, bp).toPandas()
    assert len(got) == len(batch) > 0
    pd.testing.assert_frame_equal(
        normalize(got), normalize(batch), check_dtype=False
    )


def test_interval_join_left_matches_oracle(spark, ddb):
    df = windows.q_interval_join_left(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, windows.entry_oracles()["stream_interval_join_left"])


def test_streaming_interval_join_left_horizon(spark, events_stream_dir):
    """LEFT OUTER stream-stream interval join: matched rows equal the
    batch twin exactly; NULL rows (unconverted clicks) are
    watermark-driven — a click's NULL row emits only once the
    purchase watermark passes click_ts + interval, so clicks near the
    stream's end stay stranded in state at termination. Asserts:
    (a) matched == batch matched, (b) streamed NULLs ⊆ batch NULLs,
    (c) every batch NULL older than max_ts − (delay + interval +
    margin) was emitted — the horizon contract, not a lossy join."""
    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    sc, sp = split(windows.read_events_stream(spark, events_stream_dir))
    stream_df = windows.interval_join_left(sc, sp, watermark="2 hours")
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("interval_join_left_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM interval_join_left_test").toPandas()

    batch_src = spark.read.parquet(events_stream_dir)
    bc, bp = split(batch_src)
    batch = windows.interval_join_left(bc, bp).toPandas()

    gm = got[got.purchase_id.notna()]
    bm = batch[batch.purchase_id.notna()]
    assert len(gm) == len(bm) > 0
    pd.testing.assert_frame_equal(
        normalize(gm), normalize(bm), check_dtype=False
    )

    gn = set(got[got.purchase_id.isna()].click_id)
    bn_df = batch[batch.purchase_id.isna()]
    bn = set(bn_df.click_id)
    assert gn <= bn  # never an unmatched row the batch twin lacks
    # horizon: every unconverted click old enough that the final
    # watermark provably passed click_ts + interval must have emitted.
    # The global watermark is the MIN across the two watermarked
    # inputs (multipleWatermarkPolicy=min), each max-seen-ts − delay —
    # NOT global max ts (first draft used that and missed by the
    # click/purchase tail gap).
    import datetime

    max_c = bc.agg(F.max("ts")).collect()[0][0]
    max_p = bp.agg(F.max("ts")).collect()[0][0]
    wm_final = min(max_c, max_p) - datetime.timedelta(hours=2)
    horizon = wm_final - datetime.timedelta(minutes=31)  # interval + 1m
    cp = bc.select("event_id", "ts").toPandas()  # ONE collect: two
    # independent jobs carry no cross-job row-order guarantee
    click_ts = dict(zip(cp.event_id, cp.ts))
    owed = {cid for cid in bn if click_ts[cid] < horizon}
    assert owed and owed <= gn


def test_interval_join_full_matches_oracle(spark, ddb):
    df = windows.q_interval_join_full(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, windows.entry_oracles()["stream_interval_join_full"])


def test_streaming_interval_join_full_horizon(spark, events_stream_dir):
    """FULL OUTER stream-stream interval join (r12): matched rows equal
    the batch twin; BOTH NULL directions are watermark-driven. Click
    NULLs (unconverted) emit once the purchase watermark passes
    click_ts + interval — same horizon as the left form. Purchase
    NULLs (orphans) emit once the click watermark passes purchase_ts:
    the interval condition only admits clicks AT OR BEFORE the
    purchase, so no future click can claim an old purchase and the
    orphan horizon needs no interval subtraction. Asserts: matched ==
    batch matched; streamed NULLs ⊆ batch NULLs per direction; every
    batch NULL beyond its horizon was emitted."""
    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    sc, sp = split(windows.read_events_stream(spark, events_stream_dir))
    stream_df = windows.interval_join_full(sc, sp, watermark="2 hours")
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("interval_join_full_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM interval_join_full_test").toPandas()

    batch_src = spark.read.parquet(events_stream_dir)
    bc, bp = split(batch_src)
    batch = windows.interval_join_full(bc, bp).toPandas()

    gm = got[got.purchase_id.notna() & got.click_id.notna()]
    bm = batch[batch.purchase_id.notna() & batch.click_id.notna()]
    assert len(gm) == len(bm) > 0
    pd.testing.assert_frame_equal(
        normalize(gm), normalize(bm), check_dtype=False
    )

    import datetime

    max_c = bc.agg(F.max("ts")).collect()[0][0]
    max_p = bp.agg(F.max("ts")).collect()[0][0]
    wm_final = min(max_c, max_p) - datetime.timedelta(hours=2)

    # click-NULL direction (unconverted clicks)
    gn_c = set(got[got.purchase_id.isna()].click_id)
    bn_c = set(batch[batch.purchase_id.isna()].click_id)
    assert gn_c <= bn_c
    horizon_c = wm_final - datetime.timedelta(minutes=31)
    cp = bc.select("event_id", "ts").toPandas()
    click_ts = dict(zip(cp.event_id, cp.ts))
    owed_c = {cid for cid in bn_c if click_ts[cid] < horizon_c}
    assert owed_c and owed_c <= gn_c

    # purchase-NULL direction (orphan purchases)
    gn_p = set(got[got.click_id.isna()].purchase_id)
    bn_p = set(batch[batch.click_id.isna()].purchase_id)
    assert gn_p <= bn_p
    horizon_p = wm_final - datetime.timedelta(minutes=1)
    pp = bp.select("event_id", "ts").toPandas()
    purchase_ts = dict(zip(pp.event_id, pp.ts))
    owed_p = {pid for pid in bn_p if purchase_ts[pid] < horizon_p}
    assert owed_p and owed_p <= gn_p


def test_enrich_matches_oracle(spark, ddb):
    df = windows.q_enrich_stream(spark, SF_DIR)
    assert_matches_duckdb(df, ddb, windows.entry_oracles()["stream_enrich_dim"])


def test_streaming_enrich_equals_batch(spark, events_stream_dir):
    """Stream-static left join (stateless, no watermark) over
    availableNow ≡ the batch twin."""
    from query_planner_optimizer_spark.catalog import Catalog

    dim = Catalog(spark, SF_DIR, register_views=False).table("customer")
    stream = windows.enrich_stream(
        windows.read_events_stream(spark, events_stream_dir), dim
    ).select("event_id", "user_id", "c_mktsegment")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM enrich_test").toPandas()
    batch = windows.enrich_stream(
        spark.read.parquet(events_stream_dir), dim
    ).select("event_id", "user_id", "c_mktsegment").toPandas()
    assert len(got) == len(batch) > 0
    pd.testing.assert_frame_equal(
        normalize(got), normalize(batch), check_dtype=False
    )


def test_streaming_sessionize_runs(spark, events_stream_dir):
    stream = windows.sessionize(
        windows.read_events_stream(spark, events_stream_dir),
        watermark="1 hour",
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions_test").toPandas()
    batch = windows.sessionize(spark.read.parquet(events_stream_dir)).toPandas()
    pd.testing.assert_frame_equal(
        normalize(got), normalize(batch), check_dtype=False
    )


def test_multimodal_features_match_oracle(spark, ddb):
    df = multimodal.q_media_features(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, multimodal.entry_oracles()["multimodal_features"]
    )


def test_multimodal_media_table_shape(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from pyspark.sql import functions as F

    media = multimodal.to_media_table(
        docs, "doc_id", F.encode(F.col("text"), "UTF-8"), "text"
    )
    row = media.limit(1).collect()[0]
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.meta.n_bytes == len(row.payload)
    assert media.schema["payload"].dataType.simpleString() == "binary"


def test_decode_media_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media("image", b"\x89PNG")


def test_multimodal_frame_pipeline_matches_oracle(spark, ddb):
    """sample_frames (every-2nd fake frame) → resize_frames (truncate to
    16x16 bytes) ≡ DuckDB substr arithmetic over the ASCII corpus."""
    df = multimodal.q_frame_pipeline(spark, SF_DIR)
    assert_matches_duckdb(
        df, ddb, multimodal.entry_oracles()["multimodal_frame_pipeline"]
    )


def test_fused_frame_pipeline_equals_chained(spark):
    """sample_resize_frames (one Python pass) emits exactly the rows of
    sample_frames → resize_frames (two passes)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    media = multimodal.to_media_table(
        docs, "doc_id", F.encode(F.col("text"), "UTF-8"), "text"
    )
    fused = multimodal.sample_resize_frames(media)
    chained = multimodal.resize_frames(multimodal.sample_frames(media))
    assert fused.columns == chained.columns
    f = {tuple(r) for r in fused.collect()}
    c = {tuple(r) for r in chained.collect()}
    assert f == c and len(f) == fused.count()


def test_sample_frames_fanout_counts(spark):
    """Every doc emits ceil(n_frames / 2) rows; frame 0 always present."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    media = multimodal.to_media_table(
        docs, "doc_id", F.encode(F.col("text"), "UTF-8"), "text"
    )
    frames = multimodal.sample_frames(media).groupBy("media_id").count()
    sizes = {r["media_id"]: r["count"] for r in frames.collect()}
    for row in docs.select("doc_id", F.octet_length(F.col("text")).alias("nb")).collect():
        n_frames = row["nb"] // multimodal.FRAME_SIZE + 1
        expect = (n_frames + 1) // 2
        assert sizes[row["doc_id"]] == expect


def _build_png(pixels, color_type: int, filters) -> bytes:
    """Hand-built PNG encoder for decoder tests: 8-bit, non-interlaced,
    one explicit filter type per scanline (exercises the decoder's
    unfilter paths). ``pixels`` is an HxWxC uint8 numpy array."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = pixels.shape
    stride = w * ch

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = pixels[y].reshape(-1).astype(np.int32)
        ftype = filters[y % len(filters)]
        line = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = int(cur[x - ch]) if x >= ch else 0
            up = int(prev[x])
            ul = int(prev[x - ch]) if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (
                    up if pb <= pc else ul
                )
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(ftype)
        raw.extend(line.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_roundtrip():
    """The reference PNG decoder recovers exact pixels through every
    scanline filter (None/Sub/Up/Average/Paeth), for gray and RGB."""
    import numpy as np

    rng = np.random.default_rng(7)
    for ch, ctype in ((1, 0), (3, 2), (4, 6)):
        pixels = rng.integers(0, 256, size=(7, 5, ch), dtype=np.uint8)
        png = _build_png(pixels, ctype, filters=[0, 1, 2, 3, 4])
        w, h, c, arr = multimodal.decode_png(png)
        assert (w, h, c) == (5, 7, ch)
        assert np.array_equal(arr, pixels)


def test_resize_nearest():
    import numpy as np

    base = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    out = multimodal.resize_nearest(base, 2, 2)
    # floor sampling: rows/cols 0 and 2
    assert out.reshape(2, 2).tolist() == [[0, 2], [8, 10]]
    up = multimodal.resize_nearest(base, 8, 8)
    assert up.shape == (8, 8, 1)
    assert up[0, 0, 0] == 0 and up[7, 7, 0] == 15


def test_image_decode_features_spark_path(spark):
    """REAL decode through the Arrow mapInPandas stage: valid PNGs
    decode (dims + pixel hash), a corrupt payload isolates to
    decode_ok=false instead of failing the task."""
    import hashlib as hl

    import numpy as np

    rng = np.random.default_rng(11)
    imgs = {
        1: rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8),
        2: rng.integers(0, 256, size=(3, 8, 1), dtype=np.uint8),
    }
    rows = [
        (1, _build_png(imgs[1], 2, filters=[0, 1, 2, 3, 4])),
        (2, _build_png(imgs[2], 0, filters=[4, 3, 2])),
        (3, b"not a png at all"),
    ]
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(rows, "media_id long, payload binary")
    media = multimodal.to_media_table(df, "media_id", SF.col("payload"),
                                      "image")
    got = {
        r.media_id: r
        for r in multimodal.extract_features(
            media,
            decoder=multimodal.image_decode_features,
            schema=multimodal.IMAGE_FEATURE_SCHEMA,
        ).collect()
    }
    assert got[1].decode_ok and (got[1].width, got[1].height,
                                 got[1].channels) == (4, 6, 3)
    assert got[1].pixel_sha256 == hl.sha256(imgs[1].tobytes()).hexdigest()
    assert got[2].decode_ok and (got[2].width, got[2].height,
                                 got[2].channels) == (8, 3, 1)
    assert not got[3].decode_ok and got[3].pixel_sha256 is None


def test_funnel_batch_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.streaming import stateful

    df = stateful.q_funnel(spark, SF_DIR)
    assert_matches_duckdb(df, ddb, stateful.entry_oracles()["stream_funnel"])


@pytest.fixture(scope="module")
def events_stream_dir_timeordered(spark, tmp_path_factory):
    """Four parquet files covering CONTIGUOUS time ranges, written in
    chronological order — a replayed stream. (Round-robin files would
    feed the stateful funnel out of event-time order, which no real
    event stream does within a key.)"""
    from query_planner_optimizer_spark.catalog import Catalog

    d = str(tmp_path_factory.mktemp("events_stream_ordered"))
    events = Catalog(spark, SF_DIR, register_views=False).table("events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    from query_planner_optimizer_spark.functions.timeexpr import epoch_micros
    ts_us = epoch_micros("ts")
    cuts = events.select(
        F.percentile_approx(ts_us, [0.25, 0.5, 0.75], 10000).alias("q")
    ).collect()[0]["q"]
    lo = [None, *cuts]
    hi = [*cuts, None]
    for i, (a, b) in enumerate(zip(lo, hi)):
        part = events
        if a is not None:
            part = part.filter(ts_us > a)
        if b is not None:
            part = part.filter(ts_us <= b)
        part.coalesce(1).write.mode("append").parquet(d)
    return d


def test_streaming_funnel_state_across_batches(spark, events_stream_dir_timeordered):
    """applyInPandasWithState funnel: one file per micro-batch forces the
    per-user state to survive across batches; the last snapshot per user
    must equal the batch walk over the full history."""
    from query_planner_optimizer_spark.streaming import stateful

    src = (
        spark.readStream.schema(windows.EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir_timeordered)
    )
    stream = stateful.funnel_stream(src)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM funnel_test").toPandas()
    # More emitted snapshots than users proves multi-batch re-emission.
    n_users = got["user_id"].nunique()
    assert len(got) > n_users
    final = (
        got.sort_values(["user_id", "stages_completed"])
        .drop_duplicates("user_id", keep="last")
        .reset_index(drop=True)
    )
    batch = stateful.funnel_batch(
        spark.read.parquet(events_stream_dir_timeordered)
    ).toPandas()
    pd.testing.assert_frame_equal(
        normalize(final), normalize(batch), check_dtype=False
    )


def test_heavy_hitters_batch_matches_oracle(spark, ddb):
    from query_planner_optimizer_spark.streaming import stateful

    assert_matches_duckdb(
        stateful.q_heavy_hitters(spark, SF_DIR), ddb,
        stateful.entry_oracles()["stream_heavy_hitters"],
    )


def test_streaming_heavy_hitters_state_across_batches(
    spark, events_stream_dir_timeordered
):
    """Space-saving counters persist across micro-batches: in the exact
    regime (capacity >> distinct items) the LAST snapshot per group
    equals the batch twin over the full history, for any batch split."""
    from query_planner_optimizer_spark.streaming import stateful

    src = (
        spark.readStream.schema(windows.EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir_timeordered)
    )
    stream = stateful.heavy_hitters_stream(src)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("hh_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM hh_test").toPandas()
    assert len(emitted) > 0
    # Re-run batch twin over the same files; compare final snapshots.
    # Memory-sink rows accrue in emission order; the final batch's rows
    # are the last |groups|*k — recover them by taking, per (grp, rank),
    # the LAST emitted row.
    final = emitted.groupby(["grp", "rank"]).tail(1)
    batch = stateful.heavy_hitters_batch(
        spark.read.parquet(events_stream_dir_timeordered)
    ).toPandas()
    key = ["grp", "rank", "item", "est_count", "max_err"]
    pd.testing.assert_frame_equal(
        final[key].sort_values(["grp", "rank"]).reset_index(drop=True),
        batch[key].sort_values(["grp", "rank"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_heavy_hitters_sketch_bounds_under_capacity(spark):
    """Under-capacity regime: the space-saving guarantees hold —
    est - err <= true <= est, the planted heavy item survives with an
    exact count, and state never exceeds capacity."""
    import pandas as _pd

    from query_planner_optimizer_spark.streaming.stateful import (
        _ss_merge,
        _ss_topk,
    )

    rng = __import__("random").Random(7)
    stream = [1] * 500 + [rng.randrange(100, 2000) for _ in range(800)]
    rng.shuffle(stream)
    true = {}
    for x in stream:
        true[x] = true.get(x, 0) + 1
    counter: dict[int, list[int]] = {}
    # feed in 8 chunks to exercise merge across batches
    for i in range(0, len(stream), 200):
        chunk = _pd.Series(stream[i:i + 200]).value_counts()
        _ss_merge(counter, chunk, capacity=64)
    assert len(counter) <= 64
    top = _ss_topk("g", counter, 5)
    assert top.iloc[0]["item"] == 1  # the planted heavy hitter
    for _, r in top.iterrows():
        t = true.get(r["item"], 0)
        assert r["est_count"] - r["max_err"] <= t <= r["est_count"]
    # total overestimation bounded: max_err <= N / capacity is the
    # textbook bound for per-occurrence updates; the batched merge
    # weakens it to <= max batch-min + chunk count, still << N.
    assert all(r["max_err"] < len(stream) for _, r in top.iterrows())


def test_dedup_batch_matches_oracle(spark, ddb):
    df = windows.q_dedup_events(spark, SF_DIR)
    assert_matches_duckdb(df, ddb, windows.entry_oracles()["stream_dedup"])


def test_streaming_dedup_checkpoint_recovery(spark, tmp_path):
    """Exactly-once across a RESTART: file 2 re-delivers copies of file
    1's rows; the restarted query must drop them from state restored off
    the checkpoint, not from memory."""
    from query_planner_optimizer_spark.catalog import Catalog

    src = str(tmp_path / "src"); out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = Catalog(spark, SF_DIR, register_views=False).table("events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    f1 = events.filter(F.col("event_id") < 5000)
    dupes = events.filter(F.col("event_id") < 1000)
    f2 = events.filter(F.col("event_id") >= 5000).unionByName(dupes)
    f1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = windows.dedup_stream(
            spark.readStream.schema(windows.EVENTS_STREAM_SCHEMA).parquet(src),
            key_cols=["event_id"],
            watermark="90 days",  # longer than the data span: no eviction
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()                                     # processes f1
    f2.coalesce(1).write.mode("append").parquet(src)
    run_once()                                     # restart: f2 + dupes

    got = spark.read.schema(windows.EVENTS_STREAM_SCHEMA).parquet(out)
    total = got.count()
    uniq = got.select("event_id").distinct().count()
    expect = events.select("event_id").distinct().count()
    assert uniq == expect          # every event represented
    assert total == expect         # and none twice — dupes dropped on restart


def test_heavy_hitters_entry_asserts_exact_regime(spark, monkeypatch):
    """q_heavy_hitters raises LOUDLY when any group's distinct-item
    count reaches capacity (the exact-top-k oracle stops applying once
    the sketch evicts) — a regenerated, larger driver corpus must fail
    the entry's setup check, never silently hash-mismatch."""
    from query_planner_optimizer_spark.streaming import stateful

    monkeypatch.setattr(stateful, "HH_CAPACITY", 3)
    with pytest.raises(RuntimeError, match="regime violated"):
        stateful.q_heavy_hitters(spark, SF_DIR)


def test_streaming_heavy_hitters_late_data(spark, tmp_path_factory):
    """Late-arrival semantics pinned: heavy_hitters_stream runs with
    NO event-time watermark (GroupStateTimeout.NoTimeout) — counters
    are event-time-agnostic, so a batch of LATE rows (old timestamps
    arriving after newer data) is merged exactly like on-time rows,
    never dropped. The final snapshot equals the batch twin over the
    full history INCLUDING the late file; eviction remains purely
    capacity-driven (asserted under capacity pressure on a late chunk
    re-carrying the planted heavy item)."""
    import pandas as _pd

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.functions.timeexpr import epoch_micros
    from query_planner_optimizer_spark.streaming import stateful
    from query_planner_optimizer_spark.streaming.stateful import (
        _ss_merge,
        _ss_topk,
    )

    d = str(tmp_path_factory.mktemp("events_stream_late"))
    events = Catalog(spark, SF_DIR, register_views=False).table("events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ts_us = epoch_micros("ts")
    cuts = events.select(
        F.percentile_approx(ts_us, [0.25, 0.5], 10000).alias("q")
    ).collect()[0]["q"]
    q25, q50 = cuts
    # file 1: (q25, q50]; file 2: (q50, inf) — then file 3 replays the
    # OLDEST quartile: maximally late, behind everything already seen.
    events.filter((ts_us > q25) & (ts_us <= q50)).coalesce(1).write.mode(
        "append").parquet(d)
    events.filter(ts_us > q50).coalesce(1).write.mode("append").parquet(d)
    events.filter(ts_us <= q25).coalesce(1).write.mode("append").parquet(d)

    src = (
        spark.readStream.schema(windows.EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stateful.heavy_hitters_stream(src)
        .writeStream.format("memory")
        .queryName("hh_late_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM hh_late_test").toPandas()
    final = emitted.groupby(["grp", "rank"]).tail(1)
    batch = stateful.heavy_hitters_batch(spark.read.parquet(d)).toPandas()
    key = ["grp", "rank", "item", "est_count", "max_err"]
    pd.testing.assert_frame_equal(
        final[key].sort_values(["grp", "rank"]).reset_index(drop=True),
        batch[key].sort_values(["grp", "rank"]).reset_index(drop=True),
        check_dtype=False,
    )

    # Capacity pressure + late chunk: the heavy item planted EARLY and
    # re-arriving LATE keeps an exact count (never evicted while heavy),
    # and the space-saving bounds hold for every reported item.
    rng = __import__("random").Random(11)
    early_heavy = [1] * 300
    noise = [rng.randrange(100, 3000) for _ in range(900)]
    late_heavy = [1] * 200           # the "late" replay of item 1
    true: dict[int, int] = {}
    counter: dict[int, list[int]] = {}
    for chunk in (early_heavy, noise, late_heavy):
        for x in chunk:
            true[x] = true.get(x, 0) + 1
        _ss_merge(counter, _pd.Series(chunk).value_counts(), capacity=64)
    assert len(counter) <= 64
    top = _ss_topk("g", counter, 5)
    assert top.iloc[0]["item"] == 1
    assert top.iloc[0]["est_count"] == 500 and top.iloc[0]["max_err"] == 0
    for _, r in top.iterrows():
        t = true.get(r["item"], 0)
        assert r["est_count"] - r["max_err"] <= t <= r["est_count"]


# --- r13 (VERDICT r12 #5): checkpoint recovery for the PYTHON-state
# operators. The JVM state store restore (dedup, maintenance) was
# already kill-tested; applyInPandasWithState restores GroupState
# through a different codepath (pickled Python rows rehydrated from the
# checkpoint into a fresh GroupState), so each operator gets its own
# stop-and-restart proof: run 1 processes the older half, the query
# OBJECT is discarded, a brand-new query on the same checkpoint
# processes the newer half — emissions must equal the uninterrupted
# batch twin over the full history, which is only possible if the
# per-key state came back from the checkpoint, not memory.


def _fb_sink(out_dir: str):
    """foreachBatch sink tagging rows with the micro-batch id (parquet
    sink can't do update mode; memory sink can't recover a checkpoint).
    batch ids continue monotonically across restarts, so max-__bid per
    key = the final snapshot."""
    def fn(batch_df, batch_id):
        batch_df.withColumn("__bid", F.lit(batch_id)).write.mode(
            "append").parquet(out_dir)
    return fn


def _two_time_halves(spark, tmp_path):
    """events split at the median event time into run-1 / run-2 files
    (chronological across runs, as any real replayed stream is)."""
    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.functions.timeexpr import epoch_micros

    events = Catalog(spark, SF_DIR, register_views=False).table(
        "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ts_us = epoch_micros("ts")
    q50 = events.select(
        F.percentile_approx(ts_us, 0.5, 10000).alias("q")
    ).collect()[0]["q"]
    src = str(tmp_path / "src")
    events.filter(ts_us <= q50).coalesce(1).write.mode("append").parquet(src)
    later = events.filter(ts_us > q50)
    return events, src, later, q50


def test_funnel_checkpoint_recovery(spark, tmp_path):
    """funnel_stream across a restart: users whose stage-1 match lives
    in run 1 and stage-2 event arrives in run 2 can only complete if the
    (completed, match timestamps) tuple was restored from the
    checkpointed GroupState."""
    from query_planner_optimizer_spark.streaming import stateful

    events, src, later, q50 = _two_time_halves(spark, tmp_path)
    out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = stateful.funnel_stream(
            spark.readStream.schema(windows.EVENTS_STREAM_SCHEMA)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_fb_sink(out))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()                                       # older half
    later.coalesce(1).write.mode("append").parquet(src)
    run_once()                                       # RESTART: newer half

    emitted = spark.read.parquet(out).toPandas()
    assert emitted["__bid"].nunique() >= 2           # both runs emitted
    final = (
        emitted.sort_values(["user_id", "__bid"])
        .drop_duplicates("user_id", keep="last")
        .drop(columns="__bid")
        .reset_index(drop=True)
    )
    batch = stateful.funnel_batch(events).toPandas()
    pd.testing.assert_frame_equal(
        normalize(final), normalize(batch), check_dtype=False
    )
    # The restart mattered: some user re-emitted in run 2 (its events
    # straddle the cut) while its FIRST-stage match timestamp predates
    # the cut — a reset (non-restored) walk re-matching over run-2 data
    # alone could only find later first-matches. The batch-twin frame
    # equality above then pins every such timestamp.
    last_bid = emitted["__bid"].max()
    run2_users = set(emitted.loc[emitted["__bid"] == last_bid, "user_id"])
    early_first = set(
        emitted.loc[emitted["view_ts"].notna()
                    & (emitted["view_ts"].astype("int64") // 1000
                       <= q50), "user_id"]
    )
    assert run2_users & early_first


def test_heavy_hitters_checkpoint_recovery(spark, tmp_path):
    """heavy_hitters_stream across a restart: in the exact regime the
    final snapshot must equal the batch twin over the FULL history —
    run 2 alone undercounts every item seen in run 1, so equality
    proves the counter arrays were rehydrated from the checkpoint."""
    from query_planner_optimizer_spark.streaming import stateful

    events, src, later, _q50 = _two_time_halves(spark, tmp_path)
    out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = stateful.heavy_hitters_stream(
            spark.readStream.schema(windows.EVENTS_STREAM_SCHEMA)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_fb_sink(out))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    later.coalesce(1).write.mode("append").parquet(src)
    run_once()

    emitted = spark.read.parquet(out).toPandas()
    assert emitted["__bid"].nunique() >= 2
    final = emitted.sort_values("__bid").drop_duplicates(
        ["grp", "rank"], keep="last"
    )
    batch = stateful.heavy_hitters_batch(
        spark.read.schema(windows.EVENTS_STREAM_SCHEMA).parquet(src)
    ).toPandas()
    key = ["grp", "rank", "item", "est_count", "max_err"]
    pd.testing.assert_frame_equal(
        final[key].sort_values(["grp", "rank"]).reset_index(drop=True),
        batch[key].sort_values(["grp", "rank"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_streaming_rollup_maintenance_equals_rebuild(spark, tmp_path):
    """Streamed-in rollup (two forced micro-batches through foreachBatch
    + refresh_rollups) is BIT-identical to a one-shot rebuild, and the
    _last_batch marker makes a replayed batch a no-op (the
    at-least-once → exactly-once idempotency guard)."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.prepare import build_rollups
    from query_planner_optimizer_spark.streaming.maintenance import (
        streaming_rollup_maintenance,
    )
    from .conftest import SF_DIR, normalize

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "day"]
    landing = str(tmp_path / "landing")
    agg_dir = str(tmp_path / "aggs")
    ckpt = str(tmp_path / "ckpt")
    h0 = events.filter((F.col("event_id") % 2) == 0).select(*cols)
    h1 = events.filter((F.col("event_id") % 2) == 1).select(*cols)
    h0.coalesce(1).write.mode("overwrite").parquet(landing)
    h1.coalesce(1).write.mode("append").parquet(landing)
    rollups = {"agg_day_etype": {"keys": ["day", "event_type"],
                                 "aggs": {"value": ["sum", "count"]}}}
    q = streaming_rollup_maintenance(
        spark, landing, agg_dir, ckpt, rollups,
        schema=h0.schema, max_files_per_trigger=1,
    )
    q.awaitTermination()
    marker = os.path.join(agg_dir, "_last_batch")
    assert int(open(marker).read()) >= 1  # ≥2 micro-batches ran
    streamed = spark.read.parquet(
        os.path.join(agg_dir, "agg_day_etype.parquet")
    ).toPandas()
    # one-shot rebuild over the same data
    rebuild_dir = str(tmp_path / "rebuild")
    build_rollups(events.select(*cols), rebuild_dir, rollups)
    rebuilt = spark.read.parquet(
        os.path.join(rebuild_dir, "agg_day_etype.parquet")
    ).toPandas()
    pd.testing.assert_frame_equal(normalize(streamed), normalize(rebuilt))
    # replayed batch id (≤ marker) must be a no-op: fold h1 again by
    # invoking the batch body through a fresh stream over the SAME
    # checkpoint — no new files, so no batch fires; then simulate a
    # crash-replay by calling refresh via a lower batch id path: the
    # marker file guards it.
    before = sorted(streamed.itertuples(index=False))
    q2 = streaming_rollup_maintenance(
        spark, landing, agg_dir, ckpt, rollups,
        schema=h0.schema, max_files_per_trigger=1,
    )
    q2.awaitTermination()
    after = spark.read.parquet(
        os.path.join(agg_dir, "agg_day_etype.parquet")
    ).toPandas()
    assert sorted(after.itertuples(index=False)) == before


def test_refresh_replay_idempotent_hist_hll(spark, tmp_path):
    """Exactly-once for the hist/HLL maintenance fold (r7): replaying
    the SAME batch id against a rollup that already folded it — the
    foreachBatch replay after a crash between the fold and the
    checkpoint commit — is a bit-exact no-op, because the batch id is
    committed inside the rollup dir by the same atomic rename as the
    data."""
    import os

    import pandas as pd

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.prepare import refresh_rollups
    from .conftest import SF_DIR, normalize

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "day"]
    h0 = events.filter((F.col("event_id") % 2) == 0).select(*cols)
    h1 = events.filter((F.col("event_id") % 2) == 1).select(*cols)
    rollups = {"agg_day_etype_sketch": {
        "keys": ["day", "event_type"],
        "aggs": {"value": ["sum", "count", "hist"],
                 "user_id": ["hll"]},
    }}
    agg_dir = str(tmp_path / "aggs")
    path = os.path.join(agg_dir, "agg_day_etype_sketch.parquet")
    refresh_rollups(spark, h0, agg_dir, rollups, batch_id=0)
    refresh_rollups(spark, h1, agg_dir, rollups, batch_id=1)

    def snapshot() -> pd.DataFrame:
        df = spark.read.parquet(path)
        # serialized sketch bytes are storage-mode-sensitive; compare
        # the SERVED values (estimate) plus the exact partials
        return normalize(df.select(
            "day", "event_type", "sum_value", "count_value",
            F.col("hist_value").cast("string").alias("hist_value"),
            F.hll_sketch_estimate("hll_user_id").alias("du"),
        ).toPandas())

    before = snapshot()
    # crash-replay of batch 1 (sums would double, hist bins would
    # double, HLL would re-union) — must be skipped via the in-dir marker
    refresh_rollups(spark, h1, agg_dir, rollups, batch_id=1)
    pd.testing.assert_frame_equal(snapshot(), before)
    # a genuinely NEW batch id with new data still folds
    extra = h1.limit(100)
    refresh_rollups(spark, extra, agg_dir, rollups, batch_id=2)
    after = snapshot()
    assert after["count_value"].sum() == before["count_value"].sum() + 100


def test_refresh_first_creation_atomic_and_marker_carry(spark, tmp_path):
    """First-creation exactly-once: batch 0 commits data + marker via
    one rename, so replaying batch 0 is a no-op (previously the replay
    would MERGE the delta into an existing copy of itself). And a
    non-streaming refresh (batch_id=None) carries the existing in-dir
    marker forward instead of destroying it."""
    import os

    import pandas as pd

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.prepare import (
        _rollup_last_batch,
        refresh_rollups,
    )
    from .conftest import SF_DIR, normalize

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "day"]
    h0 = events.filter((F.col("event_id") % 2) == 0).select(*cols)
    h1 = events.filter((F.col("event_id") % 2) == 1).select(*cols)
    rollups = {"agg_day": {"keys": ["day"],
                           "aggs": {"value": ["sum", "count"]}}}
    agg_dir = str(tmp_path / "aggs")
    path = os.path.join(agg_dir, "agg_day.parquet")

    refresh_rollups(spark, h0, agg_dir, rollups, batch_id=0)
    assert _rollup_last_batch(path) == 0
    before = normalize(spark.read.parquet(path).toPandas())
    # replay of the creation batch: exactly-once no-op
    refresh_rollups(spark, h0, agg_dir, rollups, batch_id=0)
    pd.testing.assert_frame_equal(
        normalize(spark.read.parquet(path).toPandas()), before)

    # non-streaming refresh must NOT destroy the committed marker
    refresh_rollups(spark, h1, agg_dir, rollups)  # batch_id=None
    assert _rollup_last_batch(path) == 0
    after = normalize(spark.read.parquet(path).toPandas())
    want = events.where(F.col("value").isNotNull()).count()
    assert int(after["count_value"].sum()) == want  # h0 + h1 = all rows


def test_refresh_multi_rollup_torn_crash(spark, tmp_path):
    """Torn crash ACROSS rollups: the process dies after rollup A folds
    batch 1 but before rollup B does. The replay must skip A (its
    in-dir marker covers batch 1) and fold ONLY B — previously the
    agg_dir-level marker could only skip or double-fold the whole
    batch. Crash simulated by a raising fold on B's first attempt."""
    import os

    import pandas as pd
    import pytest

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.prepare import (
        build_rollups,
        refresh_rollups,
    )
    from query_planner_optimizer_spark import prepare as prep_mod
    from .conftest import SF_DIR, normalize

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "day"]
    h0 = events.filter((F.col("event_id") % 2) == 0).select(*cols)
    h1 = events.filter((F.col("event_id") % 2) == 1).select(*cols)
    # dict order pins fold order: A first, then B
    rollups = {
        "agg_a_day": {"keys": ["day"], "aggs": {"value": ["sum", "count"]}},
        "agg_b_etype": {"keys": ["event_type"],
                        "aggs": {"value": ["sum", "count"]}},
    }
    agg_dir = str(tmp_path / "aggs")
    refresh_rollups(spark, h0, agg_dir, rollups, batch_id=0)

    real_frame = prep_mod.rollup_frame
    state = {"calls": 0}

    def exploding_frame(src, keys, aggs):
        state["calls"] += 1
        if state["calls"] == 2:  # rollup B's delta on the first attempt
            raise RuntimeError("simulated crash before rollup B")
        return real_frame(src, keys, aggs)

    prep_mod.rollup_frame = exploding_frame
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            refresh_rollups(spark, h1, agg_dir, rollups, batch_id=1)
    finally:
        prep_mod.rollup_frame = real_frame

    # A folded batch 1; B did not — frozen mid-batch
    from query_planner_optimizer_spark.prepare import _rollup_last_batch
    assert _rollup_last_batch(os.path.join(agg_dir, "agg_a_day.parquet")) == 1
    assert _rollup_last_batch(
        os.path.join(agg_dir, "agg_b_etype.parquet")) == 0

    # the replay (same batch id): A skips, B folds exactly once
    refresh_rollups(spark, h1, agg_dir, rollups, batch_id=1)
    rebuild = str(tmp_path / "rebuild")
    build_rollups(events.select(*cols), rebuild, rollups)
    for name in rollups:
        got = spark.read.parquet(
            os.path.join(agg_dir, f"{name}.parquet")).toPandas()
        want = spark.read.parquet(
            os.path.join(rebuild, f"{name}.parquet")).toPandas()
        pd.testing.assert_frame_equal(normalize(got), normalize(want))


def test_streaming_hist_maintenance_kill_mid_batch(spark, tmp_path):
    """Kill-mid-batch checkpoint recovery for the hist/HLL maintenance
    stream: the last micro-batch folds, then the process 'dies' before
    the checkpoint commit and before the agg-dir marker write (commit
    file deleted + marker rewound). The restarted stream REPLAYS that
    batch; the per-rollup in-dir marker must make the replay a no-op,
    leaving the rollup bit-identical to a one-shot rebuild."""
    import os

    import pandas as pd

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.prepare import build_rollups
    from query_planner_optimizer_spark.streaming.maintenance import (
        streaming_rollup_maintenance,
    )
    from .conftest import SF_DIR, normalize

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "day"]
    landing = str(tmp_path / "landing")
    agg_dir = str(tmp_path / "aggs")
    ckpt = str(tmp_path / "ckpt")
    h0 = events.filter((F.col("event_id") % 2) == 0).select(*cols)
    h1 = events.filter((F.col("event_id") % 2) == 1).select(*cols)
    h0.coalesce(1).write.mode("overwrite").parquet(landing)
    h1.coalesce(1).write.mode("append").parquet(landing)
    rollups = {"agg_day_etype_hist": {
        "keys": ["day", "event_type"],
        "aggs": {"value": ["sum", "count", "hist"],
                 "user_id": ["hll"]},
    }}
    q = streaming_rollup_maintenance(
        spark, landing, agg_dir, ckpt, rollups,
        schema=h0.schema, max_files_per_trigger=1,
    )
    q.awaitTermination()

    # simulate the kill: last batch's fold landed, but neither the
    # checkpoint commit nor the agg-dir marker did
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    last = commits[-1]
    assert int(last) >= 1  # maxFilesPerTrigger=1 ⇒ ≥2 batches
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):  # hadoop ChecksumFs sibling
        os.remove(crc)
    with open(os.path.join(agg_dir, "_last_batch"), "w") as f:
        f.write(str(int(last) - 1))

    q2 = streaming_rollup_maintenance(
        spark, landing, agg_dir, ckpt, rollups,
        schema=h0.schema, max_files_per_trigger=1,
    )
    q2.awaitTermination()

    path = os.path.join(agg_dir, "agg_day_etype_hist.parquet")
    got = spark.read.parquet(path).select(
        "day", "event_type", "sum_value", "count_value",
        F.col("hist_value").cast("string").alias("hist_value"),
        F.hll_sketch_estimate("hll_user_id").alias("du"),
    ).toPandas()
    rebuild_dir = str(tmp_path / "rebuild")
    build_rollups(events.select(*cols), rebuild_dir, rollups)
    want = spark.read.parquet(
        os.path.join(rebuild_dir, "agg_day_etype_hist.parquet")
    ).select(
        "day", "event_type", "sum_value", "count_value",
        F.col("hist_value").cast("string").alias("hist_value"),
        F.hll_sketch_estimate("hll_user_id").alias("du"),
    ).toPandas()
    pd.testing.assert_frame_equal(normalize(got), normalize(want))


def test_streaming_windowed_distinct_equals_batch(spark, ddb, events_stream_dir):
    """Exact distinct-per-window through the streaming path (dedup
    within watermark -> windowed count) must equal the batch twin and
    the COUNT(DISTINCT) oracle. Watermark delay >= the window duration
    is the documented exactness condition; complete output mode emits
    the tail windows an append run would hold back until the watermark
    passes them."""
    stream_df = windows.windowed_distinct(
        windows.read_events_stream(spark, events_stream_dir),
        watermark="2 hours",
    )
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("win_distinct_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM win_distinct_test").toPandas()
    batch = windows.windowed_distinct(
        spark.read.parquet(events_stream_dir)
    ).toPandas()
    pd.testing.assert_frame_equal(
        normalize(got), normalize(batch), check_dtype=False
    )
    assert_matches_duckdb(
        windows.q_windowed_distinct(spark, SF_DIR), ddb,
        windows.entry_oracles()["stream_windowed_distinct"],
    )


def test_wav_roundtrip_and_isolation(spark):
    """build_wav -> decode_wav round-trips 8- and 16-bit mono/stereo
    PCM bit-exactly; corrupt payloads isolate per-row in the Arrow
    stage instead of failing the task."""
    import numpy as np
    import pandas as pd

    from query_planner_optimizer_spark.operators import multimodal as mm

    for bits in (8, 16):
        for ch in (1, 2):
            frames = ((np.arange(60 * ch) * 11) % 240 - 119).reshape(60, ch)
            payload = mm.build_wav(16000, ch, bits, frames)
            rate, och, obits, got = mm.decode_wav(payload)
            assert (rate, och, obits) == (16000, ch, bits)
            assert np.array_equal(got, frames)
    # stdlib wave writer cross-check (16-bit)
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.arange(100, dtype="<i2").tobytes())
    rate, ch, bits, got = mm.decode_wav(buf.getvalue())
    assert (rate, ch, bits, len(got)) == (8000, 1, 16, 100)
    assert np.array_equal(got[:, 0], np.arange(100))
    # per-row corrupt isolation in the batch stage
    good = mm.build_wav(8000, 1, 16, np.zeros((10, 1)))
    batch = pd.DataFrame({"media_id": [1, 2, 3],
                          "payload": [good, b"garbage", good[:20]]})
    out = mm.audio_decode_features(batch)
    assert list(out["decode_ok"]) == [True, False, False]
    assert out["n_frames"][0] == 10


def test_mp4_roundtrip_and_isolation():
    """build_mp4 -> parse_mp4 round-trips brands/timescale/duration/
    tracks; 64-bit largesize and version-1 mvhd parse; corrupt payloads
    isolate per-row."""
    import struct

    import pandas as pd

    from query_planner_optimizer_spark.operators import multimodal as mm

    p = mm.build_mp4(b"mp42", 3000, 9001, 2, b"\x01\x02")
    brand, ts, dur, nt, dur_us = mm.parse_mp4(p)
    assert (brand, ts, dur, nt) == ("mp42", 3000, 9001, 2)
    assert dur_us == 9001 * 1_000_000 // 3000
    # version-1 mvhd (64-bit duration)
    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload
    mvhd1 = box(b"mvhd", bytes([1, 0, 0, 0]) + b"\x00" * 16
                + struct.pack(">IQ", 48000, 2**33) + b"\x00" * 80)
    p1 = box(b"ftyp", b"isom" + b"\x00" * 8) + box(b"moov", mvhd1)
    _, ts1, dur1, _, _ = mm.parse_mp4(p1)
    assert (ts1, dur1) == (48000, 2**33)
    # 64-bit largesize top-level box wrapping the same moov
    big = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(mvhd1)) + mvhd1
    p2 = box(b"ftyp", b"isom" + b"\x00" * 8) + big
    _, ts2, _, _, _ = mm.parse_mp4(p2)
    assert ts2 == 48000
    # isolation
    out = mm.video_meta_features(pd.DataFrame({
        "media_id": [1, 2, 3],
        "payload": [p, b"nonsense", p[:15]],
    }))
    assert list(out["decode_ok"]) == [True, False, False]
    assert out["n_tracks"][0] == 2


def test_jpeg_roundtrip_and_isolation():
    """build_jpeg -> parse_jpeg round-trips dimensions/components/
    baseline-vs-progressive; the size formula the oracle recomputes
    holds; segment skipping (COM), fill bytes, and RST markers parse;
    corrupt payloads isolate per-row."""
    import pandas as pd

    from query_planner_optimizer_spark.operators import multimodal as mm

    p = mm.build_jpeg(640, 480, 3, False, b"hello", b"\x00\x00\x00")
    prog, prec, w, h, nc = mm.parse_jpeg(p)
    assert (prog, prec, w, h, nc) == (False, 8, 640, 480, 3)
    assert len(p) == 40 + 5 * 3 + len(b"\x00\x00\x00") + 4 + len(b"hello")
    # progressive + grayscale, no comment (size formula branch k1=0)
    p2 = mm.build_jpeg(16, 8, 1, True)
    assert mm.parse_jpeg(p2) == (True, 8, 16, 8, 1)
    assert len(p2) == 40 + 5 * 1
    # fill bytes before a marker and a standalone RST marker skip
    p3 = p2[:2] + b"\xff" + b"\xff\xd0" + p2[2:]
    assert mm.parse_jpeg(p3) == (True, 8, 16, 8, 1)
    # per-row corrupt isolation
    out = mm.jpeg_meta_features(pd.DataFrame({
        "media_id": [1, 2, 3, 4],
        "payload": [p, b"nonsense", p[:9], b"\xff\xd8\xff\xd9"],
    }))
    assert list(out["decode_ok"]) == [True, False, False, False]
    assert out["n_pixels"][0] == 640 * 480
    assert bool(out["progressive"][0]) is False


def test_streaming_hll_rollup_maintenance_serves_distinct(spark, tmp_path):
    """The streaming-DAU scale path end-to-end: a rollup spec with an
    HLL sketch column maintained by the file-source stream (two forced
    micro-batches, hll_union_agg merges) serves the SAME routed
    APPROX_COUNT_DISTINCT estimate as a one-shot rebuild — distinct
    counts from pre-aggregates with no state store, no watermark, and
    no two-shuffle exact expand."""
    import pandas as pd
    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import build_rollups
    from query_planner_optimizer_spark.streaming.maintenance import (
        streaming_rollup_maintenance,
    )
    from .conftest import SF_DIR

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "day"]
    landing = str(tmp_path / "landing")
    agg_dir = str(tmp_path / "aggs")
    rollups = {"agg_day_etype_hll": {
        "keys": ["day", "event_type"],
        "aggs": {"value": ["sum", "count"], "user_id": ["hll"]},
    }}
    h0 = events.filter((F.col("event_id") % 2) == 0).select(*cols)
    h1 = events.filter((F.col("event_id") % 2) == 1).select(*cols)
    h0.coalesce(1).write.mode("overwrite").parquet(landing)
    h1.coalesce(1).write.mode("append").parquet(landing)
    q = streaming_rollup_maintenance(
        spark, landing, agg_dir, str(tmp_path / "ckpt"), rollups,
        schema=h0.schema, max_files_per_trigger=1,
    )
    q.awaitTermination()
    rebuild_dir = str(tmp_path / "rebuild")
    build_rollups(events.select(*cols), rebuild_dir, rollups)
    dau_q = {"select": ["day",
                        {"APPROX_COUNT_DISTINCT": "user_id",
                         "as": "dau_est"}],
             "from": "events", "group_by": ["day"],
             "order_by": ["day"]}
    streamed = RollupRouter(spark, agg_dir, rollups).route(dau_q)
    rebuilt = RollupRouter(spark, rebuild_dir, rollups).route(dau_q)
    assert streamed is not None and rebuilt is not None
    pd.testing.assert_frame_equal(streamed.toPandas(),
                                  rebuilt.toPandas())


def test_streaming_hist_rollup_maintenance_serves_quantiles(spark, tmp_path):
    """Streaming-maintained histogram partials: the file-source stream
    folds micro-batches into hist_<col> bin arrays (elementwise-add
    merge in refresh_rollups), and the routed APPROX_P* estimate from
    the streamed rollup is BITWISE equal to a one-shot rebuild's — and
    to the raw-scan compile. Percentile dashboards from pre-aggregates
    with no state store and no per-query sort."""
    from pyspark.sql import functions as F

    from query_planner_optimizer_spark.catalog import Catalog
    from query_planner_optimizer_spark.dsl.compiler import compile_query
    from query_planner_optimizer_spark.plans.router import RollupRouter
    from query_planner_optimizer_spark.prepare import build_rollups
    from query_planner_optimizer_spark.streaming.maintenance import (
        streaming_rollup_maintenance,
    )
    from .conftest import SF_DIR

    cat = Catalog(spark, SF_DIR, register_views=False)
    events = cat.table("events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "day"]
    landing = str(tmp_path / "landing")
    agg_dir = str(tmp_path / "aggs")
    rollups = {"agg_day_etype_hist": {
        "keys": ["day", "event_type"],
        "aggs": {"value": ["sum", "count", "hist"]},
    }}
    h0 = events.filter((F.col("event_id") % 2) == 0).select(*cols)
    h1 = events.filter((F.col("event_id") % 2) == 1).select(*cols)
    h0.coalesce(1).write.mode("overwrite").parquet(landing)
    h1.coalesce(1).write.mode("append").parquet(landing)
    q = streaming_rollup_maintenance(
        spark, landing, agg_dir, str(tmp_path / "ckpt"), rollups,
        schema=h0.schema, max_files_per_trigger=1,
    )
    q.awaitTermination()
    rebuild_dir = str(tmp_path / "rebuild")
    build_rollups(events.select(*cols), rebuild_dir, rollups)
    pq = {"select": ["event_type",
                     {"APPROX_P50": "value", "as": "p50_est"},
                     {"APPROX_P90": "value", "as": "p90_est"}],
          "from": "events", "group_by": ["event_type"]}
    streamed = RollupRouter(spark, agg_dir, rollups).route(pq)
    rebuilt = RollupRouter(spark, rebuild_dir, rollups).route(pq)
    assert streamed is not None and rebuilt is not None
    s, r = sorted(streamed.collect()), sorted(rebuilt.collect())
    assert s == r  # bitwise: integer partials, shared IEEE combine
    assert s == sorted(compile_query(pq, cat).collect())


def test_topk_trending_semantics(spark):
    """Every window emits at most k rows, ranked by count desc with a
    total key tiebreak; counts agree with a direct recount."""
    from query_planner_optimizer_spark.streaming.windows import (
        topk_trending,
    )
    from .conftest import SF_DIR
    from query_planner_optimizer_spark.catalog import Catalog

    events = Catalog(spark, SF_DIR, register_views=False).table("events")
    out = topk_trending(events, k=2).collect()
    by_win = {}
    for r in out:
        by_win.setdefault(r.window_start, []).append(r)
    for w, rows in by_win.items():
        assert len(rows) <= 2
        rows.sort(key=lambda r: r.rnk)
        counts = [r.n_events for r in rows]
        assert counts == sorted(counts, reverse=True)
        if len(rows) == 2 and rows[0].n_events == rows[1].n_events:
            assert rows[0].event_type < rows[1].event_type
