"""Driver-gated multimodal roundtrip: build REAL media bytes (RIFF
PCM WAV / binary PPM) deterministically from vec_id inside an
Arrow-batched kernel, push them through the real decode path, and
emit the parsed metadata. The DuckDB oracle computes what the decoder
MUST report by pure integer arithmetic on vec_id — two fully
independent derivations (byte-level construct+parse vs closed-form),
so any drift in either codec or the generator flips the hash.

Parameter algebra (kept in ONE place, mirrored in the oracle):
- even vec_id → audio: mono 16-bit PCM at 8000 Hz,
  n = 2000 · (1 + vec_id mod 4) samples ⇒ duration_ms exactly
  250 · (1 + vec_id mod 4).
- odd vec_id → image: width 4 + vec_id mod 5, height
  3 + vec_id mod 3; container alternates by vec_id mod 8 —
  1 → GIF (LZW path, exact palette = lossless), 3 → PNG
  (CRC-verified zlib path), 5 → P6, 7 → baseline JPEG
  (canonical-Huffman entropy path; lossy, so only dims ride the
  oracle) — same dims algebra, so ONE closed-form oracle gates all
  four real image codecs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_spark.functions import multimodal as M
from sync_spark.operators.relational import _t


_MEDIA_ROWS_PER_TASK = 256


def _spread_ids(
    ids: DataFrame, sf_dir: str | None = None, frac: float = 1.0
) -> DataFrame:
    """Media-kernel spread (r9, the dedup.spread_for_kernel discipline
    applied to media): at bench scale the id frame rides ONE tiny parquet split,
    which would serialize the whole synthesize+decode island on a
    single core — decode is MB/s-class CPU work while scan splits are
    sized for IO (128 MB), the worst mismatch in the repo. Round-robin
    the ids BEFORE payload synthesis: the exchange moves bare longs,
    so it is noise at any scale, and it only fires when the scan is
    NARROWER than the target width (at 100 TB a real media manifest
    has thousands of splits and this is a no-op — never a forced
    full-corpus shuffle).

    Width is WORK-proportional, not blindly the core count: parquet
    footer row count (pyarrow, no Spark job) ÷ _MEDIA_ROWS_PER_TASK,
    capped at defaultParallelism — measured at sf0.1 (2000 media),
    8 tasks beat 32 (0.59s vs 1.39s isolated; the full-suite bench
    session amplified the 32-way fan to 25s through python-worker
    state), while sf1-scale corpora still hit the full core count,
    where the spread wins 3.7× over serial (SCALE.md §r9).
    tests/test_multimodal.py asserts the decode island actually lands
    on the computed width.

    ``frac``: the caller's known selectivity over the source table
    (r9 verdict #3 — the resize/resample rows filter to one id parity
    AFTER this function used to size width from the FULL footer
    count, over-fanning the island 2× relative to the rows actually
    spread). Width derives from the rows the kernel will actually
    process: ``footer_rows · frac``."""
    sc = ids.sparkSession.sparkContext
    cap = sc.defaultParallelism
    width = cap
    scan_splits = None
    if sf_dir is not None:
        try:
            import os

            import pyarrow.parquet as pq

            path = os.path.join(sf_dir, "embeddings.parquet")
            if os.path.isfile(path):
                n = pq.ParquetFile(path).metadata.num_rows
            else:
                n = sum(
                    pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
            width = min(cap, max(1, int(n * frac) // _MEDIA_ROWS_PER_TASK))
            # r11 (guide §1/§4 — construction cost): the already-wide
            # guard used ids.rdd.getNumPartitions(), a plan→RDD
            # translation costing ~0.1s PER QUERY CONSTRUCTION across
            # six media queries. Estimate the scan width from file
            # bytes instead (the dedup.spread_for_kernel
            # discipline): ceil(bytes/maxPartitionBytes) UNDERestimates
            # splits (maxSplitBytes ≤ maxPartitionBytes), so the worst
            # case is a redundant bare-long repartition — while at
            # 100 TB thousands of estimated splits ≥ width (≤ cap)
            # still make the spread a no-op, never a forced shuffle.
            from sync_spark.operators.dedup import _parse_byte_size
            from sync_spark.sources.readers import table_size_bytes

            size = table_size_bytes(sf_dir, "embeddings")
            if size is not None:
                max_split = _parse_byte_size(
                    ids.sparkSession.conf.get(
                        "spark.sql.files.maxPartitionBytes", "134217728"
                    )
                )
                scan_splits = max(1, (size + max_split - 1) // max_split)
        except Exception:
            width = cap  # unknown layout: prefer parallelism
    if scan_splits is None:
        # unknown layout: fall back to the plan probe rather than
        # guessing (a wrong guess here could force a shuffle at scale)
        scan_splits = ids.rdd.getNumPartitions()
    if width <= 1 or scan_splits >= width:
        return ids
    return ids.repartition(width)


def m_media_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _spread_ids(
        _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("media_id")),
        sf_dir,
    )

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "kind": [], "payload": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows["media_id"].append(mid)
                if mid % 2 == 0:
                    seconds = 0.25 * (1 + mid % 4)
                    rows["kind"].append("audio")
                    rows["payload"].append(M.wav_payload(mid, seconds=seconds, rate=8000))
                else:
                    rows["kind"].append("image")
                    if mid % 8 == 7:
                        build_img = M.jpeg_payload
                    elif mid % 8 == 3:
                        build_img = M.png_payload
                    elif mid % 8 == 1:
                        build_img = M.gif_payload
                    else:
                        build_img = M.ppm_payload
                    rows["payload"].append(
                        build_img(mid, width=4 + mid % 5, height=3 + mid % 3)
                    )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(build, "media_id long, kind string, payload binary")
    decoded = M.decode_media(media)
    return decoded.select("media_id", "kind", "width", "height", "duration_ms")


M_MEDIA_SQL = """
SELECT vec_id AS media_id,
       CASE WHEN vec_id % 2 = 0 THEN 'audio' ELSE 'image' END AS kind,
       CASE WHEN vec_id % 2 = 0 THEN NULL ELSE CAST(4 + vec_id % 5 AS INT) END AS width,
       CASE WHEN vec_id % 2 = 0 THEN NULL ELSE CAST(3 + vec_id % 3 AS INT) END AS height,
       CASE WHEN vec_id % 2 = 0 THEN CAST(250 * (1 + vec_id % 4) AS INT) ELSE NULL END AS duration_ms
FROM embeddings
"""


def m_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated REAL pixel resize: build P6 payloads from odd
    vec_ids (width 4 + id%5, height 3 + id%3), run the
    nearest-neighbor pixel kernel at max_side=4, then RE-PARSE the
    resized bytes with the independent decoder — the emitted dims come
    from the output payload's header, not the kernel's bookkeeping.
    The oracle computes the same dims closed-form (HALF_UP rounding of
    the aspect-preserving scale), so kernel, encoder, and parser must
    all agree for the hash to match."""
    ids = _spread_ids(
        _t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("media_id"))
        .filter(F.col("media_id") % 2 == 1),
        sf_dir,
        frac=0.5,
    )

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "payload": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows["media_id"].append(mid)
                if mid % 8 == 7:
                    build_img = M.jpeg_payload
                elif mid % 8 == 3:
                    build_img = M.png_payload
                elif mid % 8 == 1:
                    build_img = M.gif_payload
                else:
                    build_img = M.ppm_payload
                rows["payload"].append(build_img(mid, width=4 + mid % 5, height=3 + mid % 3))
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(build, "media_id long, payload binary")
    resized = M.resize_image(media, max_side=4)
    # independent re-parse of the emitted bytes
    parsed = M.decode_media(resized.withColumn("kind", F.lit("image")))
    return parsed.select(
        "media_id",
        F.col("width").alias("rs_width"),
        F.col("height").alias("rs_height"),
    )


M_RESIZE_SQL = """
WITH src AS (
  SELECT vec_id AS media_id,
         CAST(4 + vec_id % 5 AS DOUBLE) AS w,
         CAST(3 + vec_id % 3 AS DOUBLE) AS h
  FROM embeddings WHERE vec_id % 2 = 1
), scaled AS (
  SELECT media_id, w, h,
         CASE WHEN greatest(w, h) > 4 THEN greatest(w, h) / 4.0 ELSE 1.0 END AS s
  FROM src
)
SELECT media_id,
       CAST(greatest(1, floor(w / s + 0.5)) AS INT) AS rs_width,
       CAST(greatest(1, floor(h / s + 0.5)) AS INT) AS rs_height
FROM scaled
"""


def m_media_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated REAL PCM resample: build WAVs from even vec_ids
    (n = 2000·(1 + id%4) samples at 8000 Hz), halve the rate through
    the numpy resampler, then RE-PARSE the emitted bytes — sample
    count and duration come from the output WAV's chunk walk. The
    oracle states the closed form: n/2 samples at 4000 Hz, duration
    exactly 250·(1 + id%4) ms (halving the rate preserves duration)."""
    ids = _spread_ids(
        _t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("media_id"))
        .filter(F.col("media_id") % 2 == 0),
        sf_dir,
        frac=0.5,
    )

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "payload": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows["media_id"].append(mid)
                rows["payload"].append(
                    M.wav_payload(mid, seconds=0.25 * (1 + mid % 4), rate=8000)
                )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(build, "media_id long, payload binary")
    resampled = M.resample_audio(media, target_rate=4000)
    # independent re-parse of the emitted bytes via the audio-feature
    # chunk walk (not the resampler's own bookkeeping)
    parsed = M.audio_features(resampled)
    return parsed.select(
        "media_id",
        F.col("sample_rate").alias("rs_rate"),
        F.col("n_samples").cast("long").alias("rs_samples"),
        F.col("duration_ms").alias("rs_duration_ms"),
    )


M_RESAMPLE_SQL = """
SELECT vec_id AS media_id,
       CAST(4000 AS INT) AS rs_rate,
       CAST(1000 * (1 + vec_id % 4) AS BIGINT) AS rs_samples,
       CAST(250 * (1 + vec_id % 4) AS INT) AS rs_duration_ms
FROM embeddings WHERE vec_id % 2 = 0
"""


def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated REAL frame sampling: build animated GIFs from odd
    vec_ids (2 + id%3 frames at exactly 100 ms each — the delays come
    from the encoder's graphic-control blocks), play them through the
    real animation decoder inside ``sample_frames``, and emit the
    sampled (idx, timestamp) grid. The oracle states the closed form:
    sampling every 100 ms over a (2 + id%3)·100 ms animation yields
    exactly one row per frame. The per-frame pixel digests are real
    too (sha256 of the decoded canvas) but can't ride a SQL oracle —
    the pytest side pins them against direct gif_frames decodes."""
    ids = _spread_ids(
        _t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("media_id"))
        .filter(F.col("media_id") % 2 == 1),
        sf_dir,
        frac=0.5,
    )

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"media_id": [], "kind": [], "payload": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows["media_id"].append(mid)
                rows["kind"].append("video")
                rows["payload"].append(
                    M.animated_gif_payload(
                        mid,
                        width=4 + mid % 5,
                        height=3 + mid % 3,
                        n_frames=2 + mid % 3,
                        delay_ms=100,
                    )
                )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(build, "media_id long, kind string, payload binary")
    return M.sample_frames(media, every_ms=100).select(
        "media_id", "frame_idx", "frame_ts_ms"
    )


M_FRAME_SAMPLE_SQL = """
SELECT vec_id AS media_id,
       CAST(t.i AS INT) AS frame_idx,
       CAST(t.i * 100 AS INT) AS frame_ts_ms
FROM embeddings, LATERAL UNNEST(range(0, 2 + vec_id % 3)) AS t(i)
WHERE vec_id % 2 = 1
"""


def m_media_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated MP3 metadata decode (VERDICT r10 #6): build
    structurally-valid CBR MPEG-1 Layer III streams per vec_id — rate,
    bitrate, channel mode, ID3v2 prefix and ID3v1 trailer all varying
    — and decode them through the REAL engine path
    (``decode_media`` → ``_decode_payload`` → mp3 frame walk with the
    spec's padding cadence and tag skipping). The oracle states the
    closed form: duration_ms = floor(n_frames · 1152 · 1000 / rate).
    PCM synthesis stays behind the documented codec boundary; rate /
    channel / VBR extraction is pinned bit-exact in
    tests/test_mp3.py."""
    ids = _spread_ids(
        _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("media_id")),
        sf_dir,
    )

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sync_spark.functions.mp3 import mp3_payload

        for pdf in it:
            rows = {"media_id": [], "kind": [], "payload": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                p = mp3_payload(
                    mid,
                    n_frames=20 + mid % 17,
                    rate=[44100, 48000, 32000][mid % 3],
                    bitrate_kbps=[96, 128, 160, 192][mid % 4],
                    channels=1 if mid % 7 == 0 else 2,
                    id3v2=(mid % 5 == 0),
                )
                if mid % 6 == 0:
                    p += b"TAG" + bytes(125)  # ID3v1 trailer
                rows["media_id"].append(mid)
                rows["kind"].append("audio")
                rows["payload"].append(p)
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(build, "media_id long, kind string, payload binary")
    return M.decode_media(media).select("media_id", "kind", "duration_ms")


M_MP3_SQL = """
SELECT vec_id AS media_id,
       'audio' AS kind,
       CAST(((20 + vec_id % 17) * 1152 * 1000)
            // (CASE vec_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)
            AS INT) AS duration_ms
FROM embeddings
"""


def m_media_h264(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated H.264 metadata decode: build structurally-valid
    baseline-profile Annex-B streams per vec_id (SPS geometry with
    exact 4:2:0 cropping for non-MB-multiple dims, PPS, IDR slice
    NALs) and decode through the REAL engine path (``decode_media`` →
    ``_decode_payload`` → SPS walk, functions/h264.py). The oracle
    states the closed form for the cropped dims. Pixel reconstruction
    stays behind the codec boundary; profile/level/frame-count
    extraction is pinned in tests/test_h264.py."""
    ids = _spread_ids(
        _t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("media_id")),
        sf_dir,
    )

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sync_spark.functions.h264 import h264_payload

        for pdf in it:
            rows = {"media_id": [], "kind": [], "payload": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows["media_id"].append(mid)
                rows["kind"].append("video")
                rows["payload"].append(
                    h264_payload(
                        mid,
                        width=18 + (mid % 24) * 2,
                        height=12 + (mid % 17) * 2,
                        n_frames=1 + mid % 4,
                    )
                )
            yield pd.DataFrame(rows)

    media = ids.mapInPandas(build, "media_id long, kind string, payload binary")
    return M.decode_media(media).select("media_id", "kind", "width", "height")


M_H264_SQL = """
SELECT vec_id AS media_id,
       'video' AS kind,
       CAST(18 + (vec_id % 24) * 2 AS INT) AS width,
       CAST(12 + (vec_id % 17) * 2 AS INT) AS height
FROM embeddings
"""
