"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side mechanics are real and tested — schema convention,
Arrow-batched mapInPandas pipelines, partition sizing. Decoding is
REAL wherever the codec needs nothing beyond the standard library:
container-header metadata for PNG/BMP/GIF/JPEG/WAV/ISO-BMFF, and full
pixel/sample decode for uncompressed 24-bit BMP, PNG of every 8-bit
color type (zlib IDAT + scanline unfilter + PLTE), GIF (pure-Python
LZW), baseline greyscale JPEG (canonical Huffman entropy decode +
float IDCT), and 16-bit PCM WAV (see the "real pixel / sample
decoding" and "baseline JPEG" sections), plus G.711 A-law/mu-law
companded WAV expansion and MJPEG-in-AVI video frame sampling (each
frame is a standalone JPEG; the RIFF walk + JPEG decoder compose).
Progressive JPEG (SOF2: spectral selection + successive approximation
with EOBn runs — what libjpeg/browsers emit for most web JPEGs) is
also decoded in-repo. Only the codecs that genuinely require external
libraries (modern compressed audio, inter-coded video like H.264)
remain stubbed behind ``NotImplementedError`` with a deterministic
fake for the feature-extraction path.

Schema convention for a multimodal table:
    id BIGINT, media BINARY, media_type STRING,
    meta STRUCT<width INT, height INT, duration_ms INT, codec STRING>

Scale notes:
  * media bytes never leave the executor JVM except through Arrow
    batches into the pandas workers (mapInPandas) — no driver collect;
  * batch size is controlled by spark.sql.execution.arrow.maxRecordsPerBatch,
    which matters when rows are MBs: set it so batch_bytes ≈ 64 MB;
  * decode/extract output is a narrow numeric/feature frame — project
    away the binary column as early as possible so downstream stages
    shuffle features, not media.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("media", T.BinaryType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ])),
])

FEATURE_DIM = 8


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Fan a SMALL input out across the cluster before heavyweight
    per-row Python codec work (guide §4.2/§6.1).

    The scan planner sizes tasks by INPUT bytes (maxPartitionBytes),
    but an opaque mapInPandas hides its compute cost from that math: a
    few-hundred-KB single-file table plans ONE task, and the entire
    synthesize -> decode codec pipeline chained on top of it runs
    serially on one core while the rest of the cluster idles (measured
    r16: every multimodal lane's 8-core/32-core bench ratio was ~1.0
    because the sf0.1 documents table is one 584 KB file — the codec
    never parallelized at all).

    Byte-bounded, width-independent gate: only an input whose Catalyst
    size estimate fits inside ONE scan split (maxPartitionBytes) is
    round-robin repartitioned to the cluster's core count
    (defaultParallelism). A real at-scale corpus plans thousands of
    scan tasks and passes through untouched — no exchange is ever
    added to a large input, and the shuffled bytes in the small case
    are by definition under one split.

    Applied ONLY in the synthesizers whose per-row Python cost
    dominates (the bit-serial JPEG/FLAC/Y4M encoder pipelines): the
    exchange + extra AQE stage costs ~0.5-0.8 s fixed locally, which
    the interleaved A/B (bench_ab_mm_fanout.json) showed REGRESSES
    microsecond-per-row lanes (header parses, numpy sample decodes:
    gif 1.43x, adpcm 1.53x, headers 2.4x) while the heavy codec lanes
    gain 2.2-4.7x (mjpeg 0.211, progressive 0.295, jpeg 0.442, flac
    0.447). The rule is cost-per-row, not data size, so it holds at
    any width."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:
        return df  # estimate unavailable: change nothing
    spark = df.sparkSession
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        split_bytes = _parse_bytes(raw)
    except ValueError:
        split_bytes = 128 * 1024 * 1024
    if est >= split_bytes:
        return df
    # Width cap (r17 session 2, measured): every Python task pays a
    # fixed boundary setup (~25 ms warm), and a COLD worker pays
    # fork + import — and Spark's PythonWorkerFactory hard-kills
    # workers idle >1 min (IDLE_WORKER_TIMEOUT_NS, not configurable),
    # so in any run where heavy Python stages are minutes apart the
    # pool is ALWAYS cold and a width-32 fan-out re-pays a 32-64
    # worker spawn storm every time (measured 5-25 s; 16-52 s under
    # host load — worse than the serial shape it replaced). With
    # W ≈ seconds of codec work and c ≈ per-task setup, runtime is
    # W/k + c*k, optimal near k = sqrt(W/c) ≈ 8 for these lanes; the
    # cap costs at most (k/defaultParallelism) of the ideal speedup on
    # a sub-split input while bounding the spawn storm at any width.
    target = min(spark.sparkContext.defaultParallelism, 8)
    return df.repartition(target)


def _parse_bytes(v: str) -> int:
    """Spark size-conf string -> bytes ('134217728', '128m', '1g')."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3),
                   ("t", 1024**4)):
        if s.endswith(suf + "b"):
            s, mult = s[:-2], m
            break
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    if s.endswith("b"):
        s = s[:-1]
    return int(s) * mult

FEATURE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def parse_image_header(data: bytes) -> tuple[str, int, int] | None:
    """Container-header dimensions without any pixel codec: (format,
    width, height) for PNG / BMP / GIF / JPEG, or None when the bytes
    match no known container. Pure byte-offset arithmetic (PNG IHDR
    big-endian u32s; BMP BITMAPINFOHEADER little-endian i32s, negative
    height = top-down DIB; GIF logical-screen little-endian u16s; JPEG
    marker walk to the first SOF segment) — this is the REAL metadata
    half of image decode; only pixel decoding still needs PIL/opencv."""
    if data is None or len(data) < 10:
        return None
    if (data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24
            and data[12:16] == b"IHDR"):
        return ("png", int.from_bytes(data[16:20], "big"),
                int.from_bytes(data[20:24], "big"))
    if data[:2] == b"BM" and len(data) >= 22:
        # DIB header size at offset 14 picks the layout: 12 =
        # BITMAPCOREHEADER (OS/2) with u16 dims at 18/20; larger
        # (40=INFO, 108/124=V4/V5) carry i32 dims at 18/22. Reading
        # i32s unconditionally would silently return garbage dims for
        # core-header files instead of their real (small) values.
        dib = int.from_bytes(data[14:18], "little")
        if dib == 12:
            return ("bmp", int.from_bytes(data[18:20], "little"),
                    int.from_bytes(data[20:22], "little"))
        if len(data) >= 26:
            w = int.from_bytes(data[18:22], "little", signed=True)
            h = int.from_bytes(data[22:26], "little", signed=True)
            return ("bmp", w, abs(h))
        return None
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return ("gif", int.from_bytes(data[6:8], "little"),
                int.from_bytes(data[8:10], "little"))
    if data[:2] == b"\xff\xd8":
        i = 2
        # dims live at data[i+5:i+9], so a SOF whose width field ends
        # exactly at the buffer end (i + 9 == len) must still parse —
        # header-only prefixes are the normal input here
        while i + 9 <= len(data):
            if data[i] != 0xFF:
                return None
            marker = data[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            seg = int.from_bytes(data[i + 2:i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return ("jpeg", int.from_bytes(data[i + 7:i + 9], "big"),
                        int.from_bytes(data[i + 5:i + 7], "big"))
            i += 2 + seg
    return None


# JVM-codegen integer->bytes encoders for container synthesis: hex/
# unhex/shift column expressions, so byte assembly runs distributed in
# whole-stage codegen — no Python on the encode side.

def be32(c):
    return F.unhex(F.lpad(F.hex(c), 8, "0"))


def _byte_at(c, shift):
    return F.unhex(F.lpad(
        F.hex(F.shiftright(c, shift).bitwiseAND(F.lit(255))), 2, "0"))


def le16(c):
    return F.concat(_byte_at(c, 0), _byte_at(c, 8))


def le32(c):
    return F.concat(_byte_at(c, 0), _byte_at(c, 8),
                    _byte_at(c, 16), _byte_at(c, 24))


HEADER_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def image_header_metadata(df: DataFrame) -> DataFrame:
    """media binary -> (id, format, width, height) via Arrow-batched
    mapInPandas over parse_image_header — the non-fake metadata path:
    real dimensions from real container bytes, no image library.
    Unrecognized payloads yield null metadata rather than failing the
    batch. The binary column is projected away in the output, so
    downstream stages shuffle 16-byte rows, not media."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hdrs = [parse_image_header(bytes(b)) if b is not None else None
                    for b in pdf["media"]]
            yield pd.DataFrame({
                "id": pdf["id"],
                "format": [h[0] if h else None for h in hdrs],
                "width": pd.array([h[1] if h else None for h in hdrs],
                                  dtype="Int32"),
                "height": pd.array([h[2] if h else None for h in hdrs],
                                   dtype="Int32"),
            })

    return df.select("id", "media").mapInPandas(run, schema=HEADER_SCHEMA)


def synthesize_image_table(documents: DataFrame) -> DataFrame:
    """Real container bytes from the documents table: even doc_ids get
    a PNG (signature + IHDR, big-endian u32 dims; CRCs zeroed —
    parse-valid, not render-valid), odd doc_ids a GIF89a logical
    screen (little-endian u16 dims). Dimensions derive from the text
    length so an oracle can recompute them arithmetically without a
    parser. Byte assembly is all JVM-side concat/unhex codegen — the
    table synthesizes distributed, no Python in this half."""
    w = (F.length("text") % F.lit(1920) + F.lit(1)).cast("long")
    h = (F.length("text") % F.lit(1080) + F.lit(1)).cast("long")
    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR"),
        be32(w), be32(h),
        F.lit(b"\x08\x06\x00\x00\x00" + b"\x00\x00\x00\x00"))
    gif = F.concat(F.lit(b"GIF89a"), le16(w), le16(h), F.lit(b"\x00\x00\x00"))
    return documents.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 2 == 0, png).otherwise(gif).alias("media"))


AUDIO_HEADER_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
])


def audio_header_metadata(df: DataFrame) -> DataFrame:
    """media binary -> (id, format, channels, sample_rate, duration_ms)
    via Arrow-batched mapInPandas over parse_audio_header — same
    shape/contract as image_header_metadata: real metadata from real
    container bytes, nulls for unrecognized payloads, media projected
    away in the output."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hdrs = [parse_audio_header(bytes(b)) if b is not None else None
                    for b in pdf["media"]]
            yield pd.DataFrame({
                "id": pdf["id"],
                "format": [h[0] if h else None for h in hdrs],
                "channels": pd.array([h[1] if h else None for h in hdrs],
                                     dtype="Int32"),
                "sample_rate": pd.array([h[2] if h else None for h in hdrs],
                                        dtype="Int32"),
                "duration_ms": pd.array([h[3] if h else None for h in hdrs],
                                        dtype="Int64"),
            })

    return df.select("id", "media").mapInPandas(run, schema=AUDIO_HEADER_SCHEMA)


def synthesize_audio_table(documents: DataFrame) -> DataFrame:
    """Parse-valid PCM WAV headers from the documents table (samples
    zeroed, not played): channels from doc_id parity, sample rate from
    n-chars, data size = one 16-bit frame per character. All container
    fields derive from document columns arithmetically so an oracle
    recomputes the parsed metadata without a parser. JVM-codegen byte
    assembly, like synthesize_image_table."""
    ch = (F.col("doc_id") % F.lit(2) + F.lit(1)).cast("long")
    rate = (F.lit(8000) + (F.length("text") % F.lit(8)) * F.lit(1000)) \
        .cast("long")
    block = ch * F.lit(2)                       # 16-bit PCM
    byte_rate = rate * block
    data_size = (F.length("text").cast("long") * block)
    riff_size = data_size + F.lit(36)           # 4 + (8+16) + 8
    return documents.select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit(b"RIFF"), le32(riff_size), F.lit(b"WAVE"),
            F.lit(b"fmt \x10\x00\x00\x00\x01\x00"),  # fmt size 16, PCM
            le16(ch), le32(rate), le32(byte_rate), le16(block),
            F.lit(b"\x10\x00"),                      # 16 bits/sample
            F.lit(b"data"), le32(data_size),
            # payload intentionally omitted: the parser reads the chunk
            # SIZE field, and a truncated final chunk is tolerated by
            # the walker — keeps the synthesized table bytes-small
        ).alias("media"))


def parse_audio_header(data: bytes) -> tuple[str, int, int, int] | None:
    """WAV/RIFF container header: (format, channels, sample_rate_hz,
    duration_ms) by walking the chunk list to 'fmt ' (PCM layout:
    little-endian u16 channels, u32 sample rate, u32 byte rate) and
    'data' (duration = data_size * 1000 // byte_rate). Pure byte
    arithmetic — the metadata half of audio decode; only sample
    decoding needs soundfile/librosa. FLAC streams report from
    STREAMINFO (duration = total_samples * 1000 // rate). None for
    unknown containers."""
    if data is not None and data[:4] == b"fLaC" and len(data) >= 42 \
            and data[4] & 0x7F == 0:  # STREAMINFO must be first, per spec
        info = data[8:42]
        rate = int.from_bytes(info[10:13], "big") >> 4
        channels = ((info[12] >> 1) & 0x07) + 1
        total = ((info[13] & 0x0F) << 32) \
            | int.from_bytes(info[14:18], "big")
        if not rate:
            return None
        return ("flac", channels, rate, total * 1000 // rate)
    if data is None or len(data) < 12 or data[:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        return None
    channels = rate = byte_rate = None
    data_size = None
    i = 12
    while i + 8 <= len(data):
        cid = data[i:i + 4]
        size = int.from_bytes(data[i + 4:i + 8], "little")
        body = data[i + 8:i + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            byte_rate = int.from_bytes(body[8:12], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if channels is None or not rate or not byte_rate:
        return None
    dur_ms = (data_size or 0) * 1000 // byte_rate
    return ("wav", channels, rate, dur_ms)


VIDEO_HEADER_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
])

# ISO-BMFF unity transform matrix (mvhd/tkhd): fixed-point 1.0 diag
_UNITY_MATRIX = (b"\x00\x01\x00\x00" + b"\x00" * 8
                 + b"\x00" * 4 + b"\x00\x01\x00\x00" + b"\x00" * 4
                 + b"\x00" * 8 + b"\x40\x00\x00\x00")


def _walk_boxes(data: bytes, i: int, end: int):
    """Yield (type, body_start, box_end) over an ISO-BMFF box list."""
    while i + 8 <= end:
        size = int.from_bytes(data[i:i + 4], "big")
        if size < 8 or i + size > end:
            return
        yield data[i + 4:i + 8], i + 8, i + size
        i += size


def parse_video_header(data: bytes) -> tuple[str, int, int, int] | None:
    """ISO-BMFF (MP4/MOV) container header: (format, width, height,
    duration_ms) by walking the box tree to moov/mvhd (timescale +
    duration; version 0 u32 and version 1 u64 layouts) and
    moov/trak/tkhd (16.16 fixed-point presentation dims, again both
    box versions). Pure byte-offset arithmetic like the image/audio
    parsers — the metadata half of video decode; only frame decoding
    needs ffmpeg. None for unknown containers."""
    if data is None or len(data) < 16 or data[4:8] != b"ftyp":
        return None
    timescale = duration = width = height = None
    for typ, b, e in _walk_boxes(data, 0, len(data)):
        if typ != b"moov":
            continue
        for t2, b2, e2 in _walk_boxes(data, b, e):
            if t2 == b"mvhd" and e2 - b2 >= 20:
                ver = data[b2]
                if ver == 0:
                    timescale = int.from_bytes(data[b2 + 12:b2 + 16], "big")
                    duration = int.from_bytes(data[b2 + 16:b2 + 20], "big")
                elif ver == 1 and e2 - b2 >= 32:
                    timescale = int.from_bytes(data[b2 + 20:b2 + 24], "big")
                    duration = int.from_bytes(data[b2 + 24:b2 + 32], "big")
            elif t2 == b"trak" and width is None:
                for t3, b3, e3 in _walk_boxes(data, b2, e2):
                    if t3 != b"tkhd":
                        continue
                    off = b3 + (76 if data[b3] == 0 else 88)
                    if off + 8 <= e3:
                        width = int.from_bytes(data[off:off + 4], "big") >> 16
                        height = int.from_bytes(
                            data[off + 4:off + 8], "big") >> 16
    if not timescale or duration is None or width is None:
        return None
    return ("mp4", width, height, duration * 1000 // timescale)


def video_header_metadata(df: DataFrame) -> DataFrame:
    """media binary -> (id, format, width, height, duration_ms) via
    Arrow-batched mapInPandas over parse_video_header — same contract
    as the image/audio metadata paths: real metadata from real
    container bytes, nulls for unrecognized payloads, media projected
    away so downstream stages shuffle narrow rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hdrs = [parse_video_header(bytes(b)) if b is not None else None
                    for b in pdf["media"]]
            yield pd.DataFrame({
                "id": pdf["id"],
                "format": [h[0] if h else None for h in hdrs],
                "width": pd.array([h[1] if h else None for h in hdrs],
                                  dtype="Int32"),
                "height": pd.array([h[2] if h else None for h in hdrs],
                                   dtype="Int32"),
                "duration_ms": pd.array([h[3] if h else None for h in hdrs],
                                        dtype="Int64"),
            })

    return df.select("id", "media").mapInPandas(run, schema=VIDEO_HEADER_SCHEMA)


def synthesize_video_table(documents: DataFrame) -> DataFrame:
    """Parse-valid ISO-BMFF containers from the documents table (no
    mdat — headers only): ftyp(isom) + moov[mvhd + trak[tkhd]] with
    every declared box size matching its emitted bytes, full version-0
    mvhd/tkhd layouts (unity matrices, zeroed times). Movie timescale
    varies with doc_id and tick duration with text length so an oracle
    recomputes duration_ms arithmetically; dims are 16.16 fixed-point
    as the spec requires. JVM-codegen byte assembly throughout."""
    ts = (F.lit(500) + F.col("doc_id") % F.lit(500)).cast("long")
    dur = (F.length("text").cast("long") * F.lit(25))
    w = (F.length("text") % F.lit(1280) + F.lit(1)).cast("long")
    h = (F.length("text") % F.lit(720) + F.lit(1)).cast("long")
    mvhd = F.concat(
        F.lit(b"\x00\x00\x00\x6cmvhd" + b"\x00" * 12),  # size 108, v0, times 0
        be32(ts), be32(dur),
        F.lit(b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10  # rate, volume
              + _UNITY_MATRIX + b"\x00" * 24 + b"\x00\x00\x00\x02"))
    tkhd = F.concat(
        F.lit(b"\x00\x00\x00\x5ctkhd" + b"\x00\x00\x00\x07"  # size 92, flags 7
              + b"\x00" * 8 + b"\x00\x00\x00\x01" + b"\x00" * 4),
        be32(dur),
        F.lit(b"\x00" * 16 + _UNITY_MATRIX),
        be32(w * F.lit(65536)), be32(h * F.lit(65536)))
    return documents.select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit(b"\x00\x00\x00\x10ftypisom" + b"\x00" * 4),
            F.lit(b"\x00\x00\x00\xd8moov"),      # 8 + 108 + 100
            mvhd,
            F.lit(b"\x00\x00\x00\x64trak"),      # 8 + 92
            tkhd,
        ).alias("media"))


def sample_frames(data: bytes, every_ms: int = 1000,
                  _lenient: bool = False) -> list[tuple[int, bytes]]:
    """Sample frames at a timestamp stride. REAL for MJPEG-in-AVI
    (every frame is a standalone JPEG; see the MJPEG section below):
    returns [(frame_idx, jpeg_bytes), ...] taking one frame per
    every_ms of timeline (avih usec_per_frame; falls back to every
    frame when timing is absent). Inter-coded codecs (H.264 & co)
    genuinely need ffmpeg and keep the stub; _lenient=True returns []
    instead of raising, for batch pipelines."""
    avi = parse_avi_mjpeg(data)
    if avi is None:
        if _lenient:
            return []
        raise NotImplementedError(
            "only MJPEG AVI decodes in-repo; other codecs require "
            "ffmpeg bindings; install and replace this stub")
    usec = avi["usec_per_frame"]
    if usec <= 0:
        stride = 1
    else:
        stride = max(1, round(every_ms * 1000 / usec))
    return [(i, f) for i, f in enumerate(avi["frames"]) if i % stride == 0]


def fake_features(data: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real feature extractor: dim doubles
    derived from the sha256 of the payload. Keeps the distributed
    pipeline (schema, batching, joins) fully testable."""
    h = hashlib.sha256(data).digest()
    return [int.from_bytes(h[4 * i: 4 * i + 4], "big") / 2**32 for i in range(dim)]


def real_features(data: bytes, dim: int = FEATURE_DIM) -> list[float] | None:
    """REAL media features from the in-repo codecs, no model: images
    (BMP/PNG/GIF/JPEG) -> [width, height, n_px, mean_r, mean_g,
    mean_b, 1, 0]; audio (PCM / G.711 WAV) -> [channels, sample_rate,
    n_samples, rms, peak, 0, 0, 1]. None when nothing decodes — an
    honest null, not a hash pretending to be a feature. Fixed layout
    so image and audio rows share one vector space for downstream
    similarity/dedup plumbing."""
    import math

    if data is None or len(data) < 4:
        return None
    if data[:1] == b"\x89" or data[:3] == b"GIF" or data[:2] == b"BM" \
            or data[:2] == b"\xff\xd8":
        d = (parse_png_pixels(data) if data[:1] == b"\x89"
             else parse_gif_pixels(data) if data[:3] == b"GIF"
             else parse_jpeg_pixels(data) if data[:2] == b"\xff\xd8"
             else parse_bmp_pixels(data))
        if d is None or not d["n_px"]:
            return None
        n = d["n_px"]
        out = [float(d["width"]), float(d["height"]), float(n),
               d["sum_r"] / n, d["sum_g"] / n, d["sum_b"] / n, 1.0, 0.0]
    elif data[:4] == b"RIFF" or data[:4] == b"fLaC":
        d = (parse_flac_samples(data) if data[:4] == b"fLaC"
             else parse_wav_samples(data))
        if d is None or not d["n_samples"]:
            return None
        out = [float(d["channels"]), float(d["sample_rate"]),
               float(d["n_samples"]),
               math.sqrt(d["sum_sq"] / d["n_samples"]),
               float(d["peak"]), 0.0, 0.0, 1.0]
    else:
        return None
    return out[:dim] + [0.0] * max(0, dim - len(out))


def extract_features(df: DataFrame, use_fake: bool = True) -> DataFrame:
    """media binary -> feature vectors via Arrow-batched mapInPandas.

    use_fake=True keeps the deterministic hash stand-in (for fixtures
    that are not real containers). use_fake=False runs REAL extraction
    through the in-repo codecs (real_features above): decoded pixel /
    sample statistics per payload, null for undecodable media. A
    learned-model embedding would slot into the same batch shape."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = fake_features if use_fake else real_features
        for pdf in batches:
            out = pd.DataFrame({
                "id": pdf["id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["media"].map(lambda b: len(b) if b is not None else 0).astype("int64"),
                "features": pdf["media"].map(
                    lambda b: fn(bytes(b)) if b is not None else None),
            })
            yield out

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


def synthesize_media_table(spark, documents: DataFrame, media_type: str = "image") -> DataFrame:
    """Build a multimodal fixture from the documents table: the text
    bytes stand in for media payloads with plausible metadata."""
    return documents.select(
        F.col("doc_id").alias("id"),
        F.encode(F.col("text"), "utf-8").alias("media"),
        F.lit(media_type).alias("media_type"),
        F.struct(
            (F.length("text") % 1920).cast("int").alias("width"),
            (F.length("text") % 1080).cast("int").alias("height"),
            (F.length("text") * 40).cast("int").alias("duration_ms"),
            F.lit("raw").alias("codec"),
        ).alias("meta"),
    )


# -- resize ------------------------------------------------------------------

def fake_resize(data: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a real resize: payload truncated/cycled
    to a size proportional to the target raster. Replace with a
    PIL decode + resize + re-encode in production."""
    target = max(1, (width * height) // 100)
    if not data:
        data = b"\x00"
    reps = (target // len(data)) + 1
    return (data * reps)[:target]


def resize_media(df: DataFrame, width: int, height: int,
                 real: bool = False) -> DataFrame:
    """Distributed media resize: mapInPandas batch pipeline that rewrites
    the media payload and patches meta.width/height. Output keeps the
    MEDIA_SCHEMA convention so resize composes with extract_features.

    real=True routes decodable images (BMP/PNG/GIF) through the
    in-repo codecs: decode raster -> nearest-neighbor resample ->
    re-encode 24-bit BMP (resize_image_real below); payloads with no
    raster decode come back null rather than silently fake-resized.
    The default stays the deterministic fake for fixtures that are not
    real containers."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pd.DataFrame({
                "width": [width] * len(pdf), "height": [height] * len(pdf),
                "duration_ms": [m["duration_ms"] if m else None for m in pdf["meta"]],
                "codec": [m["codec"] if m else None for m in pdf["meta"]],
            })
            if real:
                media = pdf["media"].map(
                    lambda b: resize_image_real(bytes(b), width, height)
                    if b is not None else None)
            else:
                media = pdf["media"].map(
                    lambda b: fake_resize(bytes(b), width, height)
                    if b is not None else None)
            yield pd.DataFrame({
                "id": pdf["id"],
                "media": media,
                "media_type": pdf["media_type"],
                "meta": meta.to_dict("records"),
            })

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


# -- frame sampling ----------------------------------------------------------

FRAME_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("ts_ms", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
])


def fake_frame(data: bytes, idx: int, n_frames: int) -> bytes:
    """Deterministic frame stand-in: the idx-th of n equal payload slices."""
    if not data:
        return b""
    step = max(1, len(data) // max(n_frames, 1))
    return data[idx * step:(idx + 1) * step] or data[-step:]


def sample_media_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """One row per sampled frame: the 1->N mapInPandas shape for video.

    Frame count comes from meta.duration_ms / every_ms; output is
    (id, frame_idx, ts_ms, frame) — the binary column is per-frame, so
    downstream per-frame feature extraction parallelizes past the
    per-video row boundary. This duration-sliced fake keeps synthetic
    fixtures cheap; real MJPEG AVIs go through sample_frames /
    mjpeg_frame_stats_fused, and inter-coded codecs would swap in ffmpeg
    seeking with the same output shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # column-wise zip, not iterrows: iterrows builds a Series
            # per row (by far the slowest pandas iteration form); the
            # 1->N explode itself is per-cell work either way
            ids, idxs, tss, frames = [], [], [], []
            for rid, media, meta in zip(pdf["id"], pdf["media"], pdf["meta"]):
                raw = meta.get("duration_ms") if meta else None
                # NaN-safe coercion: Arrow hands a struct int field with
                # NULLs to pandas as float NaN, and NaN is truthy — the
                # old `or 0` let it through and `[rid] * n` threw
                duration = int(raw) if raw is not None and raw == raw else 0
                n = max(1, duration // every_ms)
                data = bytes(media) if media is not None else b""
                ids.extend([rid] * n)
                idxs.extend(range(n))
                tss.extend(range(0, n * every_ms, every_ms))
                frames.extend(fake_frame(data, i, n) for i in range(n))
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "ts_ms": tss, "frame": frames})

    return df.mapInPandas(run, schema=FRAME_SCHEMA)


# -- PNG tEXt metadata chunks --------------------------------------------------

def parse_png_text_chunks(data: bytes) -> list[tuple[str, str]]:
    """Walk a PNG's chunk list and return its tEXt key/value pairs —
    the embedded-metadata path (author/source/copyright tags) real
    intake pipelines mine before any pixel work. Pure-Python chunk
    walk: length(BE32) + type(4) + data + crc(4), starting after the
    8-byte signature; stops cleanly on truncated or non-PNG input."""
    out: list[tuple[str, str]] = []
    if len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return out
    i = 8
    while i + 8 <= len(data):
        clen = int.from_bytes(data[i:i + 4], "big")
        ctype = data[i + 4:i + 8]
        if i + 8 + clen > len(data):  # truncated payload: stop
            break
        if ctype == b"tEXt":
            body = data[i + 8:i + 8 + clen]
            if b"\x00" in body:
                k, v = body.split(b"\x00", 1)
                try:
                    out.append((k.decode("latin-1"), v.decode("latin-1")))
                except UnicodeDecodeError:
                    pass
        i += 8 + clen + 4
    return out


TEXT_CHUNK_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("key", T.StringType()),
    T.StructField("value", T.StringType()),
])


def image_text_chunks(df: DataFrame) -> DataFrame:
    """media binary -> one row per embedded tEXt (id, key, value) via
    Arrow-batched mapInPandas over parse_png_text_chunks; images
    without tEXt contribute no rows. Same contract as the other
    header parsers: real metadata from real container bytes, media
    projected away before any shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, keys, vals = [], [], []
            for i, b in zip(pdf["id"], pdf["media"]):
                if b is None:
                    continue
                for k, v in parse_png_text_chunks(bytes(b)):
                    ids.append(i)
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                                "key": keys, "value": vals})

    return df.select("id", "media").mapInPandas(run, schema=TEXT_CHUNK_SCHEMA)


def synthesize_png_with_text(documents: DataFrame) -> DataFrame:
    """PNGs carrying a tEXt chunk ('src' -> 'doc<doc_id>'): signature +
    IHDR (dims from text length, as synthesize_image_table) + tEXt
    (length-prefixed, zeroed CRC — parse-valid). Byte assembly stays
    JVM-side codegen: the string payload casts to binary and its
    length feeds the BE32 chunk-length field, so synthesis runs
    distributed with no Python."""
    w = (F.length("text") % F.lit(1920) + F.lit(1)).cast("long")
    h = (F.length("text") % F.lit(1080) + F.lit(1)).cast("long")
    payload = F.concat(
        F.lit(b"src\x00"),
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).cast("binary"))
    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR"),
        be32(w), be32(h),
        F.lit(b"\x08\x06\x00\x00\x00" + b"\x00\x00\x00\x00"),
        be32(F.length(payload).cast("long")),
        F.lit(b"tEXt"), payload, F.lit(b"\x00\x00\x00\x00"))
    return documents.select(F.col("doc_id").alias("id"), png.alias("media"))


# -- real pixel / sample decoding (round 6) -----------------------------------
#
# The header layer above is the metadata half of media decode; this
# section is the DATA half for the formats whose codecs need nothing
# beyond the standard library: uncompressed 24-bit BMP (raw BGR rows),
# PNG truecolor/truecolor-alpha (zlib IDAT inflate + the five scanline
# filters, PNG spec §9), and 16-bit PCM WAV (raw little-endian
# samples). JPEG/GIF pixel decode and compressed-audio codecs still
# need PIL/soundfile and keep their declared stubs. Decode runs
# Arrow-batched in mapInPandas (the Python-side slow path by nature —
# a real cluster swaps in a library here, same frame contract), and
# each decoder reports EXACT integer aggregates (sums, not means) so
# results are engine-portable and oracle-checkable.

def parse_bmp_pixels(data: bytes) -> dict | None:
    """Decode an uncompressed 24-bit BITMAPINFOHEADER BMP to exact
    per-channel pixel sums: {width, height, n_px, sum_r, sum_g,
    sum_b}. Rows are bottom-up (positive height) or top-down
    (negative), 4-byte padded, pixels little-endian BGR. Sums are
    orientation-invariant so both layouts share one path. None for
    non-BMP, other bit depths, or compressed variants."""
    if data is None or len(data) < 54 or data[:2] != b"BM":
        return None
    if int.from_bytes(data[14:18], "little") != 40:  # BITMAPINFOHEADER
        return None
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    height = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    if off + row_bytes * height > len(data):
        return None
    sum_r = sum_g = sum_b = 0
    for y in range(height):
        row = data[off + y * row_bytes: off + y * row_bytes + w * 3]
        sum_b += sum(row[0::3])
        sum_g += sum(row[1::3])
        sum_r += sum(row[2::3])
    return {"width": w, "height": height, "n_px": w * height,
            "sum_r": sum_r, "sum_g": sum_g, "sum_b": sum_b}


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse the PNG scanline filters (spec §9: None/Sub/Up/Average/
    Paeth). raw = inflated IDAT: height rows of 1 filter byte +
    width*bpp sample bytes. Sequential by construction — each byte
    depends on left/up/up-left neighbours."""
    import numpy as np

    stride = width * bpp
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        row_start = y * stride
        prev_start = row_start - stride
        # whole-row vector paths for the filters with no intra-row
        # nonlinearity (None; Up; Sub as a per-lane mod-256 prefix
        # sum). Average/Paeth mix left+up through clamps/compares and
        # stay on the per-byte loop. Byte-exact either way.
        if ftype == 0:
            out[row_start:row_start + stride] = raw[pos:pos + stride]
            pos += stride
            continue
        if ftype == 2 and y > 0:
            v = np.frombuffer(raw[pos:pos + stride], np.uint8)
            p = np.frombuffer(bytes(out[prev_start:row_start]), np.uint8)
            out[row_start:row_start + stride] = (v + p).tobytes()
            pos += stride
            continue
        if ftype == 1 and stride % bpp == 0:
            v = np.frombuffer(raw[pos:pos + stride], np.uint8) \
                .astype(np.int64).reshape(-1, bpp)
            r = (np.cumsum(v, axis=0) & 0xFF).astype(np.uint8)
            out[row_start:row_start + stride] = r.tobytes()
            pos += stride
            continue
        for x in range(stride):
            v = raw[pos + x]
            a = out[row_start + x - bpp] if x >= bpp else 0
            b = out[prev_start + x] if y > 0 else 0
            if ftype == 0:
                r = v
            elif ftype == 1:
                r = v + a
            elif ftype == 2:
                r = v + b
            elif ftype == 3:
                r = v + ((a + b) >> 1)
            elif ftype == 4:
                c = out[prev_start + x - bpp] if (y > 0 and x >= bpp) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    r = v + a
                elif pb <= pc:
                    r = v + b
                else:
                    r = v + c
            else:
                raise ValueError(f"unknown PNG filter {ftype}")
            out[row_start + x] = r & 0xFF
        pos += stride
    return out


_ADAM7 = [(0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
          (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2)]


def _png_scanlines(raw: bytes, w: int, h: int, bpp: int,
                   interlace: int) -> bytearray | None:
    """Inflated IDAT -> unfiltered pixel bytes in raster order, for
    both layouts: sequential (one filtered image) and Adam7
    (interlace=1: SEVEN concatenated sub-images, each filtered
    independently against its own pass geometry, scattered back by
    the spec's (x0, dx, y0, dy) grids). None on any length mismatch
    or unknown filter byte — total by contract."""
    if interlace == 0:
        if len(raw) != h * (1 + w * bpp):
            return None
        try:
            return _png_unfilter(raw, w, h, bpp)
        except ValueError:
            return None
    out = bytearray(h * w * bpp)
    pos = 0
    for x0, dx, y0, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        need = ph * (1 + pw * bpp)
        sub = raw[pos:pos + need]
        if len(sub) != need:
            return None
        pos += need
        try:
            up = _png_unfilter(sub, pw, ph, bpp)
        except ValueError:
            return None
        for py in range(ph):
            base = y0 + py * dy
            for pxi in range(pw):
                src = (py * pw + pxi) * bpp
                dst = (base * w + x0 + pxi * dx) * bpp
                out[dst:dst + bpp] = up[src:src + bpp]
    if pos != len(raw):
        return None
    return out


def parse_png_pixels(data: bytes) -> dict | None:
    """Decode an 8-bit PNG (sequential or Adam7-interlaced) of any
    color type —
    greyscale (0), truecolor (2), palette (3, via PLTE lookup),
    grey+alpha (4), truecolor+alpha (6) — to exact per-channel sums:
    {width, height, n_px, sum_r, sum_g, sum_b}; greyscale reports the
    grey sum on all three channels. IDAT chunks concatenate into one
    zlib stream (stdlib inflate), then the five scanline filters
    reverse per the spec (per Adam7 pass for interlaced files).
    Sub-byte bit depths return None."""
    import zlib

    if data is None or len(data) < 45 or data[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    if data[12:16] != b"IHDR":
        return None
    w = int.from_bytes(data[16:20], "big")
    h = int.from_bytes(data[20:24], "big")
    bit_depth, color_type, interlace = data[24], data[25], data[28]
    # 8-bit greyscale (0), truecolor (2), palette (3), grey+alpha (4),
    # truecolor+alpha (6); sub-byte depths and interlace stay out
    if bit_depth != 8 or color_type not in (0, 2, 3, 4, 6) \
            or interlace not in (0, 1):
        return None
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    idat = bytearray()
    plte = None
    i = 8
    while i + 8 <= len(data):
        size = int.from_bytes(data[i:i + 4], "big")
        ctype = data[i + 4:i + 8]
        if ctype == b"IDAT":
            idat += data[i + 8:i + 8 + size]
        elif ctype == b"PLTE":
            plte = data[i + 8:i + 8 + size]
        if ctype == b"IEND":
            break
        i += 12 + size  # length + type + payload + CRC
    if not idat or (color_type == 3 and not plte):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    px = _png_scanlines(raw, w, h, bpp, interlace)
    if px is None:
        return None
    if color_type in (0, 4):  # greyscale: every channel is the grey
        s = sum(px[0::bpp])
        sum_r = sum_g = sum_b = s
    elif color_type == 3:
        try:
            sum_r = sum(plte[3 * k] for k in px)
            sum_g = sum(plte[3 * k + 1] for k in px)
            sum_b = sum(plte[3 * k + 2] for k in px)
        except IndexError:
            return None  # palette index out of range: corrupt
    else:
        sum_r = sum(px[0::bpp])
        sum_g = sum(px[1::bpp])
        sum_b = sum(px[2::bpp])
    return {"width": w, "height": h, "n_px": w * h,
            "sum_r": sum_r, "sum_g": sum_g, "sum_b": sum_b}


def _alaw_to_linear(a: int) -> int:
    """ITU-T G.711 A-law byte -> 13-bit linear sample (sign-magnitude
    expansion; even bits are inverted on the wire per the spec)."""
    a ^= 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    if exp == 0:
        v = (mant << 4) + 8
    else:
        v = ((mant << 4) + 0x108) << (exp - 1)
    # A-law's sign convention is the reverse of mu-law's: the sign bit
    # SET means positive (0xD5, the silence byte, decodes to +8)
    return v if sign else -v


def _ulaw_to_linear(u: int) -> int:
    """ITU-T G.711 mu-law byte -> 14-bit linear sample (the byte is
    stored complemented; bias 0x84 folds back out after the shift)."""
    u = ~u & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    v = (((mant << 3) + 0x84) << exp) - 0x84
    return -v if sign else v


_G711_LUTS = None


def parse_wav_samples(data: bytes) -> dict | None:
    """Decode WAV samples to exact integer aggregates: {channels,
    sample_rate, n_samples, sum_sq, peak} (n_samples counts frames x
    channels; peak = max |sample|; sum_sq is the integer energy —
    callers derive RMS). Handles format tag 1 PCM at every common
    width — 8-bit (unsigned, offset-128 per the spec), 16-, 24- and
    32-bit signed little-endian — the G.711 companded encodings:
    tag 6 (A-law) and tag 7 (mu-law), expanded by the spec's
    pure-arithmetic tables, and tag 0x11 (mono IMA ADPCM, delegated
    to parse_ima_adpcm_samples). Other encodings return
    None. 32-bit energy accumulates in Python ints
    (s^2 reaches 2^62; a numpy int64 sum could wrap); 24-bit sums
    int64 chunk partials into a Python int (s^2 reaches 2^46, so a
    flat int64 sum wraps after ~2^17 full-scale samples — each
    65536-sample chunk is bounded by 2^62); 8/16-bit stay in one
    vectorized int64 sum (bounded by n * 2^30 < 2^63 for any
    physically possible n)."""
    if data is None or len(data) < 12 or data[:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        return None
    channels = rate = None
    fmt_tag = bits = None
    body = None
    i = 12
    while i + 8 <= len(data):
        cid = data[i:i + 4]
        size = int.from_bytes(data[i + 4:i + 8], "little")
        chunk = data[i + 8:i + 8 + size]
        if cid == b"fmt " and len(chunk) >= 16:
            fmt_tag = int.from_bytes(chunk[0:2], "little")
            channels = int.from_bytes(chunk[2:4], "little")
            rate = int.from_bytes(chunk[4:8], "little")
            bits = int.from_bytes(chunk[14:16], "little")
        elif cid == b"data":
            body = chunk
        i += 8 + size + (size & 1)
    if not channels or not rate or body is None:
        return None
    if fmt_tag == 0x11:
        return parse_ima_adpcm_samples(data)
    if fmt_tag in (6, 7) and bits == 8:
        import numpy as np

        # one-byte codes expand through a 256-entry table — built once
        # from the scalar spec functions, applied as a vectorized take
        global _G711_LUTS
        if _G711_LUTS is None:
            _G711_LUTS = {
                6: np.asarray([_alaw_to_linear(i) for i in range(256)],
                              dtype=np.int64),
                7: np.asarray([_ulaw_to_linear(i) for i in range(256)],
                              dtype=np.int64),
            }
        s = _G711_LUTS[fmt_tag][np.frombuffer(body, np.uint8)]
        sum_sq = int((s * s).sum(dtype=np.int64)) if len(s) else 0
        peak = int(np.abs(s).max()) if len(s) else 0
        return {"channels": channels, "sample_rate": rate,
                "n_samples": len(body), "sum_sq": sum_sq, "peak": peak}
    if fmt_tag != 1 or bits not in (8, 16, 24, 32):
        return None
    import numpy as np

    width = bits // 8
    n = len(body) // width
    body = body[:n * width]
    if bits == 8:
        s = np.frombuffer(body, np.uint8).astype(np.int64) - 128
    elif bits == 16:
        s = np.frombuffer(body, "<i2").astype(np.int64)
    elif bits == 24:
        b = np.frombuffer(body, np.uint8).reshape(n, 3).astype(np.int64)
        s = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        s -= (s >> 23) << 24  # sign-extend bit 23
    else:
        s = np.frombuffer(body, "<i4").astype(np.int64)
    if n == 0:
        sum_sq, peak = 0, 0
    elif bits == 32:
        sum_sq = sum(int(v) * int(v) for v in s)
        peak = int(np.abs(s).max())
    elif bits == 24:
        # s^2 reaches 2^46, so a flat int64 sum wraps after ~2^17
        # full-scale samples; 65536-sample chunk partials are each
        # bounded by 2^62 and accumulate exactly in a Python int
        sum_sq = 0
        for i in range(0, n, 65536):
            c = s[i:i + 65536]
            sum_sq += int((c * c).sum(dtype=np.int64))
        peak = int(np.abs(s).max())
    else:
        sum_sq = int((s * s).sum(dtype=np.int64))
        peak = int(np.abs(s).max())
    return {"channels": channels, "sample_rate": rate, "n_samples": n,
            "sum_sq": sum_sq, "peak": peak}


PIXEL_STATS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_px", T.LongType()),
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
])

SAMPLE_STATS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("sum_sq", T.LongType()),
    T.StructField("peak", T.IntegerType()),
])


def decode_image_pixels(raw: bytes) -> dict | None:
    """Default pixel decoder: container-signature dispatch to the
    in-repo from-spec parsers (PNG zlib+unfilter, GIF LZW, JPEG
    entropy+IDCT, BMP raw rows). This is the `decoder` injection
    contract for image_pixel_stats: ``bytes -> {width, height, n_px,
    sum_r, sum_g, sum_b} | None``, TOTAL (value or None, never raise).
    On a real cluster a library decoder (Pillow/OpenCV) swaps in behind
    the same contract — the Spark plumbing (scan, Arrow batching,
    schema, media projected away before any shuffle) is identical."""
    if raw[:1] == b"\x89":
        return parse_png_pixels(raw)
    if raw[:3] == b"GIF":
        return parse_gif_pixels(raw)
    if raw[:2] == b"\xff\xd8":
        return parse_jpeg_pixels(raw)
    return parse_bmp_pixels(raw)


def image_pixel_stats(df: DataFrame, decoder=decode_image_pixels) -> DataFrame:
    """media binary -> exact per-channel pixel sums via Arrow-batched
    mapInPandas. Same contract as image_header_metadata: nulls for
    undecodable payloads, media projected away in the output so
    downstream shuffles stats rows, not pixels.

    `decoder` is the per-image decode callable (see
    decode_image_pixels for the contract); it is closed over into the
    mapInPandas function and shipped to executors, so any picklable
    total callable — including a library decoder — slots in without
    touching the plan shape."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _pixel_stats_batches(batches, decoder)

    return df.select("id", "media").mapInPandas(run, schema=PIXEL_STATS_SCHEMA)


def _pixel_stats_batches(batches: Iterator[pd.DataFrame],
                         decoder) -> Iterator[pd.DataFrame]:
    """The decode half of image_pixel_stats as a plain batch
    transformer, composable with a synthesizer's batch generator into
    ONE mapInPandas (see the *_fused lane builders)."""
    for pdf in batches:
        rows = [decoder(bytes(b)) if b is not None else None
                for b in pdf["media"]]
        yield pd.DataFrame({
            "id": pdf["id"],
            "width": pd.array([r["width"] if r else None for r in rows],
                              dtype="Int32"),
            "height": pd.array([r["height"] if r else None for r in rows],
                               dtype="Int32"),
            "n_px": pd.array([r["n_px"] if r else None for r in rows],
                             dtype="Int64"),
            "sum_r": pd.array([r["sum_r"] if r else None for r in rows],
                              dtype="Int64"),
            "sum_g": pd.array([r["sum_g"] if r else None for r in rows],
                              dtype="Int64"),
            "sum_b": pd.array([r["sum_b"] if r else None for r in rows],
                              dtype="Int64"),
        })


def audio_sample_stats(df: DataFrame) -> DataFrame:
    """media binary -> exact sample aggregates (energy, peak) via
    Arrow-batched mapInPandas: WAV family through parse_wav_samples,
    FLAC through parse_flac_samples."""

    return df.select("id", "media").mapInPandas(
        _sample_stats_batches, schema=SAMPLE_STATS_SCHEMA)


def _sample_stats_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The decode half of audio_sample_stats as a plain batch
    transformer, composable with a synthesizer's batch generator into
    ONE mapInPandas (see the *_fused lane builders)."""
    for pdf in batches:
        rows = [(parse_flac_samples(bytes(b))
                 if bytes(b)[:4] == b"fLaC"
                 else parse_wav_samples(bytes(b)))
                if b is not None else None
                for b in pdf["media"]]
        yield pd.DataFrame({
            "id": pdf["id"],
            "channels": pd.array(
                [r["channels"] if r else None for r in rows],
                dtype="Int32"),
            "sample_rate": pd.array(
                [r["sample_rate"] if r else None for r in rows],
                dtype="Int32"),
            "n_samples": pd.array(
                [r["n_samples"] if r else None for r in rows],
                dtype="Int64"),
            "sum_sq": pd.array(
                [r["sum_sq"] if r else None for r in rows],
                dtype="Int64"),
            "peak": pd.array(
                [r["peak"] if r else None for r in rows],
                dtype="Int32"),
        })


def synthesize_bmp_table(documents: DataFrame) -> DataFrame:
    """Decodable 24-bit BMPs from the documents table: solid-color
    images whose width/height/RGB derive arithmetically from document
    columns, so pixel sums have a closed form an oracle can recompute
    (sum_r = r * w * h). Byte assembly is JVM-codegen: the pixel row
    is hex-repeat + unhex (BGR order, rows padded to 4 bytes), headers
    are the le16/le32 builders. Dimensions stay small (w<=18, h<=9) —
    the fixture exercises the DECODER, volume comes from row count."""
    w = (F.col("doc_id") % F.lit(16) + F.lit(3)).cast("long")
    h = (F.col("doc_id") % F.lit(8) + F.lit(2)).cast("long")
    r = (F.col("doc_id") % F.lit(251)).cast("long")
    g = (F.length("text") % F.lit(253)).cast("long")
    b = ((F.col("doc_id") + F.length("text")) % F.lit(255)).cast("long")
    px_hex = F.concat(*[F.lpad(F.hex(c), 2, "0") for c in (b, g, r)])
    # row padding to 4 bytes; spelled with non-negative operands because
    # Spark's % follows the dividend's sign (pmod semantics needed here)
    pad = (F.lit(4) - (w * 3) % F.lit(4)) % F.lit(4)
    row_hex = F.concat(F.repeat(px_hex, w.cast("int")),
                       F.repeat(F.lit("00"), pad.cast("int")))
    rows_hex = F.repeat(row_hex, h.cast("int"))
    row_bytes = w * 3 + pad
    data_size = row_bytes * h
    file_size = data_size + F.lit(54)
    media = F.concat(
        F.lit(b"BM"), le32(file_size), F.lit(b"\x00\x00\x00\x00"),
        le32(F.lit(54).cast("long")),              # pixel data offset
        le32(F.lit(40).cast("long")),              # BITMAPINFOHEADER
        le32(w), le32(h),
        le16(F.lit(1).cast("long")),               # planes
        le16(F.lit(24).cast("long")),              # bpp
        le32(F.lit(0).cast("long")),               # BI_RGB
        le32(data_size),
        F.lit(b"\x00" * 16),                       # ppm + palette fields
        F.unhex(rows_hex))
    return documents.select(F.col("doc_id").alias("id"),
                            media.alias("media"))


def synthesize_pcm_wav_table(documents: DataFrame) -> DataFrame:
    """Decodable 16-bit PCM WAVs: every sample holds the same positive
    amplitude a derived from document columns, so the exact aggregates
    have closed forms (sum_sq = a^2 * n, peak = a). Same JVM-codegen
    hex-repeat assembly as synthesize_bmp_table."""
    ch = (F.col("doc_id") % F.lit(2) + F.lit(1)).cast("long")
    rate = (F.lit(8000) + (F.length("text") % F.lit(8)) * F.lit(1000)) \
        .cast("long")
    amp = (F.col("doc_id") % F.lit(30000) + F.lit(1)).cast("long")
    n_frames = (F.length("text") % F.lit(50) + F.lit(1)).cast("long")
    n_samples = n_frames * ch
    sample_hex = F.concat(
        F.lpad(F.hex(amp % 256), 2, "0"),
        F.lpad(F.hex(F.floor(amp / F.lit(256)).cast("long")), 2, "0"))
    data_hex = F.repeat(sample_hex, n_samples.cast("int"))
    block = ch * F.lit(2)
    byte_rate = rate * block
    data_size = n_samples * F.lit(2)
    riff_size = data_size + F.lit(36)
    media = F.concat(
        F.lit(b"RIFF"), le32(riff_size), F.lit(b"WAVE"),
        F.lit(b"fmt \x10\x00\x00\x00\x01\x00"),
        le16(ch), le32(rate), le32(byte_rate), le16(block),
        F.lit(b"\x10\x00"),
        F.lit(b"data"), le32(data_size), F.unhex(data_hex))
    return documents.select(F.col("doc_id").alias("id"),
                            media.alias("media"))


def synthesize_alaw_wav_table(documents: DataFrame) -> DataFrame:
    """Decodable G.711 A-law WAVs (format tag 6): every compressed
    byte is the same value b = doc_id % 256, so the decoded aggregates
    have the closed form sum_sq = expand(b)^2 * n, peak = |expand(b)|
    — and A-law expansion is pure arithmetic (xor 0x55, 3-bit exponent
    segment, 4-bit mantissa) that a SQL oracle recomputes exactly.
    Same JVM-codegen hex-repeat assembly as synthesize_pcm_wav_table;
    the Python lane only ever decodes."""
    b = (F.col("doc_id") % F.lit(256)).cast("long")
    rate = (F.lit(8000) + (F.col("doc_id") % F.lit(5)) * F.lit(1000)) \
        .cast("long")
    n = (F.length("text") % F.lit(40) + F.lit(1)).cast("long")
    data_hex = F.repeat(F.lpad(F.hex(b), 2, "0"), n.cast("int"))
    riff_size = n + F.lit(36)
    media = F.concat(
        F.lit(b"RIFF"), le32(riff_size), F.lit(b"WAVE"),
        F.lit(b"fmt \x10\x00\x00\x00\x06\x00\x01\x00"),  # tag 6, mono
        le32(rate), le32(rate),                          # byte_rate = rate
        F.lit(b"\x01\x00\x08\x00"),                      # block 1, 8 bit
        F.lit(b"data"), le32(n), F.unhex(data_hex))
    return documents.select(F.col("doc_id").alias("id"),
                            media.alias("media"))


def synthesize_adpcm_wav_table(documents: DataFrame) -> DataFrame:
    """Decodable mono IMA ADPCM WAVs (format tag 0x11): one block
    whose header predictor is a signed per-document value and whose
    nibbles are all zero. Nibble 0 at step index 0 adds step>>3 =
    7>>3 = 0, so every decoded sample equals the header predictor
    exactly and the aggregates have closed forms (sum_sq = p^2 * n,
    peak = |p|) — the state machine must still walk every nibble and
    honor the signed 16-bit header to match. JVM-codegen assembly;
    the predictor's two's-complement wire form is pmod arithmetic."""
    pred = (F.col("doc_id") % F.lit(30001) - F.lit(15000)).cast("long")
    pred_wire = ((pred % F.lit(65536)) + F.lit(65536)) % F.lit(65536)
    rate = F.lit(8000).cast("long")
    nbytes = (F.length("text") % F.lit(24) + F.lit(1)).cast("long")
    block_align = nbytes + F.lit(4)
    block_samples = nbytes * F.lit(2) + F.lit(1)
    riff_size = block_align + F.lit(40)  # WAVE + (8+20) fmt + 8 + data
    media = F.concat(
        F.lit(b"RIFF"), le32(riff_size), F.lit(b"WAVE"),
        F.lit(b"fmt \x14\x00\x00\x00\x11\x00\x01\x00"),  # size 20, tag 0x11
        le32(rate), le32(rate),
        le16(block_align),
        F.lit(b"\x04\x00\x02\x00"),                      # 4 bit, cbSize 2
        le16(block_samples),
        F.lit(b"data"), le32(block_align),
        le16(pred_wire), F.lit(b"\x00\x00"),             # index 0, reserved
        F.unhex(F.repeat(F.lit("00"), nbytes.cast("int"))))
    return documents.select(F.col("doc_id").alias("id"),
                            media.alias("media"))


def _gif_lzw_decode(min_code_size: int, data: bytes,
                    max_out: int | None = None) -> list[int]:
    """GIF-variant LZW decode (spec appendix F): variable code width
    starting at min_code_size+1 growing to 12 bits, clear code resets
    the table, codes are packed little-endian-bit-first. Returns the
    color-index stream.

    Two resource guards for corrupt input in a scan task (fuzz-found:
    a bit-flipped size byte provoked a 2^k-entry table build measured
    at 41 GB RSS): the code-size byte must be a value a conforming
    encoder can write (2-11, since width <= 12), and ``max_out`` caps
    the decoded stream — LZW output grows quadratically in input
    bytes, so callers that only need w*h pixels must bound it."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def fresh_table():
        return {i: [i] for i in range(clear)}

    table = fresh_table()
    next_code = end + 1
    width = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    acc = bits = 0
    for byte in data:
        acc |= byte << bits
        bits += 8
        while bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            bits -= width
            if code == clear:
                table = fresh_table()
                next_code = end + 1
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
            elif code == next_code:  # the KwKwK case
                entry = prev + [prev[0]]
            else:
                raise ValueError(f"corrupt LZW stream: code {code}")
            out.extend(entry)
            if max_out is not None and len(out) >= max_out:
                return out
            if prev is not None and next_code < 4096:
                table[next_code] = prev + [entry[0]]
                next_code += 1
            # width growth follows the giflib/Pillow/browser schedule:
            # once the next free dictionary slot itself would need an
            # extra bit (next_code == 1 << width), subsequent codes are
            # read one bit wider. The encoder's table runs one entry
            # ahead of the decoder's, so both sides cross this
            # boundary at the same code position.
            if next_code == (1 << width) and width < 12:
                width += 1
            prev = entry
    return out


def parse_gif_pixels(data: bytes) -> dict | None:
    """Decode the first image frame of a GIF87a/89a to exact
    per-channel pixel sums via pure-Python LZW — {width, height, n_px,
    sum_r, sum_g, sum_b}. Color indices map through the local color
    table when present, else the global one. Interlaced frames decode
    too: channel sums are row-order-invariant, so no deinterlace pass
    is needed for stats. None for non-GIF or missing color tables."""
    if data is None or len(data) < 13 or data[:6] not in (b"GIF87a",
                                                          b"GIF89a"):
        return None
    packed = data[10]
    gct = None
    i = 13
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[13:13 + 3 * n]
        i = 13 + 3 * n
    while i < len(data):
        b = data[i]
        if b == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(data) and data[i] != 0:
                i += 1 + data[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            if i + 10 > len(data):
                return None
            w = int.from_bytes(data[i + 5:i + 7], "little")
            h = int.from_bytes(data[i + 7:i + 9], "little")
            ipacked = data[i + 9]
            i += 10
            table = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = data[i:i + 3 * n]
                i += 3 * n
            if table is None or i >= len(data):
                return None
            min_code = data[i]
            i += 1
            lzw = bytearray()
            while i < len(data) and data[i] != 0:
                size = data[i]
                lzw += data[i + 1:i + 1 + size]
                i += 1 + size
            try:
                idx = _gif_lzw_decode(min_code, bytes(lzw),
                                      max_out=w * h)[:w * h]
            except (ValueError, KeyError):
                return None  # corrupt stream: undecodable, not fatal
            if w <= 0 or h <= 0 or len(idx) < w * h:
                return None
            try:
                sum_r = sum(table[3 * k] for k in idx)
                sum_g = sum(table[3 * k + 1] for k in idx)
                sum_b = sum(table[3 * k + 2] for k in idx)
            except IndexError:
                return None  # palette index out of range: corrupt
            return {"width": w, "height": h, "n_px": w * h,
                    "sum_r": sum_r, "sum_g": sum_g, "sum_b": sum_b}
        elif b == 0x3B:  # trailer
            return None
        else:
            return None
    return None


def gif_lzw_encode(min_code_size: int, indices: list[int]) -> bytes:
    """GIF-variant LZW compress (spec appendix F): dictionary-building
    greedy-longest-match, clear code first, end-of-information last,
    codes packed LSB-first with the giflib width schedule (the width
    bumps when the next free dictionary slot — checked BEFORE this
    emit's insertion — reaches 1 << width, one emit later than the
    naive schedule; the committed hand-packed fixture in
    tests/fixtures/fuzz pins this absolutely). Encoder and decoder
    consistency is additionally cross-checked by the test suite's own
    independent packer."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table: dict[tuple[int, ...], int] = {
        (i,): i for i in range(clear)}
    next_code = end + 1
    codes = [clear]
    buf: tuple[int, ...] = ()
    for px in indices:
        cand = buf + (int(px),)
        if cand in table:
            buf = cand
        else:
            codes.append(table[buf])
            if next_code < 4096:
                table[cand] = next_code
                next_code += 1
            buf = (int(px),)
    if buf:
        codes.append(table[buf])
    codes.append(end)

    out = bytearray()
    acc = bits = 0
    width = min_code_size + 1
    emitted_next = end + 1
    for c in codes:
        acc |= c << bits
        bits += width
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
        if c == clear:
            width = min_code_size + 1
            emitted_next = end + 1
        elif c != end:
            if emitted_next < 4096:
                if emitted_next == (1 << width) and width < 12:
                    width += 1
                emitted_next += 1
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_interlace_rows(h: int) -> list[int]:
    """Display-row order of an interlaced GIF's stored rows (spec
    appendix E): four passes starting at rows 0/4/2/1 with strides
    8/8/4/2."""
    return (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))


def encode_gif(width: int, height: int,
               palette: list[tuple[int, int, int]],
               indices: list[int], interlace: bool = False) -> bytes:
    """GIF89a writer over gif_lzw_encode: logical screen + global
    color table (padded to a power of two) + one image descriptor +
    sub-blocked LZW data + trailer. Exists to exercise the DECODER
    from inside the registered pixel-decode query, the same role
    encode_grey_jpeg plays for JPEG. interlace=True stores the rows
    in the spec's four-pass order and sets the descriptor flag;
    ``indices`` stays display-ordered either way."""
    import struct

    if interlace:
        rows = _gif_interlace_rows(height)
        indices = [px for y in rows
                   for px in indices[y * width:(y + 1) * width]]
    n_colors = len(palette)
    min_code = max(2, (n_colors - 1).bit_length())
    pal = b"".join(bytes(c) for c in palette)
    pal += b"\x00" * (3 * (1 << min_code) - len(pal))
    lzw = gif_lzw_encode(min_code, indices)
    blocks = b""
    rest = lzw
    while rest:
        blocks += bytes([min(255, len(rest))]) + rest[:255]
        rest = rest[255:]
    return (b"GIF89a" + struct.pack("<HH", width, height)
            + bytes([0x80 | (min_code - 1), 0, 0]) + pal
            + b"\x2C" + struct.pack("<HHHH", 0, 0, width, height)
            + bytes([0x40 if interlace else 0x00])
            + bytes([min_code]) + blocks + b"\x00" + b"\x3B")


def encode_png_rgb(width: int, height: int,
                   rgb: tuple[int, int, int]) -> bytes:
    """Solid-color truecolor (color type 2) PNG writer: signature +
    IHDR + one zlib-deflated IDAT of filter-0 scanlines + IEND, with
    REAL chunk CRCs (zlib.crc32) so any PNG reader accepts the file.
    Solid color keeps the channel sums closed-form (sum_c = c*w*h)
    for the registered oracle; the five scanline filters are decoder
    territory and stay pinned by the pytest fixtures."""
    import struct
    import zlib

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body \
            + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width
    idat = zlib.compress(row * height)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


# -- baseline JPEG (greyscale) ------------------------------------------------
#
# The last image codec behind the "needs PIL" stub that is actually
# implementable from the public spec with no dependencies: baseline
# sequential DCT, 8-bit, single (luminance) component. The entropy
# layer (canonical Huffman from DHT, byte-stuffed bitstream, DC
# prediction, AC run-length with EOB/ZRL) is LOSSLESS and therefore
# bit-exactly testable: decode(encode(blocks)) must reproduce the
# quantized coefficients. The DCT layer is float and round-trips
# exactly on flat blocks (DC-only), which is what the synthesized
# fixtures use; arbitrary images round-trip within quantization
# tolerance like any real JPEG. Color (multi-component interleave,
# subsampling, YCbCr) stays behind the declared stub.

def _zigzag():
    """The spec's zigzag scan order as (row, col) pairs, generated
    rather than transcribed: even diagonals run bottom-left to
    top-right (row descending), odd ones the reverse."""
    return sorted(((r, c) for r in range(8) for c in range(8)),
                  key=lambda p: (p[0] + p[1],
                                 p[0] if (p[0] + p[1]) % 2 else -p[0]))


_ZZ = _zigzag()


def _dct_matrix():
    import math

    return [[(math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8))
             * math.cos((2 * x + 1) * u * math.pi / 16)
             for x in range(8)] for u in range(8)]


_DCT = _dct_matrix()

# module-level numpy constants (r17): np.asarray(_DCT) per
# _idct_dequant call and the per-call zigzag index tuples measured as a
# third of the per-block transform cost on the tiny fixture images
def _np_consts():
    import numpy as np

    zr = np.asarray([r for r, _c in _ZZ], dtype=np.intp)
    zc = np.asarray([c for _r, c in _ZZ], dtype=np.intp)
    return np.asarray(_DCT, dtype=np.float64), zr, zc


_DCT_NP, _ZZ_R, _ZZ_C = _np_consts()


def _fdct_quant_blocks(width: int, height: int, pixels: bytes):
    """All 8x8 blocks of a greyscale raster through the forward DCT at
    once, raster block order, zigzag rows: (n_blocks, 64) int64. Edge
    blocks replicate via np.pad(mode='edge') — the same min()-clamped
    pixel the per-block list build produced.

    One np.pad + two stacked matmuls + one fancy-index gather replaces
    the per-block Python list build (64 min() calls each) and per-block
    DCT dispatch, which together were ~70% of encode time on
    the fixture-sized images (guide §4.2 — batch the native math).
    Bitwise-identical to the per-block path: each (8,8) slice goes
    through the same dgemm with the same association order, verified
    exhaustively in tests."""
    import numpy as np

    w8, h8 = (width + 7) // 8, (height + 7) // 8
    arr = np.frombuffer(pixels, dtype=np.uint8) \
        .reshape(height, width).astype(np.float64)
    arr = np.pad(arr, ((0, h8 * 8 - height), (0, w8 * 8 - width)),
                 mode="edge")
    blocks = arr.reshape(h8, 8, w8, 8).swapaxes(1, 2).reshape(-1, 8, 8) \
        - 128.0
    C = _DCT_NP
    coef = np.matmul(np.matmul(C, blocks), C.T)
    return np.rint(coef).astype(np.int64)[:, _ZZ_R, _ZZ_C]


_IDCT_DC_CACHE: dict[int, "object"] = {}


def _idct_dequant(zz: list[int]):
    import numpy as np

    # DC-only blocks (flat regions; EVERY block of a solid image) all
    # produce the same raster for the same DC value — reuse the exact
    # computed array instead of redoing the matrix IDCT. Callers only
    # ever copy it (slice assignment into planes), never mutate it.
    dc_only = not any(zz[1:])
    if dc_only:
        cached = _IDCT_DC_CACHE.get(zz[0])
        if cached is not None:
            return cached
    C = _DCT_NP
    coef = np.zeros((8, 8))
    coef[_ZZ_R, _ZZ_C] = zz
    s = C.T @ coef @ C
    out = np.clip(np.rint(s) + 128, 0, 255).astype(np.int64)
    if dc_only:
        if len(_IDCT_DC_CACHE) >= 4096:
            _IDCT_DC_CACHE.clear()
        _IDCT_DC_CACHE[zz[0]] = out
    return out


# Huffman tables the ENCODER emits (and any spec decoder can read from
# the DHT segment): DC categories 0..11 as 4-bit codes, the 256 AC
# run/size symbols split over 9- and 10-bit codes (a DHT bits entry is
# one byte, so a single length holds at most 255 symbols). Both are
# valid canonical tables with the all-ones code unused, per the
# spec's constraint.
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 8 + [128, 128] + [0] * 6
_AC_VALS = list(range(256))


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) by the spec's canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# The encoders always emit the fixed tables above; building the
# canonical maps per encode_*_jpeg call measured ~11% of encode time
# on fixture-sized images (r17) — the tables are constants, build once.
_ENC_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_ENC_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        # append all bits at once, then emit whole bytes (bit-identical
        # to the per-bit loop; the loop was ~40% of encode time)
        acc = (self.acc << length) | (code & ((1 << length) - 1))
        n = self.n + length
        buf = self.buf
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            buf.append(b)
            if b == 0xFF:
                buf.append(0x00)  # byte stuffing
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def flush(self):
        if self.n:
            self.acc <<= (8 - self.n)
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s per spec
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = self.n = 0
        return bytes(self.buf)

    def write_marker(self, marker: int):
        """Byte-align (1-padding, stuffing the pad byte if it lands on
        0xFF) then emit a raw FF xx marker — restart markers are not
        entropy data and are never stuffed."""
        self.flush()
        self.buf.append(0xFF)
        self.buf.append(marker)


class _BitReader:
    """Accumulator bit reader over a JPEG entropy-coded segment.

    Holds up to a few destuffed bytes in ``acc`` (``n`` valid low
    bits). Refill never crosses a 0xFF-nonzero boundary, so markers
    (RSTn, or a stray marker = corrupt stream) are only observed when
    bits beyond them are actually consumed — the same laziness as a
    byte-at-a-time reader, but magnitude bits arrive in one ``take``
    and Huffman decode can ``peek`` the full 16-bit code width for a
    single prefix-LUT hit."""

    def __init__(self, data: bytes):
        self.data = data
        self.i = 0
        self.acc = 0
        self.n = 0
        self.marker = False  # refill stopped at a non-stuffing 0xFF

    def _refill(self, need: int) -> None:
        data, i, n = self.data, self.i, self.n
        acc = self.acc
        ln = len(data)
        while n < need:
            if i >= ln or self.marker:
                break
            b = data[i]
            if b == 0xFF:
                if i + 1 < ln and data[i + 1] == 0x00:
                    i += 2  # unstuff
                else:
                    self.marker = True
                    break
            else:
                i += 1
            acc = (acc << 8) | b
            n += 8
        self.i, self.n, self.acc = i, n, acc

    def take(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self._refill(k)
            if self.n < k:
                raise ValueError("marker inside entropy stream"
                                 if self.marker else "bitstream exhausted")
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def peek(self, k: int) -> int:
        """Next k bits without consuming; zero-padded past the end of
        the available data (a later ``take`` of more bits than exist
        still raises)."""
        if self.n < k:
            self._refill(k)
        if self.n >= k:
            return (self.acc >> (self.n - k)) & ((1 << k) - 1)
        return (self.acc << (k - self.n)) & ((1 << k) - 1)

    def bit(self) -> int:
        return self.take(1)

    def bits(self, k: int) -> int:
        return self.take(k)

    def restart(self) -> None:
        """Consume an RSTn marker at a restart boundary: discard the
        pad bits of the final entropy byte (refill never crosses a
        marker, so that is all ``acc`` can hold on a valid stream)
        and expect 0xFF D0-D7 next. A whole buffered byte or more
        means a desynced corrupt interval — a byte-at-a-time reader
        would still be mid-stream, so reject rather than resync. The
        interval structure is the caller's job; here we only re-align
        and verify the marker class."""
        if self.n >= 8:
            raise ValueError("expected restart marker")
        self.acc = self.n = 0
        self.marker = False
        if self.i + 2 > len(self.data) or self.data[self.i] != 0xFF \
                or not (0xD0 <= self.data[self.i + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        self.i += 2


_DHT_CACHE: dict[bytes, tuple[dict, list[int]]] = {}
_DHT_SEEN: dict[bytes, dict] = {}


def _dht_table(seg: bytes, bits: list[int],
               vals: list[int]) -> tuple[dict, list[int] | None]:
    """Parsed Huffman table for one DHT entry: ({(code, len): sym},
    16-bit prefix LUT with entries (sym << 5) | len, 0 = no code with
    that prefix). Cached at module level keyed by the RAW 17+nv DHT
    segment bytes — every image written by one encoder shares its
    DHT, so in a scan task both the canonical-code build and the
    65536-entry LUT fill happen once per worker process, not once per
    image (the per-image build measured as the dominant cost on tiny
    images).

    The LUT is only built on the SECOND sighting of a segment: a
    corpus of optimize-mode JPEGs (one unique DHT per image) or a
    corrupt corpus (every bit-flipped DHT is a new key) then never
    pays the 65k fill — decode falls back to the per-bit walk, the
    pre-LUT cost. Both tiers are bounded (cleared at 32 cached /
    512 seen segments) so neither can grow without bound."""
    cached = _DHT_CACHE.get(seg)
    if cached is None:
        seen = _DHT_SEEN.pop(seg, None)
        if seen is None:
            # first sighting: parse the table, skip the LUT fill
            if len(_DHT_SEEN) >= 512:
                _DHT_SEEN.clear()
            tab = {(c, ln): sym
                   for sym, (c, ln) in _canonical_codes(bits,
                                                        vals).items()}
            _DHT_SEEN[seg] = tab
            return (tab, None)
        if len(_DHT_CACHE) >= 32:
            _DHT_CACHE.clear()
        tab = seen
        lut = [0] * 65536
        for (code, ln), sym in tab.items():
            # an over-subscribed corrupt DHT can assign code >= 2^len;
            # such codes are unreachable by any bit pattern (the walk
            # can never produce them), so skip, don't overflow the LUT
            if ln <= 16 and code < (1 << ln):
                base = code << (16 - ln)
                for s in range(1 << (16 - ln)):
                    lut[base | s] = (sym << 5) | ln
        cached = (tab, lut)
        _DHT_CACHE[seg] = cached
    return cached


def _huff_decode(br: _BitReader, tablut: tuple[dict, list[int]]) -> int:
    """Decode one Huffman symbol from a ``_dht_table`` pair.

    Fast path: the 16-bit prefix LUT resolves every valid code in one
    peek + one take. Only invalid prefixes (corrupt stream) fall back
    to the canonical per-bit walk, which raises exactly what the walk
    alone would. The LUT is prefix-free by construction, and a
    short-of-bits take raises the same ValueError the per-bit walk
    would."""
    tab, lut = tablut
    if lut is not None:
        hit = lut[br.peek(16)]
        if hit:
            br.take(hit & 31)
            return hit >> 5
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.take(1)
        ln += 1
        if (code, ln) in tab:
            return tab[(code, ln)]
    raise ValueError("invalid Huffman code")


def _category(v: int) -> tuple[int, int]:
    """JPEG magnitude category + additional bits for a coefficient."""
    if v == 0:
        return 0, 0
    mag = abs(v)
    cat = mag.bit_length()
    extra = v if v > 0 else v + (1 << cat) - 1
    return cat, extra


def _decode_extend(extra: int, cat: int) -> int:
    if cat == 0:
        return 0
    return extra if extra >= (1 << (cat - 1)) else extra - (1 << cat) + 1


def encode_grey_jpeg(width: int, height: int, pixels: bytes,
                     restart_interval: int = 0) -> bytes:
    """Baseline greyscale JPEG encoder: identity quantization table,
    the fixed canonical Huffman tables above (emitted in DHT so any
    spec decoder can read the file), DC prediction, AC run-length with
    EOB and ZRL. pixels = row-major bytes, edge blocks replicate.
    restart_interval > 0 emits a DRI segment and RSTn markers every
    that many MCUs (DC prediction resets per interval, per spec)."""
    import struct

    if len(pixels) != width * height:
        raise ValueError("pixels length != width*height")
    dc_codes = _ENC_DC_CODES
    ac_codes = _ENC_AC_CODES
    bw = _BitWriter()
    pred = 0
    # all blocks through the DCT in one batched numpy call (r17);
    # raster block order == the MCU order this loop walks
    for mcu_no, zz in enumerate(
            _fdct_quant_blocks(width, height, pixels).tolist()):
        if restart_interval and mcu_no \
                and mcu_no % restart_interval == 0:
            bw.write_marker(
                0xD0 + (mcu_no // restart_interval - 1) % 8)
            pred = 0
        diff = zz[0] - pred
        pred = zz[0]
        cat, extra = _category(diff)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(extra, cat)
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            cat, extra = _category(zz[k])
            code, ln = ac_codes[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(extra, cat)
            run = 0
        if run:
            code, ln = ac_codes[0x00]  # EOB
            bw.write(code, ln)
    ecs = bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0]) + bytes([1] * 64))
    sof = seg(0xC0, bytes([8]) + struct.pack(">HH", height, width)
              + bytes([1, 1, 0x11, 0]))
    dht = (seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
           + seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)))
    dri = (seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (b"\xff\xd8" + dqt + sof + dht + dri + sos + ecs + b"\xff\xd9")


def parse_jpeg_pixels(data: bytes, _planes: bool = False) -> dict | None:
    """Decode a baseline JPEG to exact integer pixel sums: {width,
    height, n_px, sum_r, sum_g, sum_b}. Greyscale (one component,
    grey reported on all three channels) and interleaved YCbCr color
    with any 1-2 sampling factors (4:4:4, 4:2:2, 4:2:0; BT.601/JFIF
    conversion, replication upsampling) all decode; quantization and
    Huffman tables come from the file's own DQT/DHT segments and the
    SOS scan header assigns them per component — not wired to this
    module's encoder tables, so any spec-conforming file of those
    shapes decodes, including DRI/RSTn restart-marker streams
    (byte re-alignment + per-interval DC reset). Progressive frames
    (SOF2) dispatch to _parse_progressive_jpeg — the real multi-scan
    path below. Exotic sampling (>2) returns None and remains the
    declared stub boundary."""
    import numpy as np

    if data is None or len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    quants: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    restart_interval = 0
    comps: list[tuple[int, int]] = []   # (component id, quant table id)
    scan: dict[int, tuple[int, int]] = {}  # cid -> (dc table, ac table)
    scan_order: list[int] = []
    i = 2
    ecs_start = None
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            return None
        # spec B.1.1.2: any number of optional 0xFF fill bytes may
        # pad before a marker id; encoders that pad are still baseline
        while i + 4 <= len(data) and data[i + 1] == 0xFF:
            i += 1
        if i + 4 > len(data):
            return None
        marker = data[i + 1]
        if marker == 0xD9:
            break
        size = int.from_bytes(data[i + 2:i + 4], "big")
        body = data[i + 4:i + 2 + size]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0 or len(body) < j + 65:
                    return None  # 16-bit/truncated: not decodable
                quants[tq] = list(body[j + 1:j + 65])
                j += 65
        elif marker == 0xC0:
            if len(body) < 6:
                return None
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3) or len(body) < 6 + 3 * nc:
                return None
            comps = []
            for c in range(nc):
                cid = body[6 + 3 * c]
                sampling = body[7 + 3 * c]
                hs, vs = sampling >> 4, sampling & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    return None  # exotic sampling: stub boundary
                comps.append((cid, hs, vs, body[8 + 3 * c]))
        elif marker == 0xC2:
            # progressive DCT (SOF2): real in-repo decode path
            return _parse_progressive_jpeg(data, _planes=_planes)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # non-baseline/non-progressive SOF
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1:j + 17])
                nv = sum(bits)
                if len(bits) < 16 or len(body) < j + 17 + nv:
                    return None  # truncated DHT
                vals = list(body[j + 17:j + 17 + nv])
                huff[(tc, th)] = _dht_table(
                    bytes(body[j:j + 17 + nv]), bits, vals)
                j += 17 + nv
        elif marker == 0xDD:
            if len(body) < 2:
                return None
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:
            if len(body) < 1 or len(body) < 1 + 2 * body[0]:
                return None
            for c in range(body[0]):
                cs = body[1 + 2 * c]
                tt = body[2 + 2 * c]
                scan[cs] = (tt >> 4, tt & 0x0F)
                scan_order.append(cs)
            ecs_start = i + 2 + size
            break
        i += 2 + size
    if not quants or None in (w, h) or ecs_start is None or not comps:
        return None
    if [c[0] for c in comps] != scan_order:
        return None  # non-interleaved or reordered scan
    for cid, _hs, _vs, tq in comps:
        td, ta = scan.get(cid, (None, None))
        if tq not in quants or (0, td) not in huff or (1, ta) not in huff:
            return None

    end = data.rfind(b"\xff\xd9")
    edata = data[ecs_start:end if end > ecs_start else len(data)]
    elen = len(edata)

    # generic interleaved MCU geometry (covers 4:4:4, 4:2:2, 4:2:0):
    # an MCU is hs_i x vs_i blocks per component; component planes are
    # subsampled by (hmax/hs, vmax/vs) and upsampled by replication
    # after decode (the spec-acceptable nearest-neighbor fast path)
    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # corrupt-header resource guard (fuzz-found): a bit-flipped SOF can
    # claim 65535x65535 and provoke a ~34 GB plane allocation before
    # the first entropy read fails. Every block costs >= 1 bit in any
    # valid stream, so a stream shorter than that is corrupt — bail
    # BEFORE allocating pixel planes.
    n_blocks = mcux * mcuy * sum(hs * vs for _, hs, vs, _tq in comps)
    if n_blocks > elen * 8:
        return None
    planes = [np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.int64)
              for _, hs, vs, _tq in comps]
    preds = [0] * nc
    # per-component decode kit: cached full-width prefix LUTs
    # (int-packed as sym << 5 | len; 0 = invalid prefix) plus the
    # canonical walk dicts for the corrupt-prefix fallback
    kits = []
    for cid, hs, vs, tq in comps:
        td, ta = scan[cid]
        tab_dc, lut_dc = huff[(0, td)]
        tab_ac, lut_ac = huff[(1, ta)]
        kits.append((lut_dc, tab_dc, lut_ac, tab_ac, quants[tq]))
    # The entropy loop keeps the bit accumulator in LOCAL variables
    # (pos/acc/nbits/marker) instead of a _BitReader: at ~6 bits per
    # coefficient, per-symbol method dispatch dominates the decode
    # (A/B'd: the object-based reader measured ~2.4x slower than this
    # on the registered-query corpus with identical outputs). Refill
    # tops up to >= 32 bits once per coefficient — enough for the
    # longest symbol (16) plus magnitude (11) — and never crosses a
    # 0xFF-nonzero boundary, so markers surface exactly when bits
    # beyond them are consumed, same as the reader.
    pos = 0
    acc = 0
    nbits = 0
    marker = False
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                mcu_no = my * mcux + mx
                if restart_interval and mcu_no \
                        and mcu_no % restart_interval == 0:
                    # RSTn: drop the pad bits, expect FF D0-D7. More
                    # than 7 leftover bits means a desynced (corrupt)
                    # interval under-consumed — a byte-at-a-time
                    # reader would still be mid-stream there, so
                    # reject rather than silently resync at the marker
                    if nbits >= 8:
                        raise ValueError("expected restart marker")
                    acc = nbits = 0
                    marker = False
                    if pos + 2 > elen or edata[pos] != 0xFF \
                            or not (0xD0 <= edata[pos + 1] <= 0xD7):
                        raise ValueError("expected restart marker")
                    pos += 2
                    preds = [0] * nc  # DC prediction resets per interval
                for ci in range(nc):
                    _cid, hs, vs, _tq = comps[ci]
                    lut_dc, tab_dc, lut_ac, tab_ac, quant = kits[ci]
                    for byy in range(vs):
                        for bxx in range(hs):
                            zz = [0] * 64
                            lut, tab = lut_dc, tab_dc
                            k = 0
                            while k < 64:
                                while nbits < 32 and not marker \
                                        and pos < elen:
                                    bb = edata[pos]
                                    if bb == 0xFF:
                                        if pos + 1 < elen and \
                                                edata[pos + 1] == 0x00:
                                            pos += 2  # unstuff
                                        else:
                                            marker = True
                                            break
                                    else:
                                        pos += 1
                                    acc = (acc << 8) | bb
                                    nbits += 8
                                if lut is None:  # first-sighting DHT
                                    hit = 0
                                elif nbits >= 16:
                                    hit = lut[(acc >> (nbits - 16))
                                              & 0xFFFF]
                                else:
                                    hit = lut[(acc << (16 - nbits))
                                              & 0xFFFF]
                                if hit:
                                    ln = hit & 31
                                    if nbits < ln:
                                        raise ValueError(
                                            "bitstream exhausted")
                                    sym = hit >> 5
                                    nbits -= ln
                                    acc &= (1 << nbits) - 1
                                else:  # invalid prefix: per-bit walk
                                    code = ln = 0
                                    sym = None
                                    while ln < 16:
                                        if nbits < 1:
                                            raise ValueError(
                                                "marker inside entropy "
                                                "stream" if marker else
                                                "bitstream exhausted")
                                        nbits -= 1
                                        code = (code << 1) | \
                                            ((acc >> nbits) & 1)
                                        acc &= (1 << nbits) - 1
                                        ln += 1
                                        sym = tab.get((code, ln))
                                        if sym is not None:
                                            break
                                    if sym is None:
                                        raise ValueError(
                                            "invalid Huffman code")
                                if k == 0:  # DC coefficient
                                    cat = sym
                                    if cat:
                                        # a corrupt DHT can claim a DC
                                        # category up to 255 — wider
                                        # than the 32-bit top-up, so
                                        # magnitude refills on its own
                                        # (matching the byte-at-a-time
                                        # reader, which kept reading)
                                        while nbits < cat and not marker \
                                                and pos < elen:
                                            bb = edata[pos]
                                            if bb == 0xFF:
                                                if pos + 1 < elen and \
                                                        edata[pos + 1] \
                                                        == 0x00:
                                                    pos += 2
                                                else:
                                                    marker = True
                                                    break
                                            else:
                                                pos += 1
                                            acc = (acc << 8) | bb
                                            nbits += 8
                                        if nbits < cat:
                                            raise ValueError(
                                                "bitstream exhausted")
                                        nbits -= cat
                                        extra = (acc >> nbits) & \
                                            ((1 << cat) - 1)
                                        acc &= (1 << nbits) - 1
                                        preds[ci] += extra if extra >= (
                                            1 << (cat - 1)) else \
                                            extra - (1 << cat) + 1
                                    zz[0] = preds[ci] * quant[0]
                                    lut, tab = lut_ac, tab_ac
                                    k = 1
                                    continue
                                if sym == 0x00:  # EOB
                                    break
                                run, cat = sym >> 4, sym & 0x0F
                                if cat == 0:
                                    if run != 15:
                                        raise ValueError("bad AC symbol")
                                    k += 16  # ZRL
                                    continue
                                k += run
                                if k > 63:
                                    raise ValueError("AC overrun")
                                if nbits < cat:
                                    raise ValueError("bitstream exhausted")
                                nbits -= cat
                                extra = (acc >> nbits) & ((1 << cat) - 1)
                                acc &= (1 << nbits) - 1
                                zz[k] = (extra if extra >= (1 << (cat - 1))
                                         else extra - (1 << cat) + 1) \
                                    * quant[k]
                                k += 1
                            py = (my * vs + byy) * 8
                            px = (mx * hs + bxx) * 8
                            planes[ci][py:py + 8, px:px + 8] = \
                                _idct_dequant(zz)
    except ValueError:
        return None
    if _planes:
        return (planes, comps, hmax, vmax, w, h)
    return _jpeg_sums_from_planes(planes, comps, hmax, vmax, w, h)


def _jpeg_rgb_from_planes(planes, comps, hmax, vmax, w, h):
    """Shared decode tail for the baseline and progressive paths:
    replication-upsample subsampled planes, crop to the frame, and
    produce the (h, w, 3) int64 RGB raster (greyscale replicates the
    grey plane; color converts BT.601/JFIF YCbCr -> RGB, rounded
    half-even, clamped to [0, 255])."""
    import numpy as np

    full = []
    for ci, (cid, hs, vs, _tq) in enumerate(comps):
        p = planes[ci]
        if hs != hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        if vs != vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        full.append(p[:h, :w])
    if len(comps) == 1:
        return np.repeat(full[0][:, :, None], 3, axis=2)
    y = full[0].astype(np.float64)
    cb = full[1].astype(np.float64) - 128.0
    cr = full[2].astype(np.float64) - 128.0
    r = np.clip(np.rint(y + 1.402 * cr), 0, 255).astype(np.int64)
    g = np.clip(np.rint(y - 0.344136 * cb - 0.714136 * cr),
                0, 255).astype(np.int64)
    b = np.clip(np.rint(y + 1.772 * cb), 0, 255).astype(np.int64)
    return np.stack([r, g, b], axis=2)


def _jpeg_sums_from_planes(planes, comps, hmax, vmax, w, h) -> dict:
    """Exact channel sums over the shared raster tail — the
    oracle-checkable aggregate the parse_*_pixels contract reports."""
    rgb = _jpeg_rgb_from_planes(planes, comps, hmax, vmax, w, h)
    return {"width": w, "height": h, "n_px": w * h,
            "sum_r": int(rgb[:, :, 0].sum()),
            "sum_g": int(rgb[:, :, 1].sum()),
            "sum_b": int(rgb[:, :, 2].sum())}


def _jpeg_raster(data: bytes):
    """Full-raster JPEG decode (baseline or progressive) for the
    resize / feature-extraction lane: the same decode as
    parse_jpeg_pixels but keeping the planes instead of reducing
    them. None for anything the aggregate decoder rejects."""
    out = parse_jpeg_pixels(data, _planes=True)
    if out is None:
        return None
    return _jpeg_rgb_from_planes(*out)


# -- progressive JPEG (SOF2) --------------------------------------------------
#
# T.81 Annex G: coefficients arrive over MULTIPLE scans — spectral
# selection (each AC scan covers a zigzag band of one component) and
# successive approximation (each scan adds one bit of precision: DC
# point transform is an arithmetic shift, AC is magnitude truncation,
# refinements append correction bits per the G.2 algorithms, with
# EOBn run codes spanning blocks). This is what libjpeg/mozjpeg/
# browsers emit for most web JPEGs, so "baseline only" would reject
# the majority of real-world files. The decode accumulates per-block
# coefficient vectors across scans, then runs the same dequant/IDCT/
# upsample/color tail as the baseline path.

def _parse_progressive_jpeg(data: bytes, _planes: bool = False) -> dict | None:
    """Decode a progressive JPEG to the same exact integer pixel sums
    as parse_jpeg_pixels. Greyscale and YCbCr with 1-2 sampling
    factors; DC/AC first and refinement scans, EOBn runs, restart
    intervals, between-scan DHT/DRI redefinition. Returns None for
    anything corrupt — totality contract of the Arrow-batch lane."""
    import numpy as np

    if data is None or len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    quants: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = None
    comps: list[tuple[int, int, int, int]] = []
    restart_interval = 0
    scans = []  # (scan comps [(ci, td, ta)], Ss, Se, Ah, Al, ecs, tables, dri)
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            return None
        while i + 4 <= len(data) and data[i + 1] == 0xFF:
            i += 1  # spec B.1.1.2 fill bytes
        if i + 4 > len(data):
            return None
        marker = data[i + 1]
        if marker == 0xD9:
            break
        size = int.from_bytes(data[i + 2:i + 4], "big")
        body = data[i + 4:i + 2 + size]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0 or len(body) < j + 65:
                    return None
                quants[tq] = list(body[j + 1:j + 65])
                j += 65
        elif marker == 0xC2:
            if len(body) < 6 or comps:
                return None  # truncated or second frame header
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3) or len(body) < 6 + 3 * nc:
                return None
            for c in range(nc):
                cid = body[6 + 3 * c]
                hs, vs = body[7 + 3 * c] >> 4, body[7 + 3 * c] & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    return None
                comps.append((cid, hs, vs, body[8 + 3 * c]))
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1:j + 17])
                nv = sum(bits)
                if len(bits) < 16 or len(body) < j + 17 + nv:
                    return None
                vals = list(body[j + 17:j + 17 + nv])
                huff[(tc, th)] = _dht_table(
                    bytes(body[j:j + 17 + nv]), bits, vals)
                j += 17 + nv
        elif marker == 0xDD:
            if len(body) < 2:
                return None
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:
            if not comps or len(body) < 4:
                return None
            ns = body[0]
            if len(body) < 1 + 2 * ns + 3:
                return None
            in_scan = []
            cids = [c[0] for c in comps]
            for c in range(ns):
                cs = body[1 + 2 * c]
                if cs not in cids:
                    return None
                tt = body[2 + 2 * c]
                in_scan.append((cids.index(cs), tt >> 4, tt & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            j = i + 2 + size
            while j + 1 < len(data):
                if data[j] == 0xFF and data[j + 1] != 0x00 \
                        and not (0xD0 <= data[j + 1] <= 0xD7):
                    break
                j += 1
            scans.append((in_scan, ss, se, ah, al, data[i + 2 + size:j],
                          dict(huff), restart_interval))
            i = j
            continue
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # mixed frame types
        i += 2 + size
    if not quants or None in (w, h) or w <= 0 or h <= 0 \
            or not comps or not scans:
        return None
    for _cid, _hs, _vs, tq in comps:
        if tq not in quants:
            return None

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # resource guard (same class as baseline): every block of the DC
    # scan costs >= 1 bit, so a corrupt SOF claiming huge dims with a
    # small stream bails before allocating coefficient arrays
    n_blocks = mcux * mcuy * sum(hs * vs for _, hs, vs, _tq in comps)
    if n_blocks > sum(len(s[5]) for s in scans) * 8:
        return None
    coef = [np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int64)
            for _, hs, vs, _tq in comps]
    # per-component true block dims (non-interleaved scans traverse
    # these, NOT the MCU-padded grid — T.81 A.2.2)
    bdims = []
    for _cid, hs, vs, _tq in comps:
        cw = (w * hs + hmax - 1) // hmax
        ch = (h * vs + vmax - 1) // vmax
        bdims.append(((ch + 7) // 8, (cw + 7) // 8))

    try:
        for in_scan, ss, se, ah, al, ecs, tables, dri in scans:
            br = _BitReader(ecs)

            def read_symbol(table):
                return _huff_decode(br, table)

            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan with Se != 0")
                for ci, td, _ta in in_scan:
                    if ah == 0 and (0, td) not in tables:
                        raise ValueError("missing DC table")
                preds = {ci: 0 for ci, _td, _ta in in_scan}

                def dc_block(ci, td, by, bx):
                    if ah == 0:
                        cat = read_symbol(tables[(0, td)])
                        if cat > 11:
                            raise ValueError("bad DC category")
                        preds[ci] += _decode_extend(br.bits(cat), cat)
                        coef[ci][by, bx, 0] = preds[ci] << al
                    elif br.bit():
                        coef[ci][by, bx, 0] |= 1 << al

                if len(in_scan) > 1:
                    # interleaved DC scan: MCU traversal
                    n_mcu = 0
                    for my in range(mcuy):
                        for mx in range(mcux):
                            if dri and n_mcu and n_mcu % dri == 0:
                                br.restart()
                                preds = {ci: 0 for ci in preds}
                            n_mcu += 1
                            for ci, td, _ta in in_scan:
                                _cid, hs, vs, _tq = comps[ci]
                                for byy in range(vs):
                                    for bxx in range(hs):
                                        dc_block(ci, td, my * vs + byy,
                                                 mx * hs + bxx)
                else:
                    ci, td, _ta = in_scan[0]
                    bh_c, bw_c = bdims[ci]
                    n_blk = 0
                    for by in range(bh_c):
                        for bx in range(bw_c):
                            if dri and n_blk and n_blk % dri == 0:
                                br.restart()
                                preds = {ci: 0}
                            n_blk += 1
                            dc_block(ci, td, by, bx)
                continue

            # AC scan: exactly one component (T.81 G.1.1.1.1)
            if len(in_scan) != 1 or not (1 <= ss <= se <= 63):
                raise ValueError("bad AC scan header")
            ci, _td, ta = in_scan[0]
            if (1, ta) not in tables:
                raise ValueError("missing AC table")
            table = tables[(1, ta)]
            bh_c, bw_c = bdims[ci]
            eobrun = 0
            p1, m1 = 1 << al, -1 << al
            n_blk = 0
            for by in range(bh_c):
                for bx in range(bw_c):
                    if dri and n_blk and n_blk % dri == 0:
                        br.restart()
                        eobrun = 0
                    n_blk += 1
                    blk = coef[ci][by, bx]
                    if ah == 0:
                        # first scan of this band (G.2.1)
                        if eobrun > 0:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            sym = read_symbol(table)
                            r, s = sym >> 4, sym & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.bits(r)
                                break
                            k += r
                            if k > se:
                                raise ValueError("AC overrun")
                            blk[k] = _decode_extend(br.bits(s), s) << al
                            k += 1
                    else:
                        # refinement scan (G.2.2): correction bits for
                        # history coefficients, +-1<<Al for new ones
                        k = ss
                        if eobrun == 0:
                            while k <= se:
                                sym = read_symbol(table)
                                r, s = sym >> 4, sym & 0x0F
                                if s == 0:
                                    if r != 15:
                                        eobrun = 1 << r
                                        if r:
                                            eobrun += br.bits(r)
                                        break
                                    newval = 0  # ZRL: 16 zero-history
                                elif s == 1:
                                    newval = p1 if br.bit() else m1
                                else:
                                    raise ValueError("bad refine symbol")
                                while k <= se:
                                    c = int(blk[k])
                                    if c != 0:
                                        if br.bit() and (c & p1) == 0:
                                            blk[k] = c + (p1 if c >= 0
                                                          else m1)
                                    else:
                                        if r == 0:
                                            break
                                        r -= 1
                                    k += 1
                                if s and k <= se:
                                    blk[k] = newval
                                k += 1
                        if eobrun > 0:
                            while k <= se:
                                c = int(blk[k])
                                if c != 0 and br.bit() and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                                k += 1
                            eobrun -= 1
    except (ValueError, IndexError):
        return None

    planes = [np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.int64)
              for _, hs, vs, _tq in comps]
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        quant = quants[tq]
        for by in range(mcuy * vs):
            for bx in range(mcux * hs):
                zz = [int(coef[ci][by, bx, k]) * quant[k]
                      for k in range(64)]
                planes[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _idct_dequant(zz)
    if _planes:
        return (planes, comps, hmax, vmax, w, h)
    return _jpeg_sums_from_planes(planes, comps, hmax, vmax, w, h)


# libjpeg's default greyscale progressive scan script: DC first at
# reduced precision, low/high AC bands, then AC and DC refinements.
_PROG_SCRIPT = [
    (0, 0, 0, 1),     # DC first, Al=1
    (1, 5, 0, 2),     # AC band 1-5 first, Al=2
    (6, 63, 0, 2),    # AC band 6-63 first, Al=2
    (1, 63, 2, 1),    # AC refine Al 2->1
    (0, 0, 1, 0),     # DC refine
    (1, 63, 1, 0),    # AC refine Al 1->0
]


def _emit_prog_ac_first(bw, blocks, ss, se, al, ac_codes) -> None:
    """G.1.2.2: first scan of an AC band at precision Al — run/size
    symbols over the point-transformed (magnitude-truncated) values,
    EOBn codes accumulating empty-band runs across blocks."""
    eobrun = 0

    def flush_eobrun():
        nonlocal eobrun
        if eobrun > 0:
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(eobrun - (1 << r), r)
            eobrun = 0

    for zz in blocks:
        r = 0
        for k in range(ss, se + 1):
            t = abs(zz[k]) >> al  # AC point transform: magnitude trunc
            if t == 0:
                r += 1
                continue
            while r > 15:
                flush_eobrun()
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                r -= 16
            flush_eobrun()
            cat, extra = _category(t if zz[k] > 0 else -t)
            code, ln = ac_codes[(r << 4) | cat]
            bw.write(code, ln)
            bw.write(extra, cat)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()


def _emit_prog_ac_refine(bw, blocks, ss, se, al, ac_codes) -> None:
    """G.1.2.3 (the libjpeg shape): newly-significant coefficients as
    run/1 symbols + sign bit, correction bits for history coefficients
    — emitted inline after the next symbol within a block, buffered
    behind the next EOBn across blocks; ZRL only within the block's
    newly-significant span."""
    eobrun = 0
    be: list[int] = []

    def flush_eobrun():
        nonlocal eobrun
        if eobrun > 0:
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            bw.write(code, ln)
            if r:
                bw.write(eobrun - (1 << r), r)
            for bit in be:
                bw.write(bit, 1)
            be.clear()
            eobrun = 0

    for zz in blocks:
        absv = [abs(zz[k]) >> al for k in range(64)]
        eob = ss - 1
        for k in range(ss, se + 1):
            if absv[k] == 1:
                eob = k  # last NEWLY significant coefficient
        r = 0
        br_bits: list[int] = []
        for k in range(ss, se + 1):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            # runs past the last new coefficient fold into the EOB
            while r > 15 and k <= eob:
                flush_eobrun()
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                r -= 16
                for bit in br_bits:
                    bw.write(bit, 1)
                br_bits = []
            if t > 1:  # history coefficient: correction bit
                br_bits.append(t & 1)
                continue
            flush_eobrun()
            code, ln = ac_codes[(r << 4) | 1]
            bw.write(code, ln)
            bw.write(1 if zz[k] > 0 else 0, 1)
            for bit in br_bits:
                bw.write(bit, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eobrun += 1
            be.extend(br_bits)
            if eobrun == 0x7FFF or len(be) > 900:
                flush_eobrun()
    flush_eobrun()


def encode_progressive_grey_jpeg(width: int, height: int, pixels: bytes,
                                 script=None,
                                 restart_interval: int = 0) -> bytes:
    """Progressive greyscale JPEG encoder (SOF2): the G.1.2 spectral-
    selection + successive-approximation scan machinery — DC scans at
    reduced precision with refinement bits, AC band scans with EOBn
    run codes spanning blocks (buffered correction bits appended after
    the EOB symbol, ZRL only within the block's newly-significant
    span), the libjpeg default greyscale script by default. Exists to
    exercise _parse_progressive_jpeg; the coefficient pipeline
    (identity quant + _fdct_quant_blocks) matches encode_grey_jpeg, so
    progressive and baseline encodings of the same image must decode
    identically — the cross-codec equality the tests pin.
    restart_interval > 0 emits DRI + RSTn every that many blocks in
    EVERY scan (DC prediction and EOB runs reset per interval — an
    EOBn code never crosses a restart boundary, per spec)."""
    import struct

    if len(pixels) != width * height:
        raise ValueError("pixels length != width*height")
    script = list(_PROG_SCRIPT if script is None else script)
    dc_codes = _ENC_DC_CODES
    ac_codes = _ENC_AC_CODES
    # all blocks through the DCT in one batched numpy call (r17);
    # raster block order == the scans' block order
    blocks = _fdct_quant_blocks(width, height, pixels).tolist()

    def encode_scan(ss, se, ah, al):
        bw = _BitWriter()
        ri = restart_interval or len(blocks)
        for ivl, start in enumerate(range(0, len(blocks), ri)):
            if start:
                bw.write_marker(0xD0 + (ivl - 1) % 8)
            chunk = blocks[start:start + ri]
            if ss == 0:
                if ah == 0:  # DC first: per-interval prediction reset
                    pred = 0
                    for zz in chunk:
                        v = zz[0] >> al  # DC point transform: arith shift
                        cat, extra = _category(v - pred)
                        pred = v
                        code, ln = dc_codes[cat]
                        bw.write(code, ln)
                        if cat:
                            bw.write(extra, cat)
                else:  # DC refine: one raw bit per block
                    for zz in chunk:
                        bw.write((zz[0] >> al) & 1, 1)
            elif ah == 0:
                # per-interval emitter call: EOB runs cannot span the
                # restart boundary (state resets with the interval)
                _emit_prog_ac_first(bw, chunk, ss, se, al, ac_codes)
            else:
                _emit_prog_ac_refine(bw, chunk, ss, se, al, ac_codes)
        return bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += seg(0xC2, bytes([8]) + struct.pack(">HH", height, width)
               + bytes([1, 1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for ss, se, ah, al in script:
        out += seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out += encode_scan(ss, se, ah, al)
    out += b"\xff\xd9"
    return bytes(out)


JPEG_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("media", T.BinaryType()),
])


def synthesize_jpeg_table(documents: DataFrame) -> DataFrame:
    """Decodable baseline greyscale JPEGs from the documents table:
    solid-grey images whose dims/level derive arithmetically from
    document columns. A solid image is DC-only in every (even
    edge-replicated) block, so the float DCT round-trips EXACTLY and
    sum = grey * w * h in closed form for the oracle. Unlike the other
    synthesizers this one must run in Python (mapInPandas): Huffman
    bit-packing is not expressible as column codegen — which is fine,
    encode here exists to exercise the DECODER."""
    return _spread_small_scan(documents).select("doc_id").mapInPandas(
        _jpeg_synth_batches, schema=JPEG_SCHEMA)


def _jpeg_synth_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"].tolist()
        media = []
        for did in ids:
            w = did % 21 + 4
            h = did % 13 + 4
            g = did % 256
            media.append(encode_grey_jpeg(w, h, bytes([g]) * (w * h)))
        yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                            "media": media})


def synthesize_flac_table(documents: DataFrame) -> DataFrame:
    """Decodable FLAC streams from the documents table: a linear ramp
    s_i = base + i per document (mono, 16 kHz), which the encoder
    compresses through a real FIXED predictor + Rice path (ramp
    residuals are constant), so the registered query drives the whole
    header/warmup/Rice/CRC machinery while the aggregates keep closed
    forms — sum_sq = n*b^2 + b*n*(n-1) + (n-1)n(2n-1)/6, peak =
    max(|b|, |b+n-1|)."""
    return (_flac_synth_input(documents)
            .mapInPandas(_flac_synth_batches, schema=JPEG_SCHEMA))


def _flac_synth_input(documents: DataFrame) -> DataFrame:
    return (_spread_small_scan(documents)
            .select("doc_id",
                    # coalesce: a NULL-text poison doc otherwise turns
                    # the whole Arrow batch's tlen into float64 NaN and
                    # the int-only encoder math below throws TypeError
                    F.coalesce(F.length("text"), F.lit(0))
                     .cast("long").alias("tlen")))


def _flac_synth_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"].tolist()
        lens = pdf["tlen"].tolist()
        media = []
        for did, tl in zip(ids, lens):
            n = tl % 40 + 20
            base = did % 1001 - 500
            media.append(encode_flac([base + i for i in range(n)],
                                     16000, 1))
        yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                            "media": media})


def synthesize_progressive_jpeg_table(documents: DataFrame) -> DataFrame:
    """Decodable PROGRESSIVE (SOF2) greyscale JPEGs from the documents
    table: solid-grey like synthesize_jpeg_table but encoded through
    the multi-scan successive-approximation script, so the registered
    query drives the G.2 decode machinery (DC first/refine, AC band
    first scans with EOBn runs, AC refinements) end to end. Solid
    images stay DC-only, so sum = grey * w * h in closed form."""
    return _spread_small_scan(documents).select("doc_id").mapInPandas(
        _progressive_synth_batches, schema=JPEG_SCHEMA)


def _progressive_synth_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"].tolist()
        media = []
        for did in ids:
            w = did % 19 + 4
            h = did % 11 + 4
            g = (did * 7) % 256
            media.append(encode_progressive_grey_jpeg(
                w, h, bytes([g]) * (w * h)))
        yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                            "media": media})


def synthesize_gif_table(documents: DataFrame) -> DataFrame:
    """Decodable GIF89a images from the documents table: a two-color
    checkerboard (indices alternate 0,1,0,1,... in raster order) whose
    dims/palette derive arithmetically from document columns, so the
    channel sums have the closed form c0*ceil(n/2) + c1*floor(n/2).
    The alternation forces real LZW dictionary growth across code-width
    boundaries — the bug class the r6/r7 schedule fixes address — on
    every row. Encode runs in mapInPandas (LZW bit-packing is not
    column codegen), exercising the DECODER like the JPEG fixture."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            lens = pdf["tlen"].tolist()
            media = []
            for did, tl in zip(ids, lens):
                w = did % 14 + 2
                h = did % 9 + 2
                c0 = (did % 251, tl % 253, (did + tl) % 255)
                c1 = ((did * 3 + 7) % 256, (tl * 5 + 11) % 256,
                      (did + 2 * tl) % 256)
                idx = [i % 2 for i in range(w * h)]
                media.append(encode_gif(w, h, [c0, c1], idx))
            yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                                "media": media})

    return (documents
            .select("doc_id",
                    # coalesce: a NULL-text poison doc otherwise turns
                    # the whole Arrow batch's tlen into float64 NaN and
                    # the int-only encoder math below throws TypeError
                    F.coalesce(F.length("text"), F.lit(0))
                     .cast("long").alias("tlen"))
            .mapInPandas(run, schema=JPEG_SCHEMA))


def synthesize_png_pixel_table(documents: DataFrame) -> DataFrame:
    """Decodable truecolor PNGs (real zlib IDAT, real CRCs) from the
    documents table: solid color, dims/RGB from document columns, so
    sum_c = c*w*h in closed form. mapInPandas because deflate is not
    column codegen; completes the BMP/JPEG/GIF/PNG pixel-decode
    square through the same oracle pattern."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            lens = pdf["tlen"].tolist()
            media = []
            for did, tl in zip(ids, lens):
                w = did % 15 + 2
                h = did % 10 + 2
                rgb = (did % 249, (did + tl) % 250, tl % 247)
                media.append(encode_png_rgb(w, h, rgb))
            yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                                "media": media})

    return (documents
            .select("doc_id",
                    # coalesce: a NULL-text poison doc otherwise turns
                    # the whole Arrow batch's tlen into float64 NaN and
                    # the int-only encoder math below throws TypeError
                    F.coalesce(F.length("text"), F.lit(0))
                     .cast("long").alias("tlen"))
            .mapInPandas(run, schema=JPEG_SCHEMA))


def _mjpeg_synth_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decodable MJPEG AVIs from batches of doc_id: doc_id%4+1
    solid-grey baseline JPEG frames (grey_i = (doc_id + 31*i) % 256)
    in a RIFF/AVI container at 10 fps. Every frame is DC-only, so the
    per-frame decoded sum has the closed form grey_i * w * h for the
    frame-sampling oracle."""
    for pdf in batches:
        ids = pdf["doc_id"].tolist()
        media = []
        for did in ids:
            w = did % 9 + 8
            h = did % 7 + 8
            nf = did % 4 + 1
            frames = [
                encode_grey_jpeg(
                    w, h, bytes([(did + 31 * i) % 256]) * (w * h))
                for i in range(nf)]
            media.append(encode_mjpeg_avi(w, h, frames, fps=10))
        yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                            "media": media})


# -- MJPEG-in-AVI frame extraction --------------------------------------------
#
# "Video frame sampling needs ffmpeg" is true for inter-coded codecs
# (H.264 & co) — but Motion JPEG stores every frame as a standalone
# JPEG inside an AVI/RIFF container, and both halves are now in this
# module: the RIFF walk (same chunk grammar as WAV) and the baseline
# JPEG decoder. sample_frames() therefore handles MJPEG AVIs for real
# and keeps the declared stub for everything else.

def parse_avi_mjpeg(data: bytes) -> dict | None:
    """Walk an AVI/RIFF container: returns {width, height,
    usec_per_frame, frames: [jpeg_bytes, ...]} from the avih header
    and the movi LIST's video chunks ('00dc'/'00db'). None for
    non-AVI payloads."""
    if data is None or len(data) < 12 or data[:4] != b"RIFF" \
            or data[8:12] != b"AVI ":
        return None
    usec = width = height = None
    frames: list[bytes] = []

    def walk(start: int, end: int, depth: int = 0):
        nonlocal usec, width, height
        if depth > 32:
            return  # spec AVIs nest ~3 LISTs deep; corrupt-only guard
        # clamp to the real data: a corrupt size field can claim up to
        # 4 GB and would otherwise bound this loop by the CLAIMED size
        # (fuzz-found: minutes of empty-slice reads per blob)
        end = min(end, len(data))
        i = start
        while i + 8 <= end:
            cid = data[i:i + 4]
            size = int.from_bytes(data[i + 4:i + 8], "little")
            body_start = i + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + size, depth + 1)
            elif cid == b"avih" and size >= 40:
                usec = int.from_bytes(data[body_start:body_start + 4],
                                      "little")
                width = int.from_bytes(
                    data[body_start + 32:body_start + 36], "little")
                height = int.from_bytes(
                    data[body_start + 36:body_start + 40], "little")
            elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                frames.append(data[body_start:body_start + size])
            i = body_start + size + (size & 1)

    walk(12, len(data))
    if width is None or not frames:
        return None
    return {"width": width, "height": height,
            "usec_per_frame": usec or 0, "frames": frames}


def encode_mjpeg_avi(width: int, height: int, frames: list[bytes],
                     fps: int = 10) -> bytes:
    """Minimal spec-shaped MJPEG AVI writer: RIFF('AVI ') with an hdrl
    LIST (avih + strl/strh 'vids'/'MJPG' + strf BITMAPINFOHEADER) and
    a movi LIST of '00dc' JPEG chunks. Exists to exercise the frame
    extractor; any AVI-reading tool sees a structurally valid file."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    usec = 1_000_000 // max(1, fps)
    avih = struct.pack("<10I", usec, 0, 0, 0x10, len(frames), 0, 1, 0,
                       width, height) + b"\x00" * 16
    strh = (b"vids" + b"MJPG" + struct.pack("<10I", 0, 0, 0, 1, fps, 0,
                                            len(frames), 0, 0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


FRAME_STATS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sum_grey", T.LongType()),
])


def _frame_stats_batches(batches: Iterator[pd.DataFrame],
                         every_ms: int) -> Iterator[pd.DataFrame]:
    """media binary (MJPEG AVI) -> one row per SAMPLED frame with its
    decoded pixel sum: container walk -> frame select by timestamp
    stride (sample_frames) -> per-frame baseline JPEG decode. Non-AVI
    payloads yield no rows. A plain batch transformer, composed with
    the synthesizer's batch generator into ONE mapInPandas
    (mjpeg_frame_stats_fused)."""
    for pdf in batches:
        ids, idxs, ws, hs, sums = [], [], [], [], []
        for rid, b in zip(pdf["id"], pdf["media"]):
            if b is None:
                continue
            for idx, frame in sample_frames(bytes(b), every_ms,
                                            _lenient=True):
                d = parse_jpeg_pixels(frame)
                if d is None:
                    continue
                ids.append(rid)
                idxs.append(idx)
                ws.append(d["width"])
                hs.append(d["height"])
                sums.append(d["sum_r"])
        yield pd.DataFrame({
            "id": pd.array(ids, dtype="Int64"),
            "frame_idx": pd.array(idxs, dtype="Int32"),
            "width": pd.array(ws, dtype="Int32"),
            "height": pd.array(hs, dtype="Int32"),
            "sum_grey": pd.array(sums, dtype="Int64"),
        })


# -- full-raster decode (resize / feature extraction) -------------------------
#
# The parse_*_pixels functions return exact aggregates (the
# oracle-checkable shape). Operators that need the actual raster —
# real resize, real feature extraction — decode to an (h, w, 3) RGB
# numpy array here. Rasters and aggregates are produced by separate
# code paths on purpose: a pytest cross-check asserts raster sums ==
# parse_*_pixels sums per format, so the duplication is a consistency
# check rather than a hazard.

def _bmp_raster(data: bytes):
    import numpy as np

    d = parse_bmp_pixels(data)
    if d is None:
        return None
    w, h = d["width"], d["height"]
    off = int.from_bytes(data[10:14], "little")
    signed_h = int.from_bytes(data[22:26], "little", signed=True)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        data[off:off + row_bytes * h], dtype=np.uint8
    ).reshape(h, row_bytes)[:, :w * 3].reshape(h, w, 3)
    bgr = rows if signed_h < 0 else rows[::-1]  # bottom-up default
    return bgr[:, :, ::-1].astype(np.int64)  # BGR -> RGB


def _png_raster(data: bytes):
    import zlib

    import numpy as np

    if data is None or len(data) < 45 or data[:8] != b"\x89PNG\r\n\x1a\n" \
            or data[12:16] != b"IHDR":
        return None
    w = int.from_bytes(data[16:20], "big")
    h = int.from_bytes(data[20:24], "big")
    bit_depth, color_type, interlace = data[24], data[25], data[28]
    if bit_depth != 8 or color_type not in (0, 2, 3, 4, 6) \
            or interlace not in (0, 1) or w <= 0 or h <= 0:
        # zero dims would make the length check vacuous and crash
        # px.max() / downstream raster indexing on empty arrays
        return None
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    idat = bytearray()
    plte = None
    i = 8
    while i + 8 <= len(data):
        size = int.from_bytes(data[i:i + 4], "big")
        ctype = data[i + 4:i + 8]
        if ctype == b"IDAT":
            idat += data[i + 8:i + 8 + size]
        elif ctype == b"PLTE":
            plte = data[i + 8:i + 8 + size]
        if ctype == b"IEND":
            break
        i += 12 + size
    if not idat or (color_type == 3 and not plte):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    px = _png_scanlines(raw, w, h, bpp, interlace)
    if px is None:
        return None
    px = np.frombuffer(bytes(px), dtype=np.uint8).reshape(h, w, bpp)
    if color_type in (0, 4):
        return np.repeat(px[:, :, :1], 3, axis=2).astype(np.int64)
    if color_type == 3:
        pal = np.frombuffer(plte, dtype=np.uint8)
        if px.max() * 3 + 2 >= len(pal):
            return None
        return pal.reshape(-1, 3)[px[:, :, 0]].astype(np.int64)
    return px[:, :, :3].astype(np.int64)


def _gif_raster(data: bytes):
    import numpy as np

    if data is None or len(data) < 13 or data[:6] not in (b"GIF87a",
                                                          b"GIF89a"):
        return None
    packed = data[10]
    gct = None
    i = 13
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = data[13:13 + 3 * n]
        i = 13 + 3 * n
    while i < len(data):
        b = data[i]
        if b == 0x21:
            i += 2
            while i < len(data) and data[i] != 0:
                i += 1 + data[i]
            i += 1
        elif b == 0x2C:
            if i + 10 > len(data):
                return None
            w = int.from_bytes(data[i + 5:i + 7], "little")
            h = int.from_bytes(data[i + 7:i + 9], "little")
            ipacked = data[i + 9]
            i += 10
            table = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = data[i:i + 3 * n]
                i += 3 * n
            if table is None or i >= len(data):
                return None
            min_code = data[i]
            i += 1
            lzw = bytearray()
            while i < len(data) and data[i] != 0:
                size = data[i]
                lzw += data[i + 1:i + 1 + size]
                i += 1 + size
            try:
                idx = _gif_lzw_decode(min_code, bytes(lzw),
                                      max_out=w * h)[:w * h]
            except (ValueError, KeyError):
                return None
            if w <= 0 or h <= 0 or len(idx) < w * h:
                # w*h == 0 would make the truncation check vacuous and
                # leave an empty array reaching arr.max() below.
                return None
            pal = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3)
            arr = np.asarray(idx, dtype=np.int64)
            if arr.size == 0 or arr.max() >= pal.shape[0]:
                return None
            img = pal[arr].reshape(h, w, 3).astype(np.int64)
            if ipacked & 0x40:  # interlaced: stored row i is display
                disp = np.empty_like(img)  # row rows[i] (4-pass order)
                disp[_gif_interlace_rows(h)] = img
                img = disp
            return img
        else:
            return None
    return None


def decode_image_rgb(data: bytes):
    """Full-raster image decode to an (h, w, 3) int64 RGB array, or
    None — BMP / PNG / GIF / JPEG (baseline AND progressive) via the
    in-repo codecs; the JPEG lane keeps the decoded planes instead of
    reducing them, so real resize and feature extraction cover JPEG
    payloads too."""
    if data is None or len(data) < 4:
        return None
    if data[:1] == b"\x89":
        return _png_raster(data)
    if data[:3] == b"GIF":
        return _gif_raster(data)
    if data[:2] == b"BM":
        return _bmp_raster(data)
    if data[:2] == b"\xff\xd8":
        return _jpeg_raster(data)
    return None


def encode_bmp_rgb(raster) -> bytes:
    """24-bit bottom-up BMP writer for an (h, w, 3) RGB array — the
    re-encode half of real resize, symmetric with parse_bmp_pixels."""
    import struct

    import numpy as np

    arr = np.asarray(raster, dtype=np.int64)
    h, w = arr.shape[0], arr.shape[1]
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = arr[y, :, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        body += row + b"\x00" * (row_bytes - len(row))
    return (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(body), 0, 0, 0, 0) + bytes(body))


def resize_image_real(data: bytes, width: int, height: int) -> bytes | None:
    """Real image resize: decode raster -> nearest-neighbor resample
    (deterministic integer index map, no filtering kernel to disagree
    about) -> re-encode as 24-bit BMP. None when the payload has no
    raster decode (JPEG, corrupt, non-image)."""
    import numpy as np

    raster = decode_image_rgb(data)
    if raster is None:
        return None
    h, w = raster.shape[0], raster.shape[1]
    if h <= 0 or w <= 0 or width <= 0 or height <= 0:
        return None  # empty raster: index map below would go out of range
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return encode_bmp_rgb(raster[ys][:, xs])


# -- IMA ADPCM (WAV format tag 0x11, mono) ------------------------------------
#
# 4-bit differential PCM from the IMA Digital Audio Compatibility
# recommendations: a shared 89-entry step-size table (geometric,
# ~1.1x per index — a test asserts that growth property so a
# transcription slip in the constants cannot hide), per-block headers
# carrying the decoder state (predictor + table index), low nibble
# first. The tests' encoder runs the inverse state machine;
# compression error is bounded by the step size.

_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def parse_ima_adpcm_samples(data: bytes) -> dict | None:
    """Decode an IMA ADPCM WAV (mono or stereo) to the same exact
    aggregates as parse_wav_samples: {channels, sample_rate,
    n_samples, sum_sq, peak} (n_samples counts samples across
    channels). Stereo blocks follow the registered multichannel
    layout: one 4-byte state header per channel, then the coded
    nibbles interleaved in 4-byte (8-sample) groups, left channel
    group first. Other layouts return None."""
    if data is None or len(data) < 12 or data[:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        return None
    fmt_tag = channels = rate = block_align = bits = None
    block_samples = None
    body = None
    i = 12
    while i + 8 <= len(data):
        cid = data[i:i + 4]
        size = int.from_bytes(data[i + 4:i + 8], "little")
        chunk = data[i + 8:i + 8 + size]
        if cid == b"fmt " and len(chunk) >= 16:
            fmt_tag = int.from_bytes(chunk[0:2], "little")
            channels = int.from_bytes(chunk[2:4], "little")
            rate = int.from_bytes(chunk[4:8], "little")
            block_align = int.from_bytes(chunk[12:14], "little")
            bits = int.from_bytes(chunk[14:16], "little")
            if len(chunk) >= 20:
                block_samples = int.from_bytes(chunk[18:20], "little")
        elif cid == b"data":
            body = chunk
        i += 8 + size + (size & 1)
    if fmt_tag != 0x11 or channels not in (1, 2) or bits != 4 \
            or body is None or not rate or not block_align \
            or block_align < 4 * channels + 1:
        return None
    ch = channels
    n_samples = 0
    sum_sq = 0
    peak = 0
    expect = block_samples or (block_align - 4 * ch) * 2 // ch + 1
    for off in range(0, len(body), block_align):
        block = body[off:off + block_align]
        if len(block) < 4 * ch:
            return None
        preds, idxs, produced = [], [], []
        for c in range(ch):
            pred = int.from_bytes(block[4 * c:4 * c + 2], "little",
                                  signed=True)
            index = block[4 * c + 2]
            if index > 88:
                return None
            sum_sq += pred * pred
            peak = max(peak, abs(pred))
            preds.append(pred)
            idxs.append(index)
            produced.append(1)
        data_part = block[4 * ch:]
        # the nibble state machine, inlined with local variables — a
        # function call per nibble plus builtin max/min were the
        # bulk of decode time (A/B'd, aggregates identical)
        steps, itab = _IMA_STEPS, _IMA_INDEX
        for g in range(0, len(data_part), 4):
            c = (g // 4) % ch
            pred, index, prod = preds[c], idxs[c], produced[c]
            for byte in data_part[g:g + 4]:
                for n in (byte & 0x0F, byte >> 4):
                    if prod >= expect:
                        break
                    step = steps[index]
                    diff = step >> 3
                    if n & 1:
                        diff += step >> 2
                    if n & 2:
                        diff += step >> 1
                    if n & 4:
                        diff += step
                    pred = pred - diff if n & 8 else pred + diff
                    if pred < -32768:
                        pred = -32768
                    elif pred > 32767:
                        pred = 32767
                    index += itab[n & 7]
                    if index < 0:
                        index = 0
                    elif index > 88:
                        index = 88
                    sum_sq += pred * pred
                    if pred >= 0:
                        if pred > peak:
                            peak = pred
                    elif -pred > peak:
                        peak = -pred
                    prod += 1
            preds[c], idxs[c], produced[c] = pred, index, prod
        n_samples += sum(produced)
    return {"channels": ch, "sample_rate": rate, "n_samples": n_samples,
            "sum_sq": sum_sq, "peak": peak}


# -- FLAC (lossless compressed audio) ------------------------------------------
#
# The format large speech corpora actually ship (LibriSpeech & co), and
# — unlike MP3/AAC — fully implementable from the public spec (RFC
# 9639) with nothing beyond the standard library: Rice-coded residuals
# of fixed/LPC linear predictors, integer-exact by construction. The
# decoder covers STREAMINFO + frames with CONSTANT / VERBATIM / FIXED
# (orders 0-4) / LPC subframes, both Rice methods with escape codes,
# partition orders, stereo decorrelation (left/side, right/side,
# mid/side), wasted bits, UTF-8-coded sample numbers, and CRC-8/CRC-16
# verification. The encoder emits real compressed streams (FIXED
# predictors + Rice) so round-trip tests exercise the actual bit
# layout, not a degenerate verbatim path.

def _crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top \
                else (crc << 1) & mask
        table.append(crc)
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8_flac(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 — the FLAC
    frame-header checksum (table-driven, one lookup per byte)."""
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def _crc16_flac(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0 —
    the FLAC whole-frame checksum (table-driven)."""
    crc = 0
    table = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ table[(crc >> 8) ^ b]
    return crc


class _FlacBits:
    """MSB-first bit reader over a byte range (FLAC is big-endian
    bit-packed, unlike JPEG's stuffed stream — no unstuffing).

    State is one consumed-BIT position; ``bits`` extracts k bits with
    a single byte-slice + shift instead of k per-bit calls, and
    ``unary`` scans whole bytes for the terminating 1 (per-symbol
    Python dispatch dominated the Rice decode — A/B'd against the
    per-bit reader with identical aggregates). ``i``/``n`` keep the
    original byte-position contract for the CRC framing code."""

    def __init__(self, data: bytes, i: int = 0):
        self.data = data
        self._pos = i << 3  # consumed bits from the start of data

    @property
    def i(self) -> int:
        return self._pos >> 3

    @i.setter
    def i(self, v: int) -> None:
        self._pos = v << 3

    @property
    def n(self) -> int:
        return self._pos & 7

    def bit(self) -> int:
        p = self._pos
        byi = p >> 3
        if byi >= len(self.data):
            raise ValueError("flac bitstream exhausted")
        self._pos = p + 1
        return (self.data[byi] >> (7 - (p & 7))) & 1

    def bits(self, k: int) -> int:
        p = self._pos
        end = p + k
        byte_end = (end + 7) >> 3
        if byte_end > len(self.data):
            raise ValueError("flac bitstream exhausted")
        self._pos = end
        chunk = int.from_bytes(self.data[p >> 3:byte_end], "big")
        return (chunk >> ((byte_end << 3) - end)) & ((1 << k) - 1)

    def sbits(self, k: int) -> int:
        v = self.bits(k)
        return v - (1 << k) if v >= (1 << (k - 1)) else v

    def unary(self) -> int:
        data = self.data
        ln = len(data)
        p = self._pos
        q = 0
        while True:
            byi = p >> 3
            if byi >= ln:
                raise ValueError("flac bitstream exhausted")
            rem = data[byi] & (0xFF >> (p & 7))
            if rem:
                zeros = (8 - rem.bit_length()) - (p & 7)
                q += zeros
                if q > 1 << 24:
                    raise ValueError("flac unary runaway")
                self._pos = p + zeros + 1
                return q
            q += 8 - (p & 7)
            p += 8 - (p & 7)
            if q > 1 << 24:
                raise ValueError("flac unary runaway")

    def align(self) -> None:
        self._pos = (self._pos + 7) & ~7


def _flac_utf8_read(br: _FlacBits) -> int:
    """The frame header's UTF-8-style coded number (up to 36 bits)."""
    b0 = br.bits(8)
    if b0 < 0x80:
        return b0
    n = 0
    while (b0 << n) & 0x80:
        n += 1
    if n < 2 or n > 7:
        raise ValueError("bad utf8 coded number")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = br.bits(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad utf8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}
_FLAC_RATES = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}


def _flac_residuals(br: _FlacBits, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual section (both methods, escape partitions)."""
    method = br.bits(2)
    if method > 1:
        raise ValueError("reserved residual method")
    plen = 4 + method
    po = br.bits(4)
    n_part = 1 << po
    if blocksize % n_part or (blocksize >> po) == 0:
        raise ValueError("bad partition order")
    out: list[int] = []
    for p in range(n_part):
        n = (blocksize >> po) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("partition shorter than predictor order")
        param = br.bits(plen)
        if param == (1 << plen) - 1:  # escape: raw k-bit residuals
            k = br.bits(5)
            for _ in range(n):
                out.append(br.sbits(k) if k else 0)
        else:
            for _ in range(n):
                q = br.unary()
                v = (q << param) | br.bits(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag -> signed
    return out


_FLAC_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_subframe(br: _FlacBits, blocksize: int, bps: int) -> list[int]:
    """One subframe -> decoded channel samples."""
    if br.bit():
        raise ValueError("subframe pad bit set")
    ftype = br.bits(6)
    wasted = 0
    if br.bit():
        wasted = 1 + br.unary()
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("wasted bits exceed sample size")
    if ftype == 0:  # CONSTANT
        v = br.sbits(eff)
        out = [v] * blocksize
    elif ftype == 1:  # VERBATIM
        out = [br.sbits(eff) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        if order > blocksize:
            raise ValueError("order exceeds blocksize")
        out = [br.sbits(eff) for _ in range(order)]
        res = _flac_residuals(br, blocksize, order)
        # the FIXED polynomial predictors, unrolled (integer-exact;
        # the generic coefficient sum spent most of the decode in
        # genexpr dispatch)
        if order == 0:
            out = res  # no warmup samples at order 0
        elif order == 1:
            prev = out[-1]
            for r in res:
                prev = r + prev
                out.append(prev)
        elif order == 2:
            a, b = out[-1], out[-2]
            for r in res:
                a, b = r + 2 * a - b, a
                out.append(a)
        elif order == 3:
            a, b, c = out[-1], out[-2], out[-3]
            for r in res:
                a, b, c = r + 3 * a - 3 * b + c, a, b
                out.append(a)
        else:  # order 4
            a, b, c, d = out[-1], out[-2], out[-3], out[-4]
            for r in res:
                a, b, c, d = r + 4 * a - 6 * b + 4 * c - d, a, b, c
                out.append(a)
    elif ftype >= 32:  # LPC, order 1-32
        order = ftype - 31
        if order > blocksize:
            raise ValueError("order exceeds blocksize")
        out = [br.sbits(eff) for _ in range(order)]
        prec = br.bits(4) + 1
        if prec == 16:
            raise ValueError("invalid lpc precision")
        shift = br.sbits(5)
        if shift < 0:
            raise ValueError("negative lpc shift")
        coefs = [br.sbits(prec) for _ in range(order)]
        res = _flac_residuals(br, blocksize, order)
        for i, r in enumerate(res):
            k = order + i
            pred = sum(c * out[k - j - 1]
                       for j, c in enumerate(coefs)) >> shift
            out.append(r + pred)
    else:
        raise ValueError("reserved subframe type")
    if wasted:
        out = [v << wasted for v in out]
    return out


def parse_flac_samples(data: bytes) -> dict | None:
    """Decode a FLAC stream to the parse_wav_samples contract:
    {channels, sample_rate, n_samples, sum_sq, peak} — n_samples
    counts frames x channels, integer-exact (FLAC is lossless, so
    these equal the source PCM's aggregates bit-for-bit). None for
    non-FLAC or corrupt payloads (CRC-8/CRC-16 verified per frame)."""
    try:
        if data is None or len(data) < 42 or data[:4] != b"fLaC":
            return None
        i = 4
        info = None
        while i + 4 <= len(data):
            hdr = data[i]
            last = hdr & 0x80
            btype = hdr & 0x7F
            size = int.from_bytes(data[i + 1:i + 4], "big")
            if btype == 0 and size >= 34:
                info = data[i + 4:i + 4 + 34]
            i += 4 + size
            if last:
                break
        if info is None or i > len(data):
            return None
        rate_si = int.from_bytes(info[10:13], "big") >> 4
        channels_si = ((info[12] >> 1) & 0x07) + 1
        bps_si = (((info[12] & 1) << 4) | (info[13] >> 4)) + 1
        total = ((info[13] & 0x0F) << 32) | int.from_bytes(info[14:18], "big")
        if not rate_si or channels_si > 8:
            return None

        n_samples = 0
        sum_sq = 0
        peak = 0
        decoded = 0
        while i < len(data) and (total == 0 or decoded < total):
            # frame sync: 14 bits 0b11111111111110
            if i + 2 > len(data):
                break
            if data[i] != 0xFF or (data[i + 1] & 0xFC) != 0xF8:
                return None
            hdr_start = i
            br = _FlacBits(data, i)
            br.bits(14)
            if br.bit():
                return None  # reserved
            br.bit()  # blocking strategy
            bs_code = br.bits(4)
            sr_code = br.bits(4)
            ch_code = br.bits(4)
            ss_code = br.bits(3)
            if br.bit():
                return None  # reserved
            _flac_utf8_read(br)
            if bs_code == 0 or sr_code == 15 or ch_code > 10:
                return None
            if bs_code == 6:
                blocksize = br.bits(8) + 1
            elif bs_code == 7:
                blocksize = br.bits(16) + 1
            else:
                blocksize = _FLAC_BLOCKSIZES[bs_code]
            if sr_code == 0:
                rate = rate_si
            elif sr_code == 12:
                rate = br.bits(8) * 1000
            elif sr_code == 13:
                rate = br.bits(16)
            elif sr_code == 14:
                rate = br.bits(16) * 10
            else:
                rate = _FLAC_RATES[sr_code]
            bps = {0: bps_si, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24,
                   7: 32}.get(ss_code)
            if bps is None:
                return None
            if br.n:
                br.align()
            crc_end = br.i
            if _crc8_flac(data[hdr_start:crc_end]) != data[crc_end]:
                return None
            br.i = crc_end + 1

            if ch_code <= 7:
                nch = ch_code + 1
                chans = [_flac_subframe(br, blocksize, bps)
                         for _ in range(nch)]
            else:
                nch = 2
                if ch_code == 8:    # left/side
                    left = _flac_subframe(br, blocksize, bps)
                    side = _flac_subframe(br, blocksize, bps + 1)
                    chans = [left, [l - s for l, s in zip(left, side)]]
                elif ch_code == 9:  # right/side
                    side = _flac_subframe(br, blocksize, bps + 1)
                    right = _flac_subframe(br, blocksize, bps)
                    chans = [[r + s for r, s in zip(right, side)], right]
                else:               # mid/side
                    mid = _flac_subframe(br, blocksize, bps)
                    side = _flac_subframe(br, blocksize, bps + 1)
                    # l+r = 2*mid + parity, and parity(l+r) == parity(side)
                    left = [(((m << 1) | (s & 1)) + s) >> 1
                            for m, s in zip(mid, side)]
                    chans = [left,
                             [l - s for l, s in zip(left, side)]]
            br.align()
            if br.i + 2 > len(data):
                return None
            if _crc16_flac(data[hdr_start:br.i]) != \
                    int.from_bytes(data[br.i:br.i + 2], "big"):
                return None
            i = br.i + 2
            if channels_si != nch:
                return None
            for ch in chans:
                for v in ch:
                    sum_sq += v * v
                    if abs(v) > peak:
                        peak = abs(v)
                n_samples += len(ch)
            decoded += blocksize
        if n_samples == 0:
            return None
        return {"channels": channels_si, "sample_rate": rate_si,
                "n_samples": n_samples, "sum_sq": sum_sq, "peak": peak}
    except (ValueError, IndexError, KeyError):
        return None


class _FlacBitWriter:
    """MSB-first bit writer (no stuffing — FLAC frames are raw)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, k: int) -> None:
        # batch append + whole-byte emission (bit-identical to the
        # per-bit loop, same rationale as JPEG's _BitWriter)
        acc = (self.acc << k) | (v & ((1 << k) - 1))
        n = self.n + k
        buf = self.buf
        while n >= 8:
            n -= 8
            buf.append((acc >> n) & 0xFF)
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.buf)


def _flac_utf8_write(bw: _FlacBitWriter, v: int) -> None:
    if v < 0x80:
        bw.write(v, 8)
        return
    # count continuation bytes needed
    for n in range(2, 8):
        if v < (1 << (1 + 5 * n)) or n == 7:
            break
    lead = (0xFF00 >> n) & 0xFF
    bw.write(lead | (v >> (6 * (n - 1))), 8)
    for j in range(n - 2, -1, -1):
        bw.write(0x80 | ((v >> (6 * j)) & 0x3F), 8)


def _flac_rice_bits(res: list[int], param: int) -> int:
    total = 0
    for r in res:
        z = (r << 1) ^ (r >> 63) if r >= 0 else ((-r << 1) - 1)
        total += (z >> param) + 1 + param
    return total


def _flac_write_residuals(bw: _FlacBitWriter, res: list[int]) -> None:
    """Single-partition Rice method 0, best 4-bit parameter (escape
    to raw when even the best Rice blows up)."""
    best_param, best_bits = 0, None
    for param in range(15):
        bits = _flac_rice_bits(res, param)
        if best_bits is None or bits < best_bits:
            best_param, best_bits = param, bits
    raw_k = max((abs(r).bit_length() + 1 for r in res), default=1)
    raw_k = min(raw_k, 31)
    bw.write(0, 2)   # method 0 (4-bit rice)
    bw.write(0, 4)   # partition order 0
    if best_bits > len(res) * (raw_k + 1):
        bw.write(0xF, 4)        # escape
        bw.write(raw_k, 5)
        for r in res:
            bw.write(r & ((1 << raw_k) - 1), raw_k)
    else:
        bw.write(best_param, 4)
        for r in res:
            z = (r << 1) if r >= 0 else ((-r << 1) - 1)
            bw.unary(z >> best_param)
            bw.write(z & ((1 << best_param) - 1), best_param)


def _flac_write_subframe(bw: _FlacBitWriter, ch: list[int],
                         bps: int) -> None:
    """CONSTANT when flat, else the best FIXED order 0-2 by Rice cost
    (warmup + residuals), VERBATIM when prediction loses. Shared low
    zero bits shift out through the wasted-bits field (header order
    per spec: pad bit, 6-bit type, wasted flag + unary count)."""
    wasted = 0
    if any(ch):
        while wasted < bps - 1 and all(v & ((2 << wasted) - 1) == 0
                                       for v in ch):
            wasted += 1
    shifted = [v >> wasted for v in ch] if wasted else ch
    eff = bps - wasted

    def header(ftype: int) -> None:
        bw.write(0, 1)        # pad
        bw.write(ftype, 6)    # type
        if wasted:
            bw.write(1, 1)
            bw.unary(wasted - 1)
        else:
            bw.write(0, 1)

    if all(v == shifted[0] for v in shifted):
        header(0)  # CONSTANT
        bw.write(shifted[0] & ((1 << eff) - 1), eff)
        return
    best = None
    for order in (0, 1, 2):
        if order >= len(shifted):
            break
        res = []
        for k in range(order, len(shifted)):
            pred = sum(c * shifted[k - j - 1] for j, c in
                       enumerate(_FLAC_FIXED[order]))
            res.append(shifted[k] - pred)
        cost = order * eff + min(_flac_rice_bits(res, p)
                                 for p in range(15))
        if best is None or cost < best[0]:
            best = (cost, order, res)
    if best is None or best[0] >= len(shifted) * eff:
        header(1)  # VERBATIM
        for v in shifted:
            bw.write(v & ((1 << eff) - 1), eff)
        return
    _cost, order, res = best
    header(8 + order)  # FIXED
    for v in shifted[:order]:
        bw.write(v & ((1 << eff) - 1), eff)
    _flac_write_residuals(bw, res)


def encode_flac(samples: list[int], sample_rate: int = 16000,
                channels: int = 1, blocksize: int = 4096,
                stereo_mode: str = "independent") -> bytes:
    """Real FLAC encoder: 16-bit samples (interleaved when stereo) ->
    fLaC + STREAMINFO + frames using CONSTANT / FIXED(0-2)+Rice /
    VERBATIM subframes with wasted-bits detection, UTF-8 frame
    numbers, CRC-8 header and CRC-16 frame checksums. stereo_mode
    picks the channel assignment — independent, left_side,
    right_side, or mid_side (side subframes carry bps+1, per spec) —
    so every decoder decorrelation path has an encoder that produces
    it. Decoders that follow the spec (flac, ffmpeg) accept the
    output."""
    import struct

    if channels not in (1, 2):
        raise ValueError("channels must be 1 or 2")
    modes = {"independent": None, "left_side": 8,
             "right_side": 9, "mid_side": 10}
    if stereo_mode not in modes:
        raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
    if stereo_mode != "independent" and channels != 2:
        raise ValueError("decorrelation requires 2 channels")
    if len(samples) % channels:
        raise ValueError("sample count not divisible by channels")
    bps = 16
    n_frames_total = len(samples) // channels
    out = bytearray(b"fLaC")
    info = bytearray()
    info += struct.pack(">HH", min(blocksize, max(1, n_frames_total)),
                        blocksize)
    info += b"\x00" * 6  # min/max framesize unknown
    # 20 bits rate | 3 bits channels-1 | 5 bits bps-1 | 36 bits total
    packed = (sample_rate << 44) | ((channels - 1) << 41) \
        | ((bps - 1) << 36) | n_frames_total
    info += packed.to_bytes(8, "big")
    info += b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)

    for fi, start in enumerate(range(0, n_frames_total, blocksize)):
        nblk = min(blocksize, n_frames_total - start)
        bw = _FlacBitWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocksize stream
        bs_code = 12 if nblk == 4096 else 7
        bw.write(bs_code, 4)
        bw.write(0, 4)       # rate from STREAMINFO
        ch_code = modes[stereo_mode]
        bw.write(channels - 1 if ch_code is None else ch_code, 4)
        bw.write(4, 3)       # 16-bit
        bw.write(0, 1)       # reserved
        _flac_utf8_write(bw, fi)
        if bs_code == 7:
            bw.write(nblk - 1, 16)
        bw.align()
        hdr = bw.bytes()
        bw2 = _FlacBitWriter()
        chans = [list(samples[start * channels + c:
                              (start + nblk) * channels:channels])
                 for c in range(channels)]
        if ch_code is None:
            for chan in chans:
                _flac_write_subframe(bw2, chan, bps)
        else:
            left, right = chans
            side = [l - r for l, r in zip(left, right)]
            if ch_code == 8:    # left/side
                _flac_write_subframe(bw2, left, bps)
                _flac_write_subframe(bw2, side, bps + 1)
            elif ch_code == 9:  # right/side
                _flac_write_subframe(bw2, side, bps + 1)
                _flac_write_subframe(bw2, right, bps)
            else:               # mid/side
                mid = [(l + r) >> 1 for l, r in zip(left, right)]
                _flac_write_subframe(bw2, mid, bps)
                _flac_write_subframe(bw2, side, bps + 1)
        bw2.align()
        frame = hdr + bytes([_crc8_flac(hdr)]) + bw2.bytes()
        out += frame + _crc16_flac(frame).to_bytes(2, "big")
    return bytes(out)


# -- Y4M (YUV4MPEG2) raw video ------------------------------------------------
#
# The second video container with REAL pixel decode next to MJPEG AVI:
# Y4M is the uncompressed interchange format the mjpegtools/ffmpeg
# world standardized — an ASCII parameter line, then FRAME-delimited
# raw planar YCbCr. No entropy coding, so the decode lane is pure
# plane slicing + numpy sums; at 100 TB this is the I/O-bound shape
# (vs the CPU-bound JPEG lane) and the pair brackets real video work.

_Y4M_CHROMA_DIV = {
    # colorspace tag -> (x_div, y_div) for the chroma planes
    "420": (2, 2), "420jpeg": (2, 2), "420mpeg2": (2, 2),
    "420paldv": (2, 2), "422": (2, 1), "444": (1, 1),
}


def parse_y4m_frames(data: bytes) -> dict | None:
    """YUV4MPEG2 -> {width, height, fps_num, fps_den, colorspace,
    frames: [(y, u, v) plane bytes, ...]}. None for anything
    malformed (wrong magic, bad params, odd dims under 4:2:0,
    truncated frame payload) — total by contract, and every slice is
    bounded by len(data) so corrupt headers cannot drive allocation."""
    try:
        if data is None or not data.startswith(b"YUV4MPEG2"):
            return None
        nl = data.find(b"\n", 0, 2048)
        if nl < 0:
            return None
        w = h = None
        fps_num, fps_den, cs = 25, 1, "420jpeg"
        for tok in data[9:nl].split(b" "):
            if not tok:
                continue
            tag, val = tok[:1], tok[1:]
            if tag == b"W":
                w = int(val)
            elif tag == b"H":
                h = int(val)
            elif tag == b"F":
                num, den = val.split(b":")
                fps_num, fps_den = int(num), int(den)
            elif tag == b"C":
                cs = val.decode("ascii", "replace")
            # Ip/A/X params carry no plane-layout information
        if not w or not h or w <= 0 or h <= 0 or fps_den <= 0 \
                or fps_num <= 0:
            return None
        div = _Y4M_CHROMA_DIV.get(cs)
        if div is None:
            if cs == "mono":
                div = (0, 0)
            else:
                return None
        # a dimension must be divisible by its chroma divisor, or the
        # floored plane size silently drops chroma columns/rows: 4:2:0
        # needs both even, 4:2:2 needs even width
        if (div[0] == 2 and w % 2) or (div[1] == 2 and h % 2):
            return None
        ysz = w * h
        csz = 0 if div == (0, 0) else (w // div[0]) * (h // div[1])
        frames = []
        i = nl + 1
        while i < len(data):
            if data[i:i + 5] != b"FRAME":
                return None
            fnl = data.find(b"\n", i, i + 2048)
            if fnl < 0:
                return None
            j = fnl + 1
            if j + ysz + 2 * csz > len(data):
                return None  # truncated frame payload
            y = data[j:j + ysz]
            u = data[j + ysz:j + ysz + csz]
            v = data[j + ysz + csz:j + ysz + 2 * csz]
            frames.append((y, u, v))
            i = j + ysz + 2 * csz
        if not frames:
            return None
        return {"width": w, "height": h, "fps_num": fps_num,
                "fps_den": fps_den, "colorspace": cs, "frames": frames}
    except Exception:
        return None


def encode_y4m(width: int, height: int,
               frames: list[tuple[bytes, bytes, bytes]],
               fps: tuple[int, int] = (25, 1),
               colorspace: str = "420jpeg") -> bytes:
    """Spec-shaped YUV4MPEG2 writer: parameter line + FRAME-delimited
    raw planes. Any y4m-reading tool (ffmpeg, mjpegtools) sees a
    valid stream; exists to exercise the parser and the frame-stats
    lane."""
    if colorspace == "mono":
        div = None
    else:
        div = _Y4M_CHROMA_DIV.get(colorspace)
        if div is None:
            raise ValueError(f"unsupported y4m colorspace {colorspace!r}")
        if (div[0] == 2 and width % 2) or (div[1] == 2 and height % 2):
            raise ValueError(
                f"C{colorspace} needs dims divisible by {div}; "
                f"got {width}x{height}")
    ysz = width * height
    csz = 0 if div is None else (width // div[0]) * (height // div[1])
    head = (f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 "
            f"C{colorspace}\n").encode()
    out = bytearray(head)
    for y, u, v in frames:
        if len(y) != ysz or len(u) != csz or len(v) != csz:
            raise ValueError("plane size mismatch")
        out += b"FRAME\n" + y + u + v
    return bytes(out)


Y4M_FRAME_STATS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sum_y", T.LongType()),
    T.StructField("sum_u", T.LongType()),
    T.StructField("sum_v", T.LongType()),
])


def y4m_frame_stats(df: DataFrame) -> DataFrame:
    """media binary (Y4M) -> one row per frame with per-plane sums,
    Arrow-batched mapInPandas. The uncompressed sibling of
    mjpeg_frame_stats_fused: container walk -> plane slice -> numpy sum,
    no per-pixel Python. Non-Y4M payloads yield no rows."""
    return df.select("id", "media").mapInPandas(
        _y4m_stats_batches, schema=Y4M_FRAME_STATS_SCHEMA)


def _y4m_stats_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The parse half of y4m_frame_stats as a plain batch transformer,
    composable with a synthesizer's batch generator into ONE
    mapInPandas (see the *_fused lane builders)."""
    import numpy as np

    for pdf in batches:
        ids, idxs, ws, hs, sy, su, sv = [], [], [], [], [], [], []
        for rid, b in zip(pdf["id"], pdf["media"]):
            if b is None:
                continue
            d = parse_y4m_frames(bytes(b))
            if d is None:
                continue
            for idx, (y, u, v) in enumerate(d["frames"]):
                ids.append(rid)
                idxs.append(idx)
                ws.append(d["width"])
                hs.append(d["height"])
                sy.append(int(np.frombuffer(y, np.uint8)
                              .sum(dtype=np.int64)))
                su.append(int(np.frombuffer(u, np.uint8)
                              .sum(dtype=np.int64)))
                sv.append(int(np.frombuffer(v, np.uint8)
                              .sum(dtype=np.int64)))
        yield pd.DataFrame({
            "id": pd.array(ids, dtype="Int64"),
            "frame_idx": pd.array(idxs, dtype="Int32"),
            "width": pd.array(ws, dtype="Int32"),
            "height": pd.array(hs, dtype="Int32"),
            "sum_y": pd.array(sy, dtype="Int64"),
            "sum_u": pd.array(su, dtype="Int64"),
            "sum_v": pd.array(sv, dtype="Int64"),
        })


def synthesize_y4m_table(documents: DataFrame) -> DataFrame:
    """Decodable Y4M streams from the documents table: doc_id%3+1
    solid 4:2:0 frames at even dims w=doc_id%6*2+8, h=doc_id%5*2+8.
    Plane fills are closed forms of (doc_id, frame_idx) —
    y=(5*doc_id+17*i)%220+16, u=(3*doc_id+29*i)%225+16,
    v=(7*doc_id+41*i)%225+16 — so each frame's per-plane sums are
    fill * plane_size for the oracle."""
    return _spread_small_scan(documents).select("doc_id").mapInPandas(
        _y4m_synth_batches, schema=JPEG_SCHEMA)


def _y4m_synth_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"].tolist()
        media = []
        for did in ids:
            w = did % 6 * 2 + 8
            h = did % 5 * 2 + 8
            nf = did % 3 + 1
            ysz, csz = w * h, (w // 2) * (h // 2)
            frames = [
                (bytes([(5 * did + 17 * i) % 220 + 16]) * ysz,
                 bytes([(3 * did + 29 * i) % 225 + 16]) * csz,
                 bytes([(7 * did + 41 * i) % 225 + 16]) * csz)
                for i in range(nf)]
            media.append(encode_y4m(w, h, frames, fps=(30, 1)))
        yield pd.DataFrame({"id": pd.array(ids, dtype="Int64"),
                            "media": media})


# -- Fused synthesize→decode lane builders (r17 session 2) --------------------
#
# The five heavy Python-codec lanes were built as TWO chained
# mapInPandas (synthesize → decode). Chained MapInPandas nodes are NOT
# fused by Spark: each task runs one Python worker PER node, so a
# width-k fan-out holds 2k workers and ships every media payload
# across the JVM boundary twice (python→JVM→python) for no reason —
# the bytes exist only to be decoded back into stats. Each fused
# builder composes the two batch generators inside ONE mapInPandas:
# half the worker demand, half the per-task boundary setups, and the
# media column never crosses Arrow at all (guide §4.1: control how
# many columns cross; here: none). Row-identical by construction —
# the decode half consumes the synth half's exact pdf batches, only
# without an Arrow round-trip in between. The un-fused public
# functions stay for the header/AB/pytest surfaces.

def jpeg_pixel_stats_fused(documents: DataFrame) -> DataFrame:
    """synthesize_jpeg_table → image_pixel_stats in ONE mapInPandas."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _pixel_stats_batches(_jpeg_synth_batches(batches),
                                    decode_image_pixels)
    return (_spread_small_scan(documents).select("doc_id")
            .mapInPandas(run, schema=PIXEL_STATS_SCHEMA))


def progressive_jpeg_pixel_stats_fused(documents: DataFrame) -> DataFrame:
    """synthesize_progressive_jpeg_table → image_pixel_stats in ONE
    mapInPandas."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _pixel_stats_batches(_progressive_synth_batches(batches),
                                    decode_image_pixels)
    return (_spread_small_scan(documents).select("doc_id")
            .mapInPandas(run, schema=PIXEL_STATS_SCHEMA))


def flac_sample_stats_fused(documents: DataFrame) -> DataFrame:
    """synthesize_flac_table → audio_sample_stats in ONE mapInPandas."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _sample_stats_batches(_flac_synth_batches(batches))
    return _flac_synth_input(documents).mapInPandas(
        run, schema=SAMPLE_STATS_SCHEMA)


def mjpeg_frame_stats_fused(documents: DataFrame,
                            every_ms: int = 1000) -> DataFrame:
    """Synthesized MJPEG AVIs (_mjpeg_synth_batches) → one row per
    sampled frame with its decoded pixel sum, in ONE mapInPandas."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _frame_stats_batches(_mjpeg_synth_batches(batches),
                                    every_ms)
    return (_spread_small_scan(documents).select("doc_id")
            .mapInPandas(run, schema=FRAME_STATS_SCHEMA))


def y4m_frame_stats_fused(documents: DataFrame) -> DataFrame:
    """synthesize_y4m_table → y4m_frame_stats in ONE mapInPandas."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _y4m_stats_batches(_y4m_synth_batches(batches))
    return (_spread_small_scan(documents).select("doc_id")
            .mapInPandas(run, schema=Y4M_FRAME_STATS_SCHEMA))
