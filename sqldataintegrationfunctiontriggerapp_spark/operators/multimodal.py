"""Multimodal column plumbing (north-star C7): image/audio/video as opaque
binary columns with typed metadata, decoded executor-side over Arrow-batched
mapInPandas.

Two seams carry every codec:

- `synth_media(docs, bytes_fn)` turns each doc_id into a deterministic
  fixture payload (`_png_full_bytes`, `_gif_full_bytes`, ...), giving the
  (media_id, content) layout a real ingest would land.
- `decode_media(media, codec)` runs one row function from `CODECS` over
  every (media_id, content) pair. A codec is declared once, as its DDL
  output schema plus a `(media_id, bytes) -> list[tuple]` row function,
  so a caller names a codec and never pairs a schema by hand. The pandas
  frame's column names and nullable dtypes are derived from that schema.

Decoders are pure stdlib/numpy and never throw per row: a NULL cell, junk
bytes or a truncated payload degrades that row (status 'unknown' or
'corrupt', header fields kept where they parse) instead of failing the
task -- a 100 TB crawl always contains corrupt files. Real decodes:
PNG/JPEG container headers; PNG pixels (all five row filters, Adam7);
baseline, 4:2:0-subsampled and progressive JPEG; GIF (LZW, interlace,
local palettes); WAV/PCM and IMA-ADPCM audio; the AVI container; and MJPEG
video frames. The remaining boundary is perceptual audio codecs (MP3/AAC)
and non-MJPEG video frame payloads, which stay opaque bytes.
`extract_features` is the byte-statistics feature stub over text media.

Scale notes: binary payloads ride in parquet as BYTE_ARRAY; with
`spark.sql.files.maxPartitionBytes` at 128 MB a 100 TB media table yields
~800k splits processed independently. mapInPandas streams Arrow batches, so
executor memory is bounded by batch size (spark.sql.execution.arrow.
maxRecordsPerBatch), not partition size.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, content binary, media_type string, "
    "byte_len bigint, content_md5 string"
)

FEATURE_SCHEMA = (
    "media_id bigint, media_type string, byte_len bigint, "
    "content_md5 string, width int, height int, n_channels int, "
    "feature_0 double, feature_1 double"
)


def _warm_noop(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Identity mapInPandas body defined IN this module: shipping it to the
    Python workers pickles it BY REFERENCE, so each (reused) worker imports
    the engine package -- numpy/pandas included -- once, before any measured
    query needs it. See session.warm_python_workers."""
    yield from batches


def warm_python_workers(spark, n_tasks: int | None = None) -> None:
    """Pay the per-worker engine-module import outside the measured path
    (OPTIMIZATION r15): Python workers are long-lived (
    spark.python.worker.reuse default), but the FIRST task that ships a
    function pickled by reference triggers `import <engine package>` --
    numpy + pandas + module bytecode -- in every worker concurrently.
    Measured: the first spread decode query pays 5-6.6 s at local[32]
    while every later one runs ~1.2 s. Real clusters run long-lived
    workers, so this cost is deployment time, not query time -- the same
    rationale as bench.py's existing JVM/pandas_udf warmups."""
    sc = spark.sparkContext
    n = int(n_tasks or sc.defaultParallelism)
    (
        spark.range(n, numPartitions=n)
        .mapInPandas(_warm_noop, schema="id long")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's defaultParallelism when
    the input arrives in fewer splits than cores (OPTIMIZATION r15, guide
    §2.5 input parallelism): the synth+decode entries are CPU-bound
    per-row Python, and the sf fixtures are single parquet files, so
    without this every codec entry serialized its whole encode+decode on
    ONE core (measured: GIF synth+decode 6.75 s single-task vs 0.94 s
    spread at sf0.1 / local[32]). The exchange carries only the columns
    the synth selects (doc_id -- 8 bytes/row), so the shuffle is ~free at
    any scale; inputs already wider than the core count (a real 100 TB
    media table's ~800k splits) pass through untouched. Per-row outputs
    are pure functions of the row, so placement cannot change any result.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents fixture: text encoded to a
    binary content column + typed metadata -- the engine's canonical
    multimodal layout (binary payload, metadata columns beside it)."""
    content = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        content.alias("content"),
        F.lit("text/plain").alias("media_type"),
        F.length(content).cast("long").alias("byte_len"),
        F.md5(content).alias("content_md5"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Feature-extract via mapInPandas: dimensions and features are
    deterministic functions of the payload bytes, so tests and the oracle
    can assert exact values."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            lens = content.map(len)
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["byte_len"],
                    "content_md5": pdf["content_md5"],
                    "width": (lens % 640).astype("int32"),
                    "height": (lens % 480).astype("int32"),
                    "n_channels": pd.Series([3] * len(pdf), dtype="int32"),
                    "feature_0": content.map(lambda b: (sum(b[:64]) % 1000) / 1000.0),
                    "feature_1": lens / 1000.0,
                }
            )
            yield out

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 100) -> DataFrame:
    """'Frame sampling' over the opaque payload: one row per sampled offset
    (for video this is the keyframe-extraction shape: explode a binary blob
    into per-frame rows executor-side, no driver involvement)."""
    n_frames = (F.col("byte_len") / every_n_bytes).cast("int")
    return media.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames)).alias("frame_no"),
    ).withColumn("byte_offset", F.col("frame_no") * every_n_bytes)


# ---------------------------------------------------------------------------
# Real (pure-stdlib) container-header decoding: dimension/channel
# extraction from actual PNG/JPEG bytes (codec 'image_dims').

DIMS_SCHEMA = (
    "media_id bigint, format string, width int, height int, n_channels int"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> sample count per pixel (ISO/IEC 15948 table 11.1)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOF markers carry frame dims; C4/C8/CC look like SOFs but are not
_JPEG_SOF = {
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
}


def _parse_png(buf: bytes):
    """(width, height, channels) from a PNG IHDR, or None if not a PNG.
    IHDR is REQUIRED to be the first chunk (signature + 4-byte length +
    'IHDR'), so the parse is fixed-offset."""
    if len(buf) < 29 or not buf.startswith(_PNG_SIG) or buf[12:16] != b"IHDR":
        return None
    width = int.from_bytes(buf[16:20], "big")
    height = int.from_bytes(buf[20:24], "big")
    color_type = buf[25]
    # corrupt-header hardening (the never-throw-per-row contract): the spec
    # bounds dims to 1..2^31-1 -- a bit-flipped field like FF FF FF FF must
    # degrade to 'unknown', not overflow the Int32 output column and kill
    # the task; an out-of-table color type is equally unparseable metadata
    if not (0 < width <= 0x7FFFFFFF and 0 < height <= 0x7FFFFFFF):
        return None
    if color_type not in _PNG_CHANNELS:
        return None
    return width, height, _PNG_CHANNELS[color_type]


def _parse_jpeg(buf: bytes):
    """(width, height, channels) from the first JPEG SOFn segment, or None.
    Unlike PNG the frame header FLOATS behind a variable number of
    APPn/COM/quant segments, so this is a real marker scan: each non-SOF
    segment is skipped by its own 2-byte big-endian length."""
    if len(buf) < 4 or buf[0] != 0xFF or buf[1] != 0xD8:
        return None
    i = 2
    n = len(buf)
    while i + 3 < n:
        if buf[i] != 0xFF:
            return None  # desynchronized -- corrupt header
        marker = buf[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if 0xD0 <= marker <= 0xD9 or marker == 0x01:  # standalone
            i += 2
            continue
        seg_len = int.from_bytes(buf[i + 2:i + 4], "big")
        if seg_len < 2:
            return None  # a segment length below its own 2 bytes is corrupt
        if marker in _JPEG_SOF:
            if i + 9 >= n:
                return None
            height = int.from_bytes(buf[i + 5:i + 7], "big")
            width = int.from_bytes(buf[i + 7:i + 9], "big")
            n_comp = buf[i + 9]
            # width/height/components are required non-zero in a frame
            # header (height 0 = deferred-DNL streams, unparseable here)
            if width == 0 or height == 0 or n_comp == 0:
                return None
            return width, height, n_comp
        i += 2 + seg_len
    return None


def _png_bytes(width: int, height: int, color_type: int = 2) -> bytes:
    """Minimal PNG header fixture: signature + IHDR (zero CRC -- the
    dimension decoder reads the header, it does not verify checksums)."""
    ihdr = (
        width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes([8, color_type, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"
    )


def _jpeg_bytes(width: int, height: int, n_comp: int = 3) -> bytes:
    """Minimal JPEG header fixture: SOI + APP0(JFIF) + COM + SOF0. The two
    leading variable-length segments make the SOF offset float, so the
    decoder's marker scan is actually exercised."""
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x02\x00" \
        + b"\x00\x01\x00\x01\x00\x00"
    comment = b"synthetic header fixture"
    com = b"\xff\xfe" + (len(comment) + 2).to_bytes(2, "big") + comment
    sof = (
        b"\xff\xc0"
        + (8 + 3 * n_comp).to_bytes(2, "big")
        + bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([n_comp])
        + b"".join(bytes([i + 1, 0x11, 0]) for i in range(n_comp))
    )
    return b"\xff\xd8" + app0 + com + sof + b"\xff\xd9"


def _image_header_bytes(doc_id: int) -> bytes:
    """Header fixture for the 'image_dims' codec: even doc_ids become PNGs,
    odd become JPEGs, with dims a pure function of doc_id (so an external
    oracle can recompute the expected decode output without parsing
    bytes)."""
    w, h = doc_id % 640 + 1, doc_id % 480 + 1
    return _png_bytes(w, h) if doc_id % 2 == 0 else _jpeg_bytes(w, h)


# ---------------------------------------------------------------------------
# Real (pure-stdlib) PNG PIXEL decoding -- VERDICT r11 #2: zlib inflate +
# per-row unfilter (all five ISO/IEC 15948 filter types). The synthetic
# fixture writes REAL PNGs (correct CRCs, split IDAT, every filter type in
# rotation) whose pixel values are a closed-form function of (doc_id, x, y,
# channel), so an arithmetic oracle can recompute the decoded statistics
# without touching a byte.

PIXEL_SCHEMA = (
    "media_id bigint, status string, width int, height int, n_channels int, "
    "c0_sum bigint, c1_sum bigint, c2_sum bigint, px_min int, px_max int"
)

# Position-sensitive variant shared by the interlaced decoders (GIF 4-pass,
# PNG Adam7): channel sums are row-permutation-invariant, so these entries
# additionally carry wpos_sum = sum over raster order of c0(x,y)*(y*w+x+1),
# which any dropped/swapped/offset deinterlace pass breaks.
POS_PIXEL_SCHEMA = (
    "media_id bigint, status string, width int, height int, "
    "c0_sum bigint, c1_sum bigint, c2_sum bigint, wpos_sum bigint"
)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import zlib

    return (
        len(payload).to_bytes(4, "big")
        + tag
        + payload
        + (zlib.crc32(tag + payload) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _png_full_bytes(doc_id: int) -> bytes:
    """A complete, spec-valid RGB8 PNG whose pixel (x, y, c) carries
    (x + 2y + 3c + doc_id) % 256, with W = doc_id%16+1, H = doc_id%12+1.
    Scanline y uses filter type y % 5, so a decoder must reverse ALL of
    None/Sub/Up/Average/Paeth to recover the pattern; the IDAT stream is
    split in two chunks so chunk concatenation is exercised; CRCs are real.
    doc_id % 97 == 0 payloads get their IDAT truncated mid-stream -- the
    corrupt-file case a 100 TB crawl always contains."""
    import zlib

    w, h, ch = doc_id % 16 + 1, doc_id % 12 + 1, 3
    stride = w * ch

    def raw_row(y: int) -> bytes:
        return bytes(
            (x + 2 * y + 3 * c + doc_id) % 256
            for x in range(w)
            for c in range(ch)
        )

    filtered = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = raw_row(y)
        f = y % 5
        filtered.append(f)
        if f == 0:
            out = row
        elif f == 1:  # Sub
            out = bytes(
                (row[k] - (row[k - ch] if k >= ch else 0)) & 255
                for k in range(stride)
            )
        elif f == 2:  # Up
            out = bytes((row[k] - prev[k]) & 255 for k in range(stride))
        elif f == 3:  # Average
            out = bytes(
                (row[k] - (((row[k - ch] if k >= ch else 0) + prev[k]) >> 1))
                & 255
                for k in range(stride)
            )
        else:  # Paeth
            out = bytearray()
            for k in range(stride):
                a = row[k - ch] if k >= ch else 0
                b = prev[k]
                cc = prev[k - ch] if k >= ch else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                out.append((row[k] - pred) & 255)
            out = bytes(out)
        filtered += out
        prev = row

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    )
    z = zlib.compress(bytes(filtered), 6)
    if doc_id % 97 == 0 and len(z) > 4:
        z = z[: len(z) // 2]  # truncated stream: inflate must fail
    half = max(1, len(z) // 2)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", z[:half])
        + _png_chunk(b"IDAT", z[half:])
        + _png_chunk(b"IEND", b"")
    )


def _decode_png_pixels_one(buf: bytes):
    """(w, h, ch, c_sums[3], px_min, px_max) or ('corrupt', w, h, ch) --
    full chunk walk + inflate + unfilter. Never throws: every malformed
    layer (signature, IHDR, unsupported depth/interlace, zlib, size
    mismatch) degrades per-row."""
    import zlib

    if len(buf) < 33 or not buf.startswith(_PNG_SIG):
        return None
    if buf[12:16] != b"IHDR":
        return None
    w = int.from_bytes(buf[16:20], "big")
    h = int.from_bytes(buf[20:24], "big")
    depth, color_type, interlace = buf[24], buf[25], buf[28]
    if color_type not in _PNG_CHANNELS or not (0 < w <= 0x7FFFFFFF and 0 < h <= 0x7FFFFFFF):
        return None
    ch = _PNG_CHANNELS[color_type]
    if depth != 8 or interlace != 0:
        return ("corrupt", w, h, ch)  # header readable, pixels out of scope
    # chunk walk: concatenate every IDAT payload until IEND
    i, n = 8, len(buf)
    idat = bytearray()
    while i + 8 <= n:
        clen = int.from_bytes(buf[i : i + 4], "big")
        tag = buf[i + 4 : i + 8]
        if i + 8 + clen + 4 > n:
            return ("corrupt", w, h, ch)
        if tag == b"IDAT":
            idat += buf[i + 8 : i + 8 + clen]
        i += 8 + clen + 4
        if tag == b"IEND":
            break
    stride = w * ch
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return ("corrupt", w, h, ch)
    if len(raw) != h * (1 + stride):
        return ("corrupt", w, h, ch)
    sums = [0] * ch
    px_min, px_max = 255, 0
    prev = bytes(stride)
    pos = 0
    for _y in range(h):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 1:
            for k in range(ch, stride):
                line[k] = (line[k] + line[k - ch]) & 255
        elif f == 2:
            for k in range(stride):
                line[k] = (line[k] + prev[k]) & 255
        elif f == 3:
            for k in range(stride):
                left = line[k - ch] if k >= ch else 0
                line[k] = (line[k] + ((left + prev[k]) >> 1)) & 255
        elif f == 4:
            for k in range(stride):
                a = line[k - ch] if k >= ch else 0
                b = prev[k]
                cc = prev[k - ch] if k >= ch else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                line[k] = (line[k] + pred) & 255
        elif f != 0:
            return ("corrupt", w, h, ch)
        for k in range(stride):
            v = line[k]
            sums[k % ch] += v
            if v < px_min:
                px_min = v
            if v > px_max:
                px_max = v
        prev = bytes(line)
    return (w, h, ch, sums, px_min, px_max)


# Adam7 pass geometry (ISO/IEC 15948 §8.2): (x_start, y_start, x_step,
# y_step). Each pass is an independently-filtered sub-image; empty passes
# contribute no scanlines at all.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_filter_line(f: int, row: bytes, prev: bytes, ch: int) -> bytes:
    """Apply PNG filter type f to a raw scanline (encode side)."""
    stride = len(row)
    if f == 0:
        return row
    if f == 1:  # Sub
        return bytes(
            (row[k] - (row[k - ch] if k >= ch else 0)) & 255
            for k in range(stride)
        )
    if f == 2:  # Up
        return bytes((row[k] - prev[k]) & 255 for k in range(stride))
    if f == 3:  # Average
        return bytes(
            (row[k] - (((row[k - ch] if k >= ch else 0) + prev[k]) >> 1))
            & 255
            for k in range(stride)
        )
    out = bytearray()  # Paeth
    for k in range(stride):
        a = row[k - ch] if k >= ch else 0
        b = prev[k]
        cc = prev[k - ch] if k >= ch else 0
        p = a + b - cc
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
        out.append((row[k] - pred) & 255)
    return bytes(out)


def _png_unfilter_line(f: int, line: bytearray, prev: bytes, ch: int) -> bool:
    """Reverse PNG filter type f in place; False for an unknown type."""
    stride = len(line)
    if f == 1:
        for k in range(ch, stride):
            line[k] = (line[k] + line[k - ch]) & 255
    elif f == 2:
        for k in range(stride):
            line[k] = (line[k] + prev[k]) & 255
    elif f == 3:
        for k in range(stride):
            left = line[k - ch] if k >= ch else 0
            line[k] = (line[k] + ((left + prev[k]) >> 1)) & 255
    elif f == 4:
        for k in range(stride):
            a = line[k - ch] if k >= ch else 0
            b = prev[k]
            cc = prev[k - ch] if k >= ch else 0
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
            line[k] = (line[k] + pred) & 255
    elif f != 0:
        return False
    return True


def _png_interlaced_bytes(doc_id: int) -> bytes:
    """An Adam7-INTERLACED RGB8 PNG (IHDR interlace=1): the layer the
    raster PNG entry degrades on. Pixel (x, y, c) carries the same
    closed form (x + 2y + 3c + doc_id) % 256; each of the 7 passes is
    serialized as its own filtered sub-image (filter = pass-local
    scanline index % 5, prev resets to zeros at every pass start).
    W = doc_id % 26 + 13, H = doc_id % 19 + 9, so every pass is
    non-empty. doc_id % 101 == 0 payloads get their IDAT truncated."""
    import zlib

    w, h, ch = doc_id % 26 + 13, doc_id % 19 + 9, 3
    filtered = bytearray()
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        prev = bytes(pw * ch)
        for j in range(ph):
            y = y0 + j * ys
            row = bytes(
                (x0 + i * xs + 2 * y + 3 * c + doc_id) % 256
                for i in range(pw)
                for c in range(ch)
            )
            f = j % 5
            filtered.append(f)
            filtered += _png_filter_line(f, row, prev, ch)
            prev = row
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 1])
    )
    z = zlib.compress(bytes(filtered), 6)
    if doc_id % 101 == 0 and len(z) > 4:
        z = z[: len(z) // 2]
    half = max(1, len(z) // 2)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", z[:half])
        + _png_chunk(b"IDAT", z[half:])
        + _png_chunk(b"IEND", b"")
    )


def _decode_png_interlaced_one(buf: bytes):
    """(w, h, [c0, c1, c2], wpos) or ('corrupt', w, h) or None -- the
    position-sensitive PNG decode contract over Adam7 input. Channel
    sums are pixel-position-invariant, so wpos = sum over raster order
    of channel-0 value * (y*w + x + 1) is what pins every pass's
    placement grid; a decoder that drops, swaps, or misplaces a pass
    breaks it. Non-interlaced files (interlace=0) and unsupported
    depths degrade to 'corrupt' here -- decode_png_pixels is the raster
    path; never throws."""
    import zlib

    if len(buf) < 33 or not buf.startswith(_PNG_SIG):
        return None
    if buf[12:16] != b"IHDR":
        return None
    w = int.from_bytes(buf[16:20], "big")
    h = int.from_bytes(buf[20:24], "big")
    depth, color_type, interlace = buf[24], buf[25], buf[28]
    if color_type not in _PNG_CHANNELS or not (
        0 < w <= 0x7FFFFFFF and 0 < h <= 0x7FFFFFFF
    ):
        return None
    ch = _PNG_CHANNELS[color_type]
    if depth != 8 or interlace != 1 or ch != 3:
        return ("corrupt", w, h)
    i, n = 8, len(buf)
    idat = bytearray()
    while i + 8 <= n:
        clen = int.from_bytes(buf[i : i + 4], "big")
        tag = buf[i + 4 : i + 8]
        if i + 8 + clen + 4 > n:
            return ("corrupt", w, h)
        if tag == b"IDAT":
            idat += buf[i + 8 : i + 8 + clen]
        i += 8 + clen + 4
        if tag == b"IEND":
            break
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return ("corrupt", w, h)
    expected = sum(
        ((h - y0 + ys - 1) // ys)
        * (1 + ((w - x0 + xs - 1) // xs) * ch)
        for x0, y0, xs, ys in _ADAM7
        if (w - x0 + xs - 1) // xs > 0 and (h - y0 + ys - 1) // ys > 0
    )
    if len(raw) != expected:
        return ("corrupt", w, h)
    raster = bytearray(w * h * ch)
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        stride = pw * ch
        prev = bytes(stride)
        for j in range(ph):
            f = raw[pos]
            pos += 1
            line = bytearray(raw[pos : pos + stride])
            pos += stride
            if not _png_unfilter_line(f, line, prev, ch):
                return ("corrupt", w, h)
            y = y0 + j * ys
            base = (y * w + x0) * ch
            step = xs * ch
            for ii in range(pw):
                dst = base + ii * step
                src = ii * ch
                raster[dst : dst + ch] = line[src : src + ch]
            prev = bytes(line)
    px = np.frombuffer(bytes(raster), dtype=np.uint8)
    px = px.reshape(w * h, ch).astype(np.int64)
    wts = np.arange(1, w * h + 1, dtype=np.int64)
    return (
        w,
        h,
        [int(px[:, c].sum()) for c in range(ch)],
        int((px[:, 0] * wts).sum()),
    )


# ---------------------------------------------------------------------------
# Real (pure-stdlib) baseline-JPEG ENTROPY decoding -- VERDICT r11 #10
# stretch: DQT/DHT/SOF0/SOS parse, canonical-Huffman bitstream decode with
# byte-unstuffing, run-length AC expansion, dequantization, and a full 8x8
# float IDCT. Chroma-subsampled (4:2:0) and progressive scans decode too
# (see _jpeg_decode_mcu_subsampled, _progressive_scan); arithmetic coding
# does not.

# natural-order index of each zigzag position (ISO/IEC 10918-1 figure A.6)
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


def _huff_canonical(counts: list[int], symbols: list[int]):
    """code table {(length, code): symbol} from a DHT's 16 length counts +
    symbol list -- canonical JPEG Huffman code assignment (C.2)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first entropy-segment reader with JPEG byte unstuffing
    (FF 00 -> literal FF); raises EOFError past the end or at a marker.
    The bit-at-a-time REFERENCE path: _FastBits below is the production
    reader, and the parity test pins the two bit-identical."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.bits = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.buf):
                raise EOFError
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.buf) or self.buf[self.pos] != 0x00:
                    raise EOFError  # marker inside entropy data
                self.pos += 1
            self.bits = b
            self.n = 8
        self.n -= 1
        return (self.bits >> self.n) & 1

    def read_bits(self, s: int) -> int:
        v = 0
        for _ in range(s):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, entry) -> int:
        table = entry[0]
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise EOFError  # no code of length <= 16 matched: corrupt stream


# Fast-path machinery (VERDICT r12 #7): the scalar reader above spends a
# Python call per BIT; at sf10 that capped the fixture at ~11k decodes/s
# pool-wide. The fast reader does one numpy pass per image (find the
# entropy segment's end marker + delete the FF-00 stuffing bytes,
# vectorized) and then serves every peek from a precomputed 24-bit byte
# window as plain int arithmetic; Huffman decode is a single lookup in a
# 65536-entry table-driven LUT (peek 16 bits -> (symbol, code length)),
# built once per DISTINCT Huffman table per worker and cached by the
# table's (counts, symbols) signature -- real corpora reuse the standard
# Annex K tables, so the 64k build cost amortizes to zero.

_HUFF_LUT_CACHE: dict = {}


def _huff_lut(counts: list[int], syms: list[int], table: dict):
    key = (tuple(counts), tuple(syms))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is None:
        lut = [None] * 65536
        for (length, code), sym in table.items():
            base = code << (16 - length)
            entry = (sym, length)
            for fill in range(1 << (16 - length)):
                lut[base | fill] = entry
        _HUFF_LUT_CACHE[key] = lut
    return lut


class _FastBits:
    """Table-driven entropy reader: same contract as _BitReader (EOFError
    past the data end or at an embedded marker). Setup is two C-level
    passes (find the terminating marker, strip the FF-00 stuffing with
    bytes.replace); every symbol after that is a 16-bit peek assembled
    from three byte indexes plus one LUT hit -- no per-bit Python calls.
    (A numpy window build was tried first and LOST 2x on the fixture: the
    entropy segment of a small image is tens of bytes, and ~10 array ops
    of setup per image swamp the per-symbol win.)"""

    __slots__ = ("data", "nbits", "pos")

    def __init__(self, buf: bytes, start: int):
        # entropy data ends at the first 0xFF NOT followed by a stuffed
        # 0x00 (a marker, a fill byte, or a truncated trailing FF)
        i, n = start, len(buf)
        end = n
        while True:
            j = buf.find(b"\xff", i)
            if j < 0:
                break
            if j + 1 >= n or buf[j + 1] != 0x00:
                end = j
                break
            i = j + 2
        data = buf[start:end].replace(b"\xff\x00", b"\xff")
        self.nbits = len(data) * 8
        self.data = data + b"\x00\x00\x00"
        self.pos = 0

    def read_bits(self, s: int) -> int:
        p = self.pos
        if p + s > self.nbits:
            raise EOFError
        if not s:
            return 0
        d = self.data
        b = p >> 3
        w24 = (d[b] << 16) | (d[b + 1] << 8) | d[b + 2]
        self.pos = p + s
        return ((w24 >> (8 - (p & 7))) & 0xFFFF) >> (16 - s)

    def decode_huff(self, entry) -> int:
        p = self.pos
        d = self.data
        b = p >> 3
        w24 = (d[b] << 16) | (d[b + 1] << 8) | d[b + 2]
        hit = entry[1][(w24 >> (8 - (p & 7))) & 0xFFFF]
        if hit is None or p + hit[1] > self.nbits:
            raise EOFError  # no code matched, or code runs past the data
        self.pos = p + hit[1]
        return hit[0]


def _extend(v: int, s: int) -> int:
    """F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _idct_tables():
    import math

    cos = [
        [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
        for x in range(8)
    ]
    c = [1 / math.sqrt(2)] + [1.0] * 7
    return cos, c


_IDCT_COS, _IDCT_C = _idct_tables()


def _idct_8x8(coef: list[float]) -> list[float]:
    """Exact separable 2-D type-III DCT (A.3.3), pure math.cos floats.
    DC-only blocks take the flat fast path (coef[0]/8 everywhere -- the
    special case every real decoder carries, and exact when coef[0] is a
    multiple of 8, which the pixel fixture exploits); the general path
    reads the module-level cosine tables instead of rebuilding them per
    block (measured 8.2 -> ~3 s for the sf0.1 registry entry)."""
    if not any(coef[1:]):
        v = coef[0] / 8.0
        return [v] * 64
    cos, c = _IDCT_COS, _IDCT_C
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    f = coef[v * 8 + u]
                    if f:
                        s += c[u] * c[v] * f * cos[x][u] * cos[y][v]
            out[y * 8 + x] = s / 4.0
    return out


def _entropy_end(buf: bytes, start: int) -> int:
    """First position at/after `start` holding a 0xFF that is NOT a
    stuffed literal (i.e. the next marker / fill byte / truncated FF) --
    where a scan's entropy segment ends. Mirrors _FastBits' setup pass."""
    i, n = start, len(buf)
    while True:
        j = buf.find(b"\xff", i)
        if j < 0:
            return n
        if j + 1 >= n or buf[j + 1] != 0x00:
            return j
        i = j + 2


def _progressive_scan(rdr, seg, comps, coefs, huff_dc, huff_ac, bw, bh):
    """One progressive (SOF2) scan over the coefficient buffers -- ITU
    T.81 Annex G.2: DC first (Huffman diff, point-transformed by Al), DC
    refinement (one appended bit per block), AC first (spectral band with
    EOBRUN), AC refinement (correction bits over nonzero history). 1x1
    sampling only: an interleaved DC scan's MCU is one block per
    component; AC scans are single-component by spec. Raises EOFError /
    IndexError / KeyError on malformed streams -- the caller's per-row
    degradation net."""
    ns = seg[0]
    scan_comps = []
    for si in range(ns):
        cid = seg[1 + 2 * si]
        td, ta = seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 15
        # dict lookup (KeyError on a corrupt SOS naming an undeclared
        # component -- the baseline path's fuzz-found degradation class)
        cix = {c[0]: ix for ix, c in enumerate(comps)}[cid]
        scan_comps.append((cix, td, ta))
    if any(c[2] != 1 or c[3] != 1 for c in comps):
        raise IndexError("progressive + subsampling out of scope")
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
    nblocks = bw * bh
    dc_pred = [0] * len(comps)  # predictors reset at scan start (F.2.1.3.1)

    if ss == 0:  # DC scan (interleaved allowed)
        for b in range(nblocks):
            for cix, td, _ta in scan_comps:
                coef = coefs[cix][b]
                if ah == 0:  # first scan: Huffman diff at Al
                    s = rdr.decode_huff(huff_dc[td])
                    if s > 15:  # corrupt DHT symbol: degrade, and keep
                        raise IndexError  # both readers behaving alike
                    diff = _extend(rdr.read_bits(s), s)
                    dc_pred[cix] += diff
                    coef[0] = dc_pred[cix] << al
                else:  # refinement: append one bit
                    if rdr.read_bits(1):
                        coef[0] |= 1 << al
        return
    # AC scan: single component, non-interleaved raster order
    if ns != 1 or se > 63 or ss > se:
        raise IndexError("bad AC scan header")
    cix, _td, ta = scan_comps[0]
    act = huff_ac[ta]
    eob_run = 0
    if ah == 0:  # AC first scan (G.2.2 history-free band)
        for b in range(nblocks):
            coef = coefs[cix][b]
            if eob_run:
                eob_run -= 1
                continue
            k = ss
            while k <= se:
                rs = rdr.decode_huff(act)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    eob_run = (1 << r) - 1
                    if r:
                        eob_run += rdr.read_bits(r)
                    break
                k += r
                if k > se:
                    raise IndexError("AC run past band end")
                coef[_JPEG_ZIGZAG[k]] = _extend(rdr.read_bits(s), s) << al
                k += 1
        return
    # AC refinement scan (G.2.2 correction bits)
    plus, minus = 1 << al, -(1 << al)
    for b in range(nblocks):
        coef = coefs[cix][b]
        k = ss
        if eob_run == 0:
            while k <= se:
                rs = rdr.decode_huff(act)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:
                        eob_run = (1 << r)
                        if r:
                            eob_run += rdr.read_bits(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise IndexError("refinement size != 1")
                    val = plus if rdr.read_bits(1) else minus
                while k <= se:
                    z = _JPEG_ZIGZAG[k]
                    if coef[z]:
                        if rdr.read_bits(1) and not (coef[z] & plus):
                            coef[z] += plus if coef[z] > 0 else minus
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    coef[_JPEG_ZIGZAG[k]] = val
                k += 1
        if eob_run:
            # EOB run covers this block: correction bits still flow for
            # every nonzero-history coefficient in the band
            while k <= se:
                z = _JPEG_ZIGZAG[k]
                if coef[z]:
                    if rdr.read_bits(1) and not (coef[z] & plus):
                        coef[z] += plus if coef[z] > 0 else minus
                k += 1
            eob_run -= 1


def _jpeg_decode_mcu_subsampled(rdr, frame, scan_tables, qt, huff_dc,
                                huff_ac):
    """Baseline MCU-interleaved decode for chroma-subsampled frames
    (sampling factors 1 or 2 per axis -- 4:2:0/4:2:2/4:4:0): each MCU
    carries hi*vi blocks per component in raster order, per-component DC
    prediction runs across the whole scan (padding blocks at the right/
    bottom edges included, as the spec requires), and statistics are
    taken over the FULL-RESOLUTION upsampled planes -- each component
    sample replicates over an (Hmax/hi) x (Vmax/vi) pixel box clipped to
    the image, so the sums match what a real nearest-neighbor-upsampling
    decoder emits, without materializing any plane (per-sample box
    arithmetic; memory stays O(1) per block). The 1x1 path keeps its
    untouched streaming loop -- this function is only entered for frames
    that path never handled. Raises into the caller's degradation net."""
    w0, h0, comps = frame
    ch = len(comps)
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcux = (w0 + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h0 + 8 * vmax - 1) // (8 * vmax)
    sums = [0] * ch
    px_min, px_max = 255, 0
    pred = [0] * ch
    # per component: plane dims (A.1.1) and the replication box
    plane = []
    for _cid, _tq, hi, vi in comps:
        cw = (w0 * hi + hmax - 1) // hmax
        chh = (h0 * vi + vmax - 1) // vmax
        plane.append((cw, chh, hmax // hi, vmax // vi))
    for my in range(mcuy):
        for mx in range(mcux):
            for cix, (cid, tq, hi, vi) in enumerate(comps):
                td, ta = scan_tables[cid]
                dct = huff_dc.get(td)
                act = huff_ac.get(ta)
                q = qt.get(tq)
                if dct is None or act is None or q is None:
                    return ("corrupt", w0, h0, ch)
                cw, chh, sx, sy = plane[cix]
                for dy in range(vi):
                    for dx in range(hi):
                        coef = [0.0] * 64
                        s = rdr.decode_huff(dct)
                        if s > 15:  # corrupt DHT symbol
                            raise IndexError
                        diff = _extend(rdr.read_bits(s), s)
                        pred[cix] += diff
                        coef[0] = pred[cix] * q[0]
                        k = 1
                        has_ac = False
                        while k < 64:
                            rs = rdr.decode_huff(act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                return ("corrupt", w0, h0, ch)
                            coef[_JPEG_ZIGZAG[k]] = (
                                _extend(rdr.read_bits(s), s) * q[k]
                            )
                            has_ac = True
                            k += 1
                        # component-plane origin of this block
                        bx0 = (mx * hi + dx) * 8
                        by0 = (my * vi + dy) * 8
                        nx = min(8, cw - bx0)
                        ny = min(8, chh - by0)
                        if nx <= 0 or ny <= 0:
                            continue  # pure padding block: decoded, no stats
                        if not has_ac:
                            v = int(round(coef[0] / 8.0)) + 128
                            v = 0 if v < 0 else (255 if v > 255 else v)
                            # full-res pixels covered by the block's
                            # in-plane samples, clipped at the image edge
                            covx = min((bx0 + nx) * sx, w0) - bx0 * sx
                            covy = min((by0 + ny) * sy, h0) - by0 * sy
                            sums[cix] += v * covx * covy
                            if v < px_min:
                                px_min = v
                            if v > px_max:
                                px_max = v
                            continue
                        blk = _idct_8x8(coef)
                        for yy in range(ny):
                            rows = min((by0 + yy + 1) * sy, h0) \
                                - (by0 + yy) * sy
                            base = yy * 8
                            for xx in range(nx):
                                cols = min((bx0 + xx + 1) * sx, w0) \
                                    - (bx0 + xx) * sx
                                v = int(round(blk[base + xx])) + 128
                                v = 0 if v < 0 else (255 if v > 255 else v)
                                sums[cix] += v * rows * cols
                                if v < px_min:
                                    px_min = v
                                if v > px_max:
                                    px_max = v
    return (w0, h0, ch, sums, px_min, px_max)


def _jpeg_finish_progressive(frame, coefs, qt):
    """Dequantize + IDCT + pixel statistics over the accumulated
    progressive coefficient buffers -- the same arithmetic finish as the
    baseline path (flat fast path for DC-only blocks included), run once
    at EOI."""
    w0, h0, comps = frame
    ch = len(comps)
    bw, bh = (w0 + 7) // 8, (h0 + 7) // 8
    sums = [0] * ch
    px_min, px_max = 255, 0
    for cix, (_cid, tq, _hi, _vi) in enumerate(comps):
        q = qt.get(tq)
        if q is None:
            return ("corrupt", w0, h0, ch)
        for b, raw in enumerate(coefs[cix]):
            by, bx = divmod(b, bw)
            ny = min(8, h0 - by * 8)
            nx = min(8, w0 - bx * 8)
            if not any(raw[1:]):
                v = int(round(raw[0] * q[0] / 8.0)) + 128
                v = 0 if v < 0 else (255 if v > 255 else v)
                sums[cix] += v * ny * nx
                if v < px_min:
                    px_min = v
                if v > px_max:
                    px_max = v
                continue
            coef = [0.0] * 64
            for k in range(64):
                if raw[_JPEG_ZIGZAG[k]]:
                    coef[_JPEG_ZIGZAG[k]] = raw[_JPEG_ZIGZAG[k]] * q[k]
            blk = _idct_8x8(coef)
            for yy in range(ny):
                base = yy * 8
                for xx in range(nx):
                    v = int(round(blk[base + xx])) + 128
                    v = 0 if v < 0 else (255 if v > 255 else v)
                    sums[cix] += v
                    if v < px_min:
                        px_min = v
                    if v > px_max:
                        px_max = v
    return (w0, h0, ch, sums, px_min, px_max)


def _decode_jpeg_pixels_one(buf: bytes, reader=_FastBits):
    """(w, h, ch, c_sums, px_min, px_max) or ('corrupt', w, h, ch) or None.
    Full baseline-sequential AND progressive (SOF2: spectral selection +
    successive approximation, VERDICT r13 #9) decode for 1- or
    3-component 1x1-sampled frames; arithmetic-coded/subsampled/other
    streams degrade to 'corrupt' once dims are known, never a raise.
    Baseline streams keep the r13 single-pass streaming path (per-block-
    row memory); progressive streams accumulate a coefficient buffer
    (the format forces whole-image coefficient state -- every real
    decoder carries it) and run the same dequantize+IDCT+stats finish.
    `reader` picks the entropy reader: _FastBits (production, LUT-driven)
    or _BitReader (bit-at-a-time reference) -- the parity test pins them
    identical on both coding modes. No DRI/restart-interval support:
    streams declaring DRI degrade to 'corrupt' like any other
    out-of-scope layer."""
    if len(buf) < 4 or buf[0] != 0xFF or buf[1] != 0xD8:
        return None
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (w, h, [(comp_id, tq)])
    progressive = False
    coefs = None  # per component: per block: 64 raw coefficients
    dc_pred = None
    scans_done = 0
    i, n = 2, len(buf)
    try:
        while i + 3 < n:
            if buf[i] != 0xFF:
                return ("corrupt", *frame[:2], len(frame[2])) if frame else None
            marker = buf[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker == 0xD9:  # EOI: progressive streams finalize here
                if progressive and scans_done:
                    return _jpeg_finish_progressive(frame, coefs, qt)
                i += 2
                continue
            if 0xD0 <= marker <= 0xD8 or marker == 0x01:
                i += 2
                continue
            seg_len = int.from_bytes(buf[i + 2:i + 4], "big")
            if seg_len < 2 or i + 2 + seg_len > n:
                return ("corrupt", *frame[:2], len(frame[2])) if frame else None
            seg = buf[i + 4:i + 2 + seg_len]
            if marker == 0xDB:  # DQT
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 15
                    if pq != 0:  # 16-bit tables unsupported
                        return None
                    qt[tq] = list(seg[j + 1:j + 65])
                    j += 65
            elif marker == 0xC4:  # DHT
                j = 0
                while j + 17 <= len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 15
                    counts = list(seg[j + 1:j + 17])
                    nsym = sum(counts)
                    syms = list(seg[j + 17:j + 17 + nsym])
                    table = _huff_canonical(counts, syms)
                    entry = (table, _huff_lut(counts, syms, table))
                    (huff_dc if tc == 0 else huff_ac)[th] = entry
                    j += 17 + nsym
            elif marker in _JPEG_SOF:
                if marker not in (0xC0, 0xC2):  # sequential or progressive
                    h0 = int.from_bytes(seg[1:3], "big")
                    w0 = int.from_bytes(seg[3:5], "big")
                    return ("corrupt", w0, h0, seg[5])
                if seg[0] != 8:
                    return None
                h0 = int.from_bytes(seg[1:3], "big")
                w0 = int.from_bytes(seg[3:5], "big")
                ncomp = seg[5]
                comps = []
                for ci in range(ncomp):
                    cid = seg[6 + 3 * ci]
                    samp = seg[7 + 3 * ci]
                    tq = seg[8 + 3 * ci]
                    hi, vi = samp >> 4, samp & 15
                    if hi not in (1, 2) or vi not in (1, 2):
                        # sampling factors beyond 2 out of scope
                        return ("corrupt", w0, h0, ncomp)
                    comps.append((cid, tq, hi, vi))
                if ncomp not in (1, 3) or w0 == 0 or h0 == 0:
                    return ("corrupt", w0, h0, ncomp) if ncomp else None
                frame = (w0, h0, comps)
                if marker == 0xC2:
                    progressive = True
                    nb = ((w0 + 7) // 8) * ((h0 + 7) // 8)
                    coefs = [
                        [[0] * 64 for _ in range(nb)] for _ in comps
                    ]
            elif marker == 0xDA and progressive:  # progressive SOS
                if frame is None:
                    return None
                w0, h0, comps = frame
                bw, bh = (w0 + 7) // 8, (h0 + 7) // 8
                rdr = reader(buf, i + 2 + seg_len)
                _progressive_scan(
                    rdr, seg, comps, coefs, huff_dc, huff_ac, bw, bh
                )
                scans_done += 1
                # jump past this scan's entropy to the next marker
                i = _entropy_end(buf, i + 2 + seg_len)
                continue
            elif marker == 0xDA:  # SOS
                if frame is None:
                    return None
                w0, h0, comps = frame
                ch = len(comps)
                ns = seg[0]
                scan_tables = {}
                for si in range(ns):
                    cid = seg[1 + 2 * si]
                    td, ta = seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 15
                    scan_tables[cid] = (td, ta)
                rdr = reader(buf, i + 2 + seg_len)
                if any(c[2] != 1 or c[3] != 1 for c in comps):
                    # chroma-subsampled frame: MCU-interleaved decode
                    if ns != ch:
                        return ("corrupt", w0, h0, ch)
                    return _jpeg_decode_mcu_subsampled(
                        rdr, frame, scan_tables, qt, huff_dc, huff_ac
                    )
                bw, bh = (w0 + 7) // 8, (h0 + 7) // 8
                sums = [0] * ch
                px_min, px_max = 255, 0
                pred = [0] * ch
                # decoded samples kept per block row only: bounded memory
                for by in range(bh):
                    row_blocks = []
                    for _bx in range(bw):
                        mcu = []
                        for cix, (cid, tq, _hi, _vi) in enumerate(comps):
                            td, ta = scan_tables[cid]
                            dct = huff_dc.get(td)
                            act = huff_ac.get(ta)
                            q = qt.get(tq)
                            if dct is None or act is None or q is None:
                                return ("corrupt", w0, h0, ch)
                            coef = [0.0] * 64
                            s = rdr.decode_huff(dct)
                            if s > 15:  # corrupt DHT symbol
                                raise IndexError
                            diff = _extend(rdr.read_bits(s), s)
                            pred[cix] += diff
                            coef[0] = pred[cix] * q[0]
                            k = 1
                            has_ac = False
                            while k < 64:
                                rs = rdr.decode_huff(act)
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break  # EOB
                                k += r
                                if k > 63:
                                    return ("corrupt", w0, h0, ch)
                                coef[_JPEG_ZIGZAG[k]] = (
                                    _extend(rdr.read_bits(s), s)
                                    * q[k]
                                )
                                has_ac = True
                                k += 1
                            if has_ac:
                                mcu.append(_idct_8x8(coef))
                            else:
                                # flat (DC-only) block: every sample is
                                # coef0/8 -- carry the clamped pixel value
                                # itself and fold the 64 per-pixel stat
                                # updates into one multiply below
                                v = int(round(coef[0] / 8.0)) + 128
                                mcu.append(
                                    0 if v < 0 else (255 if v > 255 else v)
                                )
                        row_blocks.append(mcu)
                    ny = min(8, h0 - by * 8)
                    for bx in range(bw):
                        nx = min(8, w0 - bx * 8)
                        for cix in range(ch):
                            blk = row_blocks[bx][cix]
                            if type(blk) is int:
                                sums[cix] += blk * ny * nx
                                if blk < px_min:
                                    px_min = blk
                                if blk > px_max:
                                    px_max = blk
                                continue
                            for yy in range(ny):
                                base = yy * 8
                                for xx in range(nx):
                                    v = int(round(blk[base + xx])) + 128
                                    v = 0 if v < 0 else (255 if v > 255 else v)
                                    sums[cix] += v
                                    if v < px_min:
                                        px_min = v
                                    if v > px_max:
                                        px_max = v
                return (w0, h0, ch, sums, px_min, px_max)
            i += 2 + seg_len
        if progressive and scans_done:
            # trailing EOI sits below the 4-byte marker window; end of
            # buffer after >=1 clean scan finalizes like EOI does
            return _jpeg_finish_progressive(frame, coefs, qt)
        return ("corrupt", *frame[:2], len(frame[2])) if frame else None
    # KeyError: a corrupted SOS can reference a component id the frame
    # header never declared (found by byte-flip fuzzing) -- same per-row
    # degradation as a truncated stream, never a task failure
    except (EOFError, IndexError, KeyError):
        return ("corrupt", *frame[:2], len(frame[2])) if frame else None


# encoder-side canonical tables for the fixture: 12 five-bit DC categories
# (code = category) and a single two-bit AC EOB symbol
_JPEG_DC_COUNTS = [0, 0, 0, 0, 12] + [0] * 11
_JPEG_DC_SYMBOLS = list(range(12))
_JPEG_AC_COUNTS = [0, 1] + [0] * 14
_JPEG_AC_SYMBOLS = [0x00]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, bits: int) -> None:
        for b in range(bits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> b) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self) -> bytes:
        if self.n:
            pad = self.acc << (8 - self.n) | ((1 << (8 - self.n)) - 1)
            self.out.append(pad)
            if pad == 0xFF:
                self.out.append(0x00)
            self.acc, self.n = 0, 0
        return bytes(self.out)


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _jpeg_full_bytes(doc_id: int) -> bytes:
    """A complete baseline grayscale JPEG whose 8x8 block (bx, by) is the
    CONSTANT value (5*bx + 7*by + doc_id) % 256, W = 8*(doc_id%4+1),
    H = 8*(doc_id%3+1). DC-only blocks with an all-ones quant table make
    the decode arithmetically exact (IDCT of a DC-only block is flat at
    DC/8, and DC = 8*(v-128) is always a multiple of 8), so an oracle can
    recompute every pixel statistic from doc_id arithmetic. doc_id % 89
    == 0 payloads get their entropy segment truncated -- the corrupt case.
    Custom (spec-valid) Huffman tables keep the encoder tiny; the decoder
    handles any canonical DHT."""
    w, h = 8 * (doc_id % 4 + 1), 8 * (doc_id % 3 + 1)
    dqt = bytes([0x00]) + bytes([1] * 64)
    sof = (
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_COUNTS) + bytes(_JPEG_DC_SYMBOLS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_COUNTS) + bytes(_JPEG_AC_SYMBOLS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    bw_ = _BitWriter()
    pred = 0
    for by in range(h // 8):
        for bx in range(w // 8):
            v = (5 * bx + 7 * by + doc_id) % 256
            dc = 8 * (v - 128)
            diff = dc - pred
            pred = dc
            s = abs(diff).bit_length()
            bw_.write(s, 5)  # DC category, 5-bit code = category
            if s:
                bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            bw_.write(0b00, 2)  # AC EOB
    entropy = bw_.flush()
    if doc_id % 89 == 0 and len(entropy) > 2:
        entropy = entropy[: len(entropy) // 2]
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, dqt)
        + _jpeg_seg(0xC0, sof)
        + _jpeg_seg(0xC4, dht_dc)
        + _jpeg_seg(0xC4, dht_ac)
        + _jpeg_seg(0xDA, sos)
        + entropy
        + b"\xff\xd9"
    )


def _jpeg_420_block_vals(doc_id: int, w: int, h: int):
    """Closed-form flat-block values for the 4:2:0 fixture: luma block
    (bx, by) -> (5bx + 7by + doc_id) % 256 over the full-res plane;
    chroma blocks (one per MCU) -> Cb (3mx + 11my + doc_id) % 256,
    Cr (11mx + 3my + 2*doc_id) % 256."""
    yv = lambda bx, by: (5 * bx + 7 * by + doc_id) % 256  # noqa: E731
    cb = lambda mx, my: (3 * mx + 11 * my + doc_id) % 256  # noqa: E731
    cr = lambda mx, my: (11 * mx + 3 * my + 2 * doc_id) % 256  # noqa: E731
    return yv, cb, cr


def _jpeg_420_bytes(doc_id: int) -> bytes:
    """A complete baseline 4:2:0 JPEG (luma 2x2, chroma 1x1 -- the layout
    virtually every camera/web JPEG uses): flat DC-only blocks so every
    statistic stays doc_id arithmetic, MCU-interleaved Y Y Y Y Cb Cr with
    per-component DC prediction ACROSS padding blocks (w = 8*(doc_id%5+2)
    makes odd luma-column counts appear, so right-edge padding blocks and
    partial chroma blocks are both in the fixture, not just in theory).
    doc_id % 89 == 0 truncates the entropy segment -- corrupt, dims
    kept."""
    w, h = 8 * (doc_id % 5 + 2), 8 * (doc_id % 4 + 2)
    yv, cb, cr = _jpeg_420_block_vals(doc_id, w, h)
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    dqt = bytes([0x00]) + bytes([1] * 64)
    sof = (
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_COUNTS) + bytes(_JPEG_DC_SYMBOLS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_COUNTS) + bytes(_JPEG_AC_SYMBOLS)
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    bw_ = _BitWriter()
    pred = [0, 0, 0]

    def emit(cix: int, v):
        if v is None:  # padding block: repeat the predictor (diff 0)
            bw_.write(0, 5)
        else:
            dc = 8 * (v - 128)
            diff = dc - pred[cix]
            pred[cix] = dc
            s = abs(diff).bit_length()
            bw_.write(s, 5)
            if s:
                bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        bw_.write(0b00, 2)  # AC EOB

    for my in range(mcuy):
        for mx in range(mcux):
            for dy in range(2):
                for dx in range(2):
                    bx, by = 2 * mx + dx, 2 * my + dy
                    real = bx < w // 8 and by < h // 8
                    emit(0, yv(bx, by) if real else None)
            emit(1, cb(mx, my))
            emit(2, cr(mx, my))
    entropy = bw_.flush()
    if doc_id % 89 == 0 and len(entropy) > 2:
        entropy = entropy[: len(entropy) // 2]
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, dqt)
        + _jpeg_seg(0xC0, sof)
        + _jpeg_seg(0xC4, dht_dc)
        + _jpeg_seg(0xC4, dht_ac)
        + _jpeg_seg(0xDA, sos)
        + entropy
        + b"\xff\xd9"
    )


# AC table for the progressive fixture: EOB0..EOB3 (run-length symbols
# 0x00/0x10/0x20/0x30) as four 3-bit codes -- enough to EOB-run any band
# of the fixture's <= 12 blocks in one symbol
_JPEG_PROG_AC_COUNTS = [0, 0, 4] + [0] * 13
_JPEG_PROG_AC_SYMBOLS = [0x00, 0x10, 0x20, 0x30]


def _jpeg_progressive_bytes(doc_id: int) -> bytes:
    """The SAME image as _jpeg_full_bytes(doc_id) -- block (bx, by) flat
    at v = (5*bx + 7*by + doc_id) % 256 -- encoded PROGRESSIVE (SOF2)
    with a real successive-approximation + spectral-selection ladder:

      scan 1: DC first,  Al=4   (Huffman diff coding of dc >> 4)
      scan 2: DC refine, Al=3   (bit (dc>>3)&1 = v&1 -- VARIES per block)
      scans 3-5: DC refine, Al=2/1/0 (structurally 0 bits: dc = 8(v-128)
                                      is a multiple of 8 -- the appended-
                                      bit read path still runs per block)
      scan 6: AC first, band 1-5,  EOB-run over all blocks
      scan 7: AC first, band 6-63, EOB-run over all blocks

    so the reconstructed coefficients equal the baseline encoding's
    exactly and the SAME arithmetic oracle covers both entries. doc_id %
    89 == 0 truncates scan 1's entropy -- dims survive via SOF2,
    status='corrupt'."""
    w, h = 8 * (doc_id % 4 + 1), 8 * (doc_id % 3 + 1)
    nblocks = (w // 8) * (h // 8)
    dqt = bytes([0x00]) + bytes([1] * 64)
    sof = (
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0])
    )
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_COUNTS) + bytes(_JPEG_DC_SYMBOLS)
    dht_ac = (
        bytes([0x10]) + bytes(_JPEG_PROG_AC_COUNTS)
        + bytes(_JPEG_PROG_AC_SYMBOLS)
    )
    dcs = [
        8 * ((5 * bx + 7 * by + doc_id) % 256 - 128)
        for by in range(h // 8)
        for bx in range(w // 8)
    ]

    def sos(ss: int, se: int, ah: int, al: int, entropy: bytes) -> bytes:
        return (
            _jpeg_seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
            + entropy
        )

    # scan 1: DC first at Al=4 -- category + diff bits per block
    bw_ = _BitWriter()
    pred = 0
    for dc in dcs:
        val = dc >> 4
        diff = val - pred
        pred = val
        s = abs(diff).bit_length()
        bw_.write(s, 5)
        if s:
            bw_.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    scan1 = bw_.flush()
    if doc_id % 89 == 0 and len(scan1) > 2:
        scan1 = scan1[: len(scan1) // 2]
    out = sos(0, 0, 0, 4, scan1)
    # scans 2-5: DC refinement, one appended bit per block
    for al in (3, 2, 1, 0):
        bw_ = _BitWriter()
        for dc in dcs:
            bw_.write((dc >> al) & 1, 1)
        out += sos(0, 0, al + 1, al, bw_.flush())
    # scans 6-7: AC first scans, each one EOB-run over every block
    for ss, se in ((1, 5), (6, 63)):
        bw_ = _BitWriter()
        n = nblocks
        r = n.bit_length() - 1  # EOBn: run = (1<<r) + r extra bits
        bw_.write(r, 3)  # symbol r<<4 is the r-th 3-bit code
        if r:
            bw_.write(n - (1 << r), r)
        out += sos(ss, se, 0, 0, bw_.flush())
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, dqt)
        + _jpeg_seg(0xC2, sof)
        + _jpeg_seg(0xC4, dht_dc)
        + _jpeg_seg(0xC4, dht_ac)
        + out
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# Real (pure-stdlib) WAV/PCM audio decoding -- VERDICT r12 "What's missing"
# #4 / next-round #8: RIFF container walk + fmt chunk parse + interleaved
# 16-bit PCM sample statistics, built on `struct`/`wave` only. Uncompressed
# audio (the dominant raw-capture format in speech corpora)
# decodes for real. The synthetic fixture writes spec-valid WAV files whose
# sample values are a closed form of (doc_id, frame, channel), so an
# arithmetic oracle recomputes the decoded statistics without parsing bytes
# -- the decode_pixels discipline.

AUDIO_SCHEMA = (
    "media_id bigint, status string, sample_rate int, n_channels int, "
    "n_frames bigint, c0_sum bigint, c1_sum bigint, amp_min int, "
    "amp_max int, duration_ms bigint"
)


def _wav_sample(doc_id: int, i: int, c: int) -> int:
    """Closed-form 16-bit PCM sample: (doc_id + 7i + 13c) % 4001 - 2000.
    Kept in +-2000 so every value is exactly representable and the oracle's
    integer arithmetic matches bit-for-bit."""
    return (doc_id + 7 * i + 13 * c) % 4001 - 2000


def _wav_full_bytes(doc_id: int) -> bytes:
    """A complete RIFF/WAVE file: PCM (audio format 1), 16-bit, sample rate
    8000*(doc_id%3+1), doc_id%2+1 channels, doc_id%50+10 frames, samples
    interleaved frame-major. Written with the stdlib `wave` module (an
    independent encoder from the hand-rolled parser below, so a framing bug
    in either side breaks the round-trip). doc_id % 101 == 0 files lose
    their last 5 data bytes: the data chunk's declared size then exceeds
    the available bytes and the decoder must degrade per-row."""
    import io
    import struct
    import wave

    rate = 8000 * (doc_id % 3 + 1)
    nch = doc_id % 2 + 1
    n_frames = doc_id % 50 + 10
    data = b"".join(
        struct.pack("<h", _wav_sample(doc_id, i, c))
        for i in range(n_frames)
        for c in range(nch)
    )
    bio = io.BytesIO()
    wf = wave.open(bio, "wb")
    wf.setnchannels(nch)
    wf.setsampwidth(2)
    wf.setframerate(rate)
    wf.writeframes(data)
    wf.close()
    buf = bio.getvalue()
    if doc_id % 101 == 0:
        buf = buf[:-5]  # truncated data chunk: stats must not be emitted
    return buf


def _decode_wav_one(buf: bytes):
    """(rate, nch, n_frames, c_sums, amp_min, amp_max, samples) or
    ('corrupt', rate, nch) when the fmt header is readable but the data
    chunk is truncated/unsupported, or None for non-WAV bytes. The raw
    interleaved sample tuple is returned so downstream feature extractors
    (wav_window_features) reuse THIS walk instead of re-parsing -- a
    second, divergent chunk walk is how the r13 never-throw hole happened
    (first-vs-last data chunk, unchecked struct.unpack length). Pure
    `struct` chunk walk -- never throws; every malformed layer degrades
    per-row (the 100 TB crawl contract)."""
    import struct

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    pos = 12
    rate = nch = bits = None
    fmt_code = None
    data = None
    truncated = False
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if tag == b"fmt " and len(body) >= 16:
            fmt_code, nch, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
        elif tag == b"data":
            if len(body) < size:
                truncated = True
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or nch is None or nch <= 0:
        return None
    if fmt_code != 1 or bits != 16 or data is None or truncated:
        # header survives: compressed/truncated payloads keep their
        # declared rate/channels with NULL sample statistics
        return ("corrupt", rate, nch)
    n_samples = len(data) // 2
    if n_samples % nch != 0:
        return ("corrupt", rate, nch)
    samples = struct.unpack(f"<{n_samples}h", data[: 2 * n_samples])
    sums = [0] * nch
    amp_min, amp_max = 32767, -32768
    for k, v in enumerate(samples):
        sums[k % nch] += v
        if v < amp_min:
            amp_min = v
        if v > amp_max:
            amp_max = v
    return (rate, nch, n_samples // nch, sums, amp_min, amp_max, samples)


# ASR-style framing over decoded audio (codec 'wav_windows'): frames per
# window of channel 0
_AUDIO_WINDOW = 20

AUDIO_WINDOW_SCHEMA = (
    "media_id bigint, win int, n_frames bigint, abs_sum bigint, "
    "zero_crossings bigint"
)


# ---------------------------------------------------------------------------
# GIF decode (r14) -- the third real still-image format in the ladder: LZW
# is pure-integer (variable-width codes, LSB-first packing, dictionary
# growth, clear codes), so the whole format decodes with stdlib arithmetic.
# Web crawls still carry GIFs in volume; a curation pipeline that can
# fingerprint PNG/JPEG but not GIF silently drops a format class.


def _gif_palette(i: int) -> tuple[int, int, int]:
    """Closed-form global color table: palette[i] = (i, 3i % 256,
    7i % 256) -- every channel a distinct linear map so a palette-routing
    bug in any channel breaks that channel's sum."""
    return (i, (3 * i) % 256, (7 * i) % 256)


def _gif_pixel_index(doc_id: int, x: int, y: int) -> int:
    return (x + 2 * y + doc_id) % 256


def _gif_local_palette(i: int) -> tuple[int, int, int]:
    """Closed-form LOCAL color table for the interlaced fixture --
    deliberately different linear maps from the global table, so a
    decoder that routes pixels through the (also present) global table
    instead of the image's local one breaks every channel sum."""
    return ((5 * i) % 256, (11 * i) % 256, (13 * i) % 256)


def _gif_interlace_rows(h: int) -> list:
    """GIF89a 4-pass interlace row order (spec appendix E): rows
    0,8,16,... then 4,12,... then 2,6,10,... then 1,3,5,..."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _gif_lzw_literal(indices) -> bytes:
    """Literal-root-code LZW stream (mcs=8) over a pixel-index sequence:
    the decoder's dictionary grows an entry per code so the code width
    crosses the 9->10->11-bit boundaries on larger images; a CLEAR is
    injected every 300 pixels to exercise mid-stream resets. Shared by
    the raster and interlaced GIF fixtures."""
    mcs = 8
    clear, end = 1 << mcs, (1 << mcs) + 1
    acc = nbits = 0
    width = mcs + 1
    next_code = end + 1
    data = bytearray()
    first = True

    def put(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    for count, idx in enumerate(indices):
        if count and count % 300 == 0:
            put(clear)
            width, next_code, first = mcs + 1, end + 1, True
        put(idx)
        if first:
            first = False
        else:
            next_code += 1  # decoder adds an entry per code
            if next_code == (1 << width) and width < 12:
                width += 1
    put(end)
    if nbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for k in range(0, len(data), 255):
        chunk = data[k : k + 255]
        out += bytes([len(chunk)]) + chunk
    return bytes(out)


def _gif_full_bytes(doc_id: int) -> bytes:
    """A complete GIF89a: logical screen descriptor, 256-entry global
    color table (closed form), a graphic-control extension (exercises
    the extension-skip path), one non-interlaced image, REAL LZW-coded
    pixel data (literal root codes, so the decoder's dictionary grows an
    entry per pixel and the code width crosses 9->10->11 on larger
    images; a CLEAR code is injected every 300 pixels to exercise
    mid-stream resets), data split into <=255-byte sub-blocks, trailer.
    w = doc_id % 29 + 10, h = doc_id % 23 + 10 (no block grid -- GIF has
    none). doc_id % 109 == 0 files lose their last 6 bytes: the pixel
    stream runs short and the decoder must degrade with dims kept."""
    w, h = doc_id % 29 + 10, doc_id % 23 + 10
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])  # global table, 2^8 entries; bg 0; aspect 0
    for i in range(256):
        out += bytes(_gif_palette(i))
    out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])  # graphic control ext
    out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2 \
        + w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes([0])
    data = _gif_lzw_literal(
        _gif_pixel_index(doc_id, x, y) for y in range(h) for x in range(w)
    )
    out += bytes([8]) + _gif_subblocks(data)
    out += bytes([0, 0x3B])
    buf = bytes(out)
    if doc_id % 109 == 0:
        buf = buf[:-6]
    return buf


def _gif_interlaced_bytes(doc_id: int) -> bytes:
    """An INTERLACED GIF89a with a LOCAL color table: the two layers the
    raster fixture leaves out. The global table is still present (the
    closed-form _gif_palette) but the image carries its own 256-entry
    local table (_gif_local_palette) that the decoder must prefer; the
    pixel stream is written in the 4-pass interlace row order, so a
    decoder that ignores the interlace flag produces a row-permuted
    image. w = doc_id % 27 + 12, h = doc_id % 21 + 11. doc_id % 113 == 0
    files lose their last 6 bytes (stream runs short, dims kept)."""
    w, h = doc_id % 27 + 12, doc_id % 21 + 11
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])
    for i in range(256):
        out += bytes(_gif_palette(i))
    out += bytes([0x2C]) + (0).to_bytes(2, "little") * 2 \
        + w.to_bytes(2, "little") + h.to_bytes(2, "little") \
        + bytes([0xC7])  # local table (2^8) + interlace
    for i in range(256):
        out += bytes(_gif_local_palette(i))
    data = _gif_lzw_literal(
        _gif_pixel_index(doc_id, x, y)
        for y in _gif_interlace_rows(h)
        for x in range(w)
    )
    out += bytes([8]) + _gif_subblocks(data)
    out += bytes([0, 0x3B])
    buf = bytes(out)
    if doc_id % 113 == 0:
        buf = buf[:-6]
    return buf


def _decode_gif_arr(buf: bytes):
    """Shared GIF parse + LZW core: ('ok', w, h, iw, ih, palette, arr)
    with arr the palette-index bytearray in RASTER order (interlaced
    images are re-ordered through the 4-pass row map) and iw/ih the
    image-descriptor dims (usually == screen dims w/h but carried
    separately so position-sensitive consumers can enforce their
    contract), ('corrupt', w, h) once dims are known — including a
    zero-area image descriptor, so both consumers degrade identically —
    or None for non-GIF bytes. A local color table, when present,
    overrides the global one for this image (GIF89a spec); never
    throws."""
    if len(buf) < 13 or buf[:4] != b"GIF8" or buf[4:6] not in (b"7a", b"9a"):
        return None
    w = int.from_bytes(buf[6:8], "little")
    h = int.from_bytes(buf[8:10], "little")
    packed = buf[10]
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        palette = buf[pos : pos + 3 * n]
        if len(palette) < 3 * n:
            return ("corrupt", w, h)
        pos += 3 * n
    if w == 0 or h == 0:
        return ("corrupt", w, h)
    try:
        while pos < len(buf):
            intro = buf[pos]
            if intro == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(buf) and buf[pos] != 0:
                    pos += 1 + buf[pos]
                pos += 1
            elif intro == 0x2C:  # image descriptor
                ipacked = buf[pos + 9]
                interlaced = bool(ipacked & 0x40)
                iw = int.from_bytes(buf[pos + 5 : pos + 7], "little")
                ih = int.from_bytes(buf[pos + 7 : pos + 9], "little")
                pos += 10
                if iw == 0 or ih == 0:
                    return ("corrupt", w, h)
                if ipacked & 0x80:  # local color table overrides global
                    n = 2 << (ipacked & 7)
                    local = buf[pos : pos + 3 * n]
                    if len(local) < 3 * n:
                        return ("corrupt", w, h)
                    palette = local
                    pos += 3 * n
                if pos >= len(buf):
                    return ("corrupt", w, h)
                mcs = buf[pos]
                pos += 1
                if palette is None or not (2 <= mcs <= 11):
                    return ("corrupt", w, h)
                data = bytearray()
                while True:
                    if pos >= len(buf):
                        return ("corrupt", w, h)
                    blen = buf[pos]
                    pos += 1
                    if blen == 0:
                        break
                    if pos + blen > len(buf):
                        return ("corrupt", w, h)
                    data += buf[pos : pos + blen]
                    pos += blen
                # LZW decode
                clear, end = 1 << mcs, (1 << mcs) + 1
                dict_base = [bytes([i]) for i in range(1 << mcs)]
                table = list(dict_base) + [b"", b""]
                width = mcs + 1
                acc = nbits = di = 0
                prev = None
                npx = iw * ih
                # decoded palette indices accumulate here; statistics run
                # once over a histogram afterwards (C-level bytes.count
                # instead of a Python loop per pixel -- measured 1.2x on
                # the sf10 ladder; the residual cost is the LZW code loop
                # itself, one Python iteration per code by construction)
                arr = bytearray()
                done = False
                while not done:
                    while nbits < width:
                        if di >= len(data):
                            return ("corrupt", w, h)
                        acc |= data[di] << nbits
                        di += 1
                        nbits += 8
                    code = acc & ((1 << width) - 1)
                    acc >>= width
                    nbits -= width
                    if code == clear:
                        table = list(dict_base) + [b"", b""]
                        width = mcs + 1
                        prev = None
                        continue
                    if code == end:
                        done = True
                        continue
                    if code < len(table) and code > end or code < clear:
                        entry = table[code]
                    elif code == len(table) and prev is not None:
                        entry = prev + prev[:1]  # KwKwK
                    else:
                        return ("corrupt", w, h)
                    arr += entry
                    if prev is not None and len(table) < 4096:
                        table.append(prev + entry[:1])
                        if len(table) == (1 << width) and width < 12:
                            width += 1
                    prev = entry
                    if len(arr) >= npx:
                        done = True
                if len(arr) < npx:
                    return ("corrupt", w, h)
                del arr[npx:]  # surplus codes: ignore like real decoders
                if interlaced and iw > 0:
                    raster = bytearray(npx)
                    for k, y in enumerate(_gif_interlace_rows(ih)):
                        raster[y * iw : (y + 1) * iw] = \
                            arr[k * iw : (k + 1) * iw]
                    arr = raster
                return ("ok", w, h, iw, ih, palette, arr)
            elif intro == 0x3B:
                break
            else:
                return ("corrupt", w, h)
        return ("corrupt", w, h)  # no image block found
    except (IndexError, EOFError):
        return ("corrupt", w, h)


def _decode_gif_one(buf: bytes):
    """(w, h, 3, [r_sum, g_sum, b_sum], px_min, px_max) or
    ('corrupt', w, h, 3) once dims are known, or None for non-GIF bytes.
    Real GIF decode over _decode_gif_arr: screen descriptor, color
    tables (local overrides global), extension skipping, full LZW
    (variable-width LSB-first codes, dictionary growth with the KwKwK
    case, clear/end codes, deferred-clear tolerance), interlace row
    re-ordering, palette mapping; never throws."""
    r = _decode_gif_arr(buf)
    if r is None:
        return None
    if r[0] == "corrupt":
        return ("corrupt", r[1], r[2], 3)
    _, w, h, _iw, _ih, palette, arr = r
    sums = [0, 0, 0]
    px_min, px_max = 255, 0
    for idx in set(arr):
        base = 3 * idx
        if base + 3 > len(palette):
            return ("corrupt", w, h, 3)
        cnt = arr.count(idx)
        rr, gg, bb = palette[base], palette[base + 1], palette[base + 2]
        sums[0] += rr * cnt
        sums[1] += gg * cnt
        sums[2] += bb * cnt
        lo = min(rr, gg, bb)
        hi = max(rr, gg, bb)
        if lo < px_min:
            px_min = lo
        if hi > px_max:
            px_max = hi
    return (w, h, 3, sums, px_min, px_max)


def _decode_gif_interlaced_one(buf: bytes):
    """(w, h, [c0, c1, c2], wpos) or ('corrupt', w, h) or None -- the
    position-sensitive GIF decode contract. Channel sums alone are
    row-permutation-invariant, so they cannot distinguish a correct
    4-pass deinterlace from ignoring the flag; wpos = sum over raster
    order of R(x, y) * (y*w + x + 1) pins every pixel to its position
    (numpy gather over the decoded index array -- no per-pixel Python
    loop). The weight grid is defined over the screen raster, so an
    image descriptor whose dims differ from the logical-screen dims
    (legal GIF, but the documented y*w+x+1 contract would not describe
    the decoded order) degrades as 'corrupt' rather than returning a
    silently re-based weighting."""
    r = _decode_gif_arr(buf)
    if r is None:
        return None
    if r[0] == "corrupt":
        return ("corrupt", r[1], r[2])
    _, w, h, iw, ih, palette, arr = r
    if iw != w or ih != h:
        return ("corrupt", w, h)
    idx = np.frombuffer(bytes(arr), dtype=np.uint8).astype(np.int64)
    pal = np.frombuffer(bytes(palette), dtype=np.uint8)
    pal = pal[: 3 * (len(pal) // 3)].reshape(-1, 3).astype(np.int64)
    if idx.size == 0 or int(idx.max()) >= pal.shape[0]:
        return ("corrupt", w, h)
    rgb = pal[idx]
    wts = np.arange(1, idx.size + 1, dtype=np.int64)
    return (
        w,
        h,
        [int(rgb[:, 0].sum()), int(rgb[:, 1].sum()), int(rgb[:, 2].sum())],
        int((rgb[:, 0] * wts).sum()),
    )


# ---------------------------------------------------------------------------
# IMA ADPCM audio decode (VERDICT r13 #6) -- COMPRESSED audio is no longer
# uniformly out of scope: IMA/DVI ADPCM (WAV format code 0x11) is an
# integer-only predictive codec, fully decodable with `struct` arithmetic.
# With this, the C7 audio boundary restates as PERCEPTUAL codecs (MP3/AAC)
# only. The fixture encodes a closed-form NIBBLE stream, so the decoded
# samples are a deterministic predictor walk the oracle replays with a
# recursive CTE -- the decode_pixels discipline, applied to a stateful
# codec.

_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]

ADPCM_SCHEMA = (
    "media_id bigint, status string, sample_rate int, n_frames bigint, "
    "c0_sum bigint, amp_min int, amp_max int, duration_ms bigint"
)


def _adpcm_nibble(doc_id: int, i: int) -> int:
    """Closed-form encoded nibble for sample i (i >= 1; sample 0 is the
    block-header predictor): (doc_id + 3*i) % 16 -- covers all 16 codes,
    including the sign bit and every index adjustment."""
    return (doc_id + 3 * i) % 16


def _ima_step(pred: int, idx: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (new_predictor, new_index). The exact
    integer recurrence (step>>3 base magnitude + optional step>>2/step>>1/
    step terms, sign bit 8, predictor clamped to int16, index clamped to
    the 89-entry table) -- the same arithmetic the oracle's recursive CTE
    replays."""
    step = _IMA_STEP_TABLE[idx]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX_TABLE[nibble & 7]))
    return pred, idx


def _adpcm_full_bytes(doc_id: int) -> bytes:
    """A complete RIFF/WAVE file carrying IMA ADPCM (format code 0x11,
    mono, 4-bit): fmt with block_align sized to one block, a spec-required
    'fact' chunk declaring the true sample count, and a data chunk holding
    one block -- 4-byte header (initial predictor int16 = doc_id % 1001 -
    500, step index = doc_id % 89) followed by the closed-form nibble
    stream packed low-nibble-first. n_frames = doc_id % 40 + 8.
    doc_id % 107 == 0 files lose their last 5 bytes: the data chunk's
    declared size then exceeds the available bytes and the decoder must
    degrade with the fmt header kept."""
    import struct

    rate = 8000 * (doc_id % 3 + 1)
    n_frames = doc_id % 40 + 8
    p0 = doc_id % 1001 - 500
    s0 = doc_id % 89
    nibbles = [_adpcm_nibble(doc_id, i) for i in range(1, n_frames)]
    if len(nibbles) & 1:
        nibbles.append(0)  # pad nibble beyond the declared sample count
    payload = bytes(
        nibbles[k] | (nibbles[k + 1] << 4) for k in range(0, len(nibbles), 2)
    )
    block = struct.pack("<hBB", p0, s0, 0) + payload
    block_align = len(block)
    samples_per_block = (block_align - 4) * 2 + 1
    fmt = struct.pack(
        "<HHIIHH H H", 0x11, 1, rate, rate * block_align
        // samples_per_block, block_align, 4, 2, samples_per_block
    )
    chunks = (
        b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"fact" + (4).to_bytes(4, "little")
        + n_frames.to_bytes(4, "little")
        + b"data" + len(block).to_bytes(4, "little") + block
        + (b"\x00" if len(block) & 1 else b"")
    )
    buf = b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks
    if doc_id % 107 == 0:
        buf = buf[:-5]
    return buf


def _decode_adpcm_one(buf: bytes):
    """(rate, n_frames, sum, amp_min, amp_max) or ('corrupt', rate) when
    the fmt header is readable but the data/fact layer is truncated or
    unsupported, or None for non-WAV bytes. Real IMA ADPCM block decode:
    header predictor is sample 0, each low-first nibble advances the
    predictor walk. Never throws."""
    import struct

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    pos = 12
    rate = nch = block_align = fmt_code = None
    total = None
    data = None
    truncated = False
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if tag == b"fmt " and len(body) >= 16:
            fmt_code, nch, rate = struct.unpack("<HHI", body[:8])
            block_align = struct.unpack("<H", body[12:14])[0]
        elif tag == b"fact" and len(body) >= 4:
            total = int.from_bytes(body[:4], "little")
        elif tag == b"data":
            if len(body) < size:
                truncated = True
            data = body
        pos += 8 + size + (size & 1)
    if rate is None or nch is None:
        return None
    if (
        fmt_code != 0x11 or nch != 1 or data is None or truncated
        or total is None or block_align is None or block_align < 5
    ):
        return ("corrupt", rate) if rate else None
    out_sum = 0
    amp_min, amp_max = 32767, -32768
    decoded = 0
    dpos = 0
    while decoded < total:
        if dpos + 4 > len(data):
            return ("corrupt", rate)
        pred = struct.unpack("<h", data[dpos : dpos + 2])[0]
        idx = data[dpos + 2]
        if idx > 88:
            return ("corrupt", rate)
        out_sum += pred
        amp_min, amp_max = min(amp_min, pred), max(amp_max, pred)
        decoded += 1
        k = 0
        nmax = (min(dpos + block_align, len(data)) - dpos - 4) * 2
        while decoded < total and k < nmax:
            byte = data[dpos + 4 + (k >> 1)]
            nibble = (byte >> 4) if k & 1 else (byte & 15)
            pred, idx = _ima_step(pred, idx, nibble)
            out_sum += pred
            amp_min, amp_max = min(amp_min, pred), max(amp_max, pred)
            decoded += 1
            k += 1
        if decoded < total and k >= nmax and dpos + block_align > len(data):
            return ("corrupt", rate)
        dpos += block_align
    return (rate, total, out_sum, amp_min, amp_max)


# ---------------------------------------------------------------------------
# Real (pure-stdlib) AVI video CONTAINER decoding -- r13 continuation of the
# decode ladder: AVI is RIFF (like WAV), so the container layer -- main
# header, stream declarations, frame chunks -- parses with `struct` alone.
# With this, C7's video boundary narrows from "video" to "the codec payload
# inside each frame chunk": dimensions, frame rate, frame count, and the
# frame-size index all decode for real.

VIDEO_SCHEMA = (
    "media_id bigint, status string, width int, height int, "
    "us_per_frame bigint, total_frames bigint, n_streams int, "
    "frames_found bigint, movi_bytes bigint, duration_ms bigint"
)


def _avi_frame_size(doc_id: int, f: int) -> int:
    """Closed-form fake-codec payload size for frame f: the container
    layer is real; the payload bytes are the documented codec boundary."""
    return (doc_id + 11 * f) % 64 + 1


def _avi_full_bytes(doc_id: int) -> bytes:
    """A complete RIFF/AVI container: LIST hdrl with a spec-shaped 56-byte
    avih main header, LIST movi with one '00dc' chunk per frame
    (word-aligned, payload sizes a closed form of (doc_id, frame)).
    doc_id % 103 == 0 files lose their last 7 bytes: the final frame
    chunk's declared size exceeds the available bytes and the parser must
    degrade with the header fields kept."""
    import struct

    fps = 10 + (doc_id % 5) * 5
    uspf = 1_000_000 // fps
    total = doc_id % 40 + 5
    w, h = 16 * (doc_id % 20 + 1), 16 * (doc_id % 15 + 1)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return tag + len(payload).to_bytes(4, "little") + payload + pad

    avih = struct.pack(
        "<10I", uspf, 0, 0, 0x10, total, 0, 1, 0, w, h
    ) + b"\x00" * 16
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    frames = b"".join(
        chunk(b"00dc", bytes((doc_id + f + k) % 256
                             for k in range(_avi_frame_size(doc_id, f))))
        for f in range(total)
    )
    movi = chunk(b"LIST", b"movi" + frames)
    body = b"AVI " + hdrl + movi
    buf = b"RIFF" + len(body).to_bytes(4, "little") + body
    if doc_id % 103 == 0:
        buf = buf[:-7]
    return buf


def _decode_avi_one(buf: bytes):
    """(w, h, uspf, total, streams, frames_found, movi_bytes) or
    ('corrupt', w, h, uspf, total, streams) when the header parses but
    the movi section is truncated/short, or None for non-AVI bytes.
    Real RIFF walk with LIST recursion; never throws."""
    import struct

    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        return None
    hdr = None
    frames_found = 0
    movi_bytes = 0
    truncated = False
    pos = 12
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) < size:
            truncated = True
        if tag == b"LIST" and body[:4] == b"hdrl":
            j = 4
            while j + 8 <= len(body):
                ctag = body[j : j + 4]
                csize = int.from_bytes(body[j + 4 : j + 8], "little")
                cbody = body[j + 8 : j + 8 + csize]
                if ctag == b"avih" and len(cbody) >= 40:
                    f = struct.unpack("<10I", cbody[:40])
                    hdr = (f[8], f[9], f[0], f[4], f[6])  # w h uspf total ns
                j += 8 + csize + (csize & 1)
        elif tag == b"LIST" and body[:4] == b"movi":
            j = 4
            while j + 8 <= len(body):
                ctag = body[j : j + 4]
                csize = int.from_bytes(body[j + 4 : j + 8], "little")
                if j + 8 + csize > len(body):
                    truncated = True
                    break
                if ctag[2:4] in (b"dc", b"db", b"wb"):
                    frames_found += 1
                    movi_bytes += csize
                j += 8 + csize + (csize & 1)
        pos += 8 + size + (size & 1)
    if hdr is None:
        return None
    w, h, uspf, total, ns = hdr
    if truncated or frames_found < total:
        return ("corrupt", w, h, uspf, total, ns)
    return (w, h, uspf, total, ns, frames_found, movi_bytes)


# ---------------------------------------------------------------------------
# MJPEG: real video FRAME pixel decode (VERDICT r13 #2) -- the oldest
# real-world AVI codec stores each frame as a complete baseline JPEG, so the
# container walk (above) composed with the _FastBits JPEG reader decodes
# actual video frame PIXELS with zero new codec code. C7's video boundary
# restates as NON-MJPEG codecs only.

MJPEG_SCHEMA = (
    "media_id bigint, frame int, status string, width int, height int, "
    "c0_sum bigint, px_min int, px_max int"
)


def _mjpeg_full_bytes(doc_id: int) -> bytes:
    """A complete RIFF/AVI whose '00dc' frame payloads are REAL baseline
    grayscale JPEGs: frame f of document d is _jpeg_full_bytes(d + 131*f),
    so every frame's pixel statistics stay a closed form of (d, f) and the
    per-frame corruption predicate is inherited ((d + 131*f) % 89 == 0
    truncates THAT frame's entropy segment -- frame-level degradation
    inside a valid container). total = d % 6 + 2 frames; avih carries the
    FIRST frame's dims (the fixture lets dims vary per frame -- a
    deliberate simplification so the existing JPEG closed form is reused
    verbatim; real MJPEG fixes dims per stream). d % 103 == 0 files lose
    their last 7 bytes: the final frame chunk overruns and the parser
    must emit the intact leading frames plus a container-truncation
    marker row."""
    import struct

    fps = 10 + (doc_id % 5) * 5
    uspf = 1_000_000 // fps
    total = doc_id % 6 + 2
    payloads = [_jpeg_full_bytes(doc_id + 131 * f) for f in range(total)]
    w0 = 8 * ((doc_id) % 4 + 1)
    h0 = 8 * ((doc_id) % 3 + 1)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return tag + len(payload).to_bytes(4, "little") + payload + pad

    avih = struct.pack(
        "<10I", uspf, 0, 0, 0x10, total, 0, 1, 0, w0, h0
    ) + b"\x00" * 16
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    frames = b"".join(chunk(b"00dc", p) for p in payloads)
    movi = chunk(b"LIST", b"movi" + frames)
    riff_body = b"AVI " + hdrl + movi
    buf = b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body
    if doc_id % 103 == 0:
        buf = buf[:-7]
    return buf


def _mjpeg_frames_one(buf: bytes):
    """(frame_payloads, container_truncated) or None for non-AVI bytes.
    Walks the RIFF tree collecting COMPLETE '00dc' payloads; a chunk whose
    declared size overruns the available bytes stops the walk with
    truncated=True (the intact leading frames are still returned -- the
    per-row degradation contract, at frame granularity). Never throws."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        return None
    frames: list[bytes] = []
    truncated = False
    pos = 12
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) < size:
            truncated = True
        if tag == b"LIST" and body[:4] == b"movi":
            j = 4
            while j + 8 <= len(body):
                ctag = body[j : j + 4]
                csize = int.from_bytes(body[j + 4 : j + 8], "little")
                if j + 8 + csize > len(body):
                    truncated = True
                    break
                if ctag[2:4] == b"dc":
                    frames.append(body[j + 8 : j + 8 + csize])
                j += 8 + csize + (csize & 1)
        pos += 8 + size + (size & 1)
    return frames, truncated


# ---------------------------------------------------------------------------
# The two seams. Every fixture runs through synth_media and every decoder
# through decode_media; a codec differs from the next only in its row
# function and output schema, declared together in CODECS.


def synth_media(docs: DataFrame, bytes_fn) -> DataFrame:
    """Deterministic (media_id, content) fixture over documents: each
    doc_id becomes `bytes_fn(doc_id)`. The byte assembly runs in the same
    Arrow-batched seam a real ingest's format conversion would, spread
    over the cores (see _spread)."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {"media_id": ids, "content": [bytes_fn(int(i)) for i in ids]}
            )

    return _spread(docs.select("doc_id")).mapInPandas(
        _synth, schema="media_id bigint, content binary"
    )


def _status_row(mid: int, r, n_cols: int, ok) -> tuple:
    """The shared per-row degradation rule for (media_id, status, ...)
    schemas: a `_decode_*_one` result of None is (mid, 'unknown', NULL...);
    ('corrupt', *hdr) keeps the parsed header fields and NULLs the rest;
    anything else is (mid, 'ok', *ok(r))."""
    if r is None:
        return (mid, "unknown") + (None,) * (n_cols - 2)
    if r[0] == "corrupt":
        return (mid, "corrupt", *r[1:]) + (None,) * (n_cols - 1 - len(r))
    return (mid, "ok", *ok(r))


def _status_codec(schema: str, decode_one, ok):
    """(schema, row function) for a decoder that emits one status row per
    payload."""
    n_cols = len(schema.split(","))

    def rows(mid: int, buf: bytes) -> list[tuple]:
        return [_status_row(mid, decode_one(buf), n_cols, ok)]

    return schema, rows


def _pixel_ok(r) -> tuple:
    w, h, ch, sums, mn, mx = r
    s = (sums + [None] * 3)[:3]
    return (w, h, ch, *s, mn, mx)


def _pos_pixel_ok(r) -> tuple:
    w, h, sums, wpos = r
    return (w, h, *sums, wpos)


def _wav_ok(r) -> tuple:
    rate, nch, n_frames, sums, mn, mx, _samples = r
    s = (sums + [None, None])[:2]
    return (rate, nch, n_frames, *s, mn, mx, n_frames * 1000 // rate)


def _adpcm_ok(r) -> tuple:
    rate, total, s, mn, mx = r
    return (rate, total, s, mn, mx, total * 1000 // rate)


def _avi_ok(r) -> tuple:
    w, h, uspf, total, ns, found, mb = r
    return (w, h, uspf, total, ns, found, mb, total * uspf // 1000)


def _image_dims_rows(mid: int, buf: bytes) -> list[tuple]:
    """Width/height/channels from a PNG IHDR or a JPEG SOFn marker scan;
    unparseable payloads are format 'unknown' with NULL dims."""
    for fmt, parse in (("png", _parse_png), ("jpeg", _parse_jpeg)):
        parsed = parse(buf)
        if parsed is not None:
            return [(mid, fmt, *parsed)]
    return [(mid, "unknown", None, None, None)]


def _wav_window_rows(mid: int, buf: bytes) -> list[tuple]:
    """One row per _AUDIO_WINDOW-frame window of channel 0 of a valid WAV:
    frame count, integer energy (sum |sample| -- the VAD/silence-trim
    signal) and zero-crossing count (the voiced/unvoiced discriminator).
    Corrupt or non-WAV payloads contribute no rows (the 'wav' codec owns
    their degradation). The samples come from the SAME chunk walk that
    accepted the row: a second, divergent walk is how a WAV that decode
    accepts could throw and kill the task."""
    r = _decode_wav_one(buf)
    if r is None or r[0] == "corrupt":
        return []
    _rate, nch, n_frames, _sums, _mn, _mx, samples = r
    ch0 = samples[::nch]
    rows = []
    for w0 in range(0, n_frames, _AUDIO_WINDOW):
        seg = ch0[w0 : w0 + _AUDIO_WINDOW]
        zc = sum(1 for a, b in zip(seg, seg[1:]) if (a >= 0) != (b >= 0))
        rows.append(
            (mid, w0 // _AUDIO_WINDOW, len(seg), sum(abs(v) for v in seg), zc)
        )
    return rows


def _mjpeg_rows(mid: int, buf: bytes) -> list[tuple]:
    """One row per '00dc' frame, its pixels decoded by the baseline-JPEG
    reader. Degradation composes across both layers: a corrupt frame keeps
    its header dims with status='corrupt' (other frames unaffected); a
    truncated container emits its intact leading frames plus one
    frame=NULL status='container_truncated' row; non-AVI bytes emit one
    frame=NULL status='unknown' row."""
    r = _mjpeg_frames_one(buf)
    if r is None:
        return [(mid, None, "unknown") + (None,) * 5]
    payloads, truncated = r
    rows = []
    for f, payload in enumerate(payloads):
        jr = _decode_jpeg_pixels_one(payload)
        if jr is None:
            rows.append((mid, f, "unknown") + (None,) * 5)
        elif jr[0] == "corrupt":
            rows.append((mid, f, "corrupt", jr[1], jr[2], None, None, None))
        else:
            w, h, _ch, sums, mn, mx = jr
            rows.append((mid, f, "ok", w, h, sums[0], mn, mx))
    if truncated:
        rows.append((mid, None, "container_truncated") + (None,) * 5)
    return rows


# codec name -> (DDL output schema, (media_id, bytes) -> list[tuple]).
# The pixel codecs emit per-channel sums (NULL past the image's channel
# count) and global extrema; the *_interlaced ones add the raster-position
# weighted channel-0 sum that pins every deinterlace pass's placement.
CODECS = {
    "image_dims": (DIMS_SCHEMA, _image_dims_rows),
    "png": _status_codec(PIXEL_SCHEMA, _decode_png_pixels_one, _pixel_ok),
    "png_interlaced": _status_codec(
        POS_PIXEL_SCHEMA, _decode_png_interlaced_one, _pos_pixel_ok
    ),
    "jpeg": _status_codec(PIXEL_SCHEMA, _decode_jpeg_pixels_one, _pixel_ok),
    "gif": _status_codec(PIXEL_SCHEMA, _decode_gif_one, _pixel_ok),
    "gif_interlaced": _status_codec(
        POS_PIXEL_SCHEMA, _decode_gif_interlaced_one, _pos_pixel_ok
    ),
    "wav": _status_codec(AUDIO_SCHEMA, _decode_wav_one, _wav_ok),
    "wav_windows": (AUDIO_WINDOW_SCHEMA, _wav_window_rows),
    "adpcm": _status_codec(ADPCM_SCHEMA, _decode_adpcm_one, _adpcm_ok),
    "avi": _status_codec(VIDEO_SCHEMA, _decode_avi_one, _avi_ok),
    "mjpeg": (MJPEG_SCHEMA, _mjpeg_rows),
}

_NULLABLE_DTYPE = {"int": "Int32", "bigint": "Int64"}


def decode_media(media: DataFrame, codec: str) -> DataFrame:
    """Decode (media_id, content) through CODECS[codec] over the
    Arrow-batched mapInPandas seam. A NULL content cell decodes as b""
    (so it degrades like any unparseable payload, never a TypeError); the
    row function may emit 0..n rows per payload. Column names and nullable
    dtypes come from the codec's schema; media_id stays uncast."""
    schema, rows_fn = CODECS[codec]
    fields = [c.split() for c in schema.split(",")]
    columns = [name for name, _typ in fields]
    dtypes = {
        name: _NULLABLE_DTYPE[typ]
        for name, typ in fields[1:]
        if typ in _NULLABLE_DTYPE
    }

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["content"]):
                b = bytes(buf) if buf is not None else b""
                rows.extend(rows_fn(int(mid), b))
            yield pd.DataFrame(rows, columns=columns).astype(dtypes)

    return media.mapInPandas(_decode, schema=schema)
